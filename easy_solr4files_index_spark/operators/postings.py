"""Physical index: term-partitioned, block-compressed posting lists with
block-max metadata, checkpoint-resumable build with per-partition lineage
and metrics (BASELINE.json north_rule).

Layout under ``<index_dir>/``:

  docs_store/            parquet — doc_id, repo, path, commit, lang, sha256,
                                   dl, tokens (build/maintenance input;
                                   query reads column-prune it away)
  postings/tbucket=T/    parquet — term, bucket, n, doc_ids, tfs, dls, max_tfnorm
  termstats/             parquet — term, df, tbucket
  globals.json           N, avgdl, config, fingerprint
  _lineage/              parquet — stage, partition_id, input_fingerprint,
                                   status, started_at, finished_at
  _metrics/              parquet — partition_id, rows_indexed, terms,
                                   postings_bytes, skew_factor

Physical design (why it scales):

* A posting block row = one (term, bucket) where bucket = doc_id //
  bucket_span. Buckets are doc_id RANGES, so blocks are globally
  docID-sorted by construction — no per-term global sort — and a hot
  term's postings spread across ~N/span blocks handled by different
  reducers: the bucket IS the salt (explicit skew handling; the group
  size is bounded by span regardless of df).
* Blocks carry max_tfnorm = max over the block of the idf-free BM25
  factor tf·(k1+1)/(tf+k1·(1−b+b·dl/avgdl)); query-time upper bound for
  a block is idf·max_tfnorm — the block-max pruning key of a
  time-budgeted wand.search.
* ``tbucket = pmod(xxhash64(term), T)`` is the partition directory —
  term lookups prune to 1 directory per query term (partition pruning
  visible in the scan's PushedFilters).
* doc lengths are denormalized into the block (vbyte), so scoring a
  block is self-contained — no join against a doclen table at query
  time (Lucene keeps norms per segment for the same reason).
* Encoding runs inside ``applyInPandas`` keyed by (tbucket, bucket) —
  a few thousand Arrow groups, each vector-encoding many terms, not one
  Python call per term.

Lineage/resume: postings are written in ``lineage_groups`` independent
jobs (a contiguous range of tbuckets each) with dynamic partition
overwrite; a killed build re-runs only groups without a ``done`` row
whose fingerprint matches (reference analog: takeUntilFailure +
commitAnyway keep completed work, package.scala:85-105,
EasySolr4filesIndexApp.scala:54-78).
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .docids import assign_doc_ids
from .index_build import IndexConfig, enrich_docs

POSTINGS_SCHEMA = ("term string, bucket long, n int, doc_ids binary, tfs binary, "
                   "dls binary, max_tfnorm double, tbucket int")


def _tbucket(col, buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(buckets)).cast("int")


POSITIONS_SCHEMA = ("term string, doc_id long, dl long, tf long, "
                    "positions array<int>")


def _positions_kernel(batches):
    """(doc_id, dl, tokens) Arrow batches → (term, doc_id, dl, tf,
    positions) rows, entirely MAP-SIDE: the per-doc term→positions
    grouping never shuffles one-row-per-token data (the posexplode +
    collect_list formulation of the same aggregate did, and was the
    dominant build stage: 209s of a 245s 200k-doc build at 8 cores).

    Everything stays in Arrow/numpy native code — no per-row Python
    objects at any point:
      * flatten + per-row lengths: pyarrow list_flatten/list_value_length
        (C, handles null token lists)
      * term → code: pyarrow dictionary_encode (C-speed factorize)
      * grouping: ONE stable radix argsort on the composite int64 key
        doc·n_codes+code — positions are already ascending per doc in
        input order, so stability alone keeps each group's positions
        sorted (replaces a 3-key lexsort; 12× less kernel CPU measured
        at 200k docs, where the pandas/object formulation burned 357s of
        Python CPU and capped build scaling at ~1.9× for 2→8 cores)
      * output: the positions list column is built directly from
        (values, offsets) — no np.split, no object column
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        cols = {name: b.column(i) for i, name in enumerate(b.schema.names)}
        la = cols["tokens"]
        counts = pc.list_value_length(la).fill_null(0).to_numpy(
            zero_copy_only=False).astype(np.int64)
        total = int(counts.sum())
        if total == 0:
            continue
        denc = pc.dictionary_encode(pc.list_flatten(la))
        codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        n_codes = len(denc.dictionary)
        doc_idx = np.repeat(np.arange(len(b), dtype=np.int64), counts)
        starts = np.cumsum(counts) - counts
        pos = (np.arange(total) - np.repeat(starts, counts)).astype(np.int32)
        key = doc_idx * n_codes + codes
        order = np.argsort(key, kind="stable")
        k_s = key[order]
        change = np.flatnonzero(np.concatenate(([True], k_s[1:] != k_s[:-1])))
        bounds = np.append(change, total)
        first = order[change]
        doc_np = cols["doc_id"].to_numpy(zero_copy_only=False)
        dl_np = cols["dl"].to_numpy(zero_copy_only=False)
        yield pa.RecordBatch.from_arrays([
            pc.take(denc.dictionary, pa.array(codes[first])),
            pa.array(doc_np[doc_idx[first]]),
            pa.array(dl_np[doc_idx[first]]),
            pa.array((bounds[1:] - bounds[:-1]).astype(np.int64)),
            pa.ListArray.from_arrays(pa.array(bounds.astype(np.int32)),
                                     pa.array(pos[order])),
        ], names=["term", "doc_id", "dl", "tf", "positions"])


def positions_rows(enriched: DataFrame, term_buckets: int) -> DataFrame:
    """The positions dataset plan: map-side Arrow kernel + JVM-side
    tbucket column (xxhash64 stays in Catalyst; no Python hashing)."""
    return (enriched.select("doc_id", "dl", "tokens")
            .mapInArrow(_positions_kernel, POSITIONS_SCHEMA)
            .withColumn("tbucket", _tbucket(F.col("term"), term_buckets)))


# directories compact_index swaps per generation; _lineage/_metrics are
# append-only logs shared across generations
GEN_SWAPPED = ("postings", "termstats", "docs_store", "positions",
               "_tombstones", "_termstats_delta")


def gen_name(name: str, generation: int) -> str:
    """Generation-suffixed directory name. A fresh build is generation 0
    (plain names, backward compatible); each compact_index bumps the
    generation and writes NEW directories, committing the swap by
    atomically rewriting globals.json — a crash mid-compact leaves the old
    generation fully intact and still pointed-to (S11 commit semantics)."""
    if generation == 0 or name not in GEN_SWAPPED:
        return name
    return f"{name}.g{generation}"


# docID-density tripwire modulus: sum(doc_id % M) over a dense series
# 0..n-1 stays <= n*M ~ 1e18 at n=1e12 — inside int64 up to n ~ 8.8e12 —
# unlike the exact sum n(n-1)/2, which overflows int64 past n ~ 4.3e9
# (ANSI mode would throw mid-write; legacy mode would wrap and a CORRECT
# build could never match Python's arbitrary-precision expectation).
_DENSITY_MOD = 1 << 20


def _dense_expected(n: int) -> tuple[int, int]:
    """(sum(i % _DENSITY_MOD), xor(i)) for the dense series i = 0..n-1,
    in closed form. xor(0..m) is the classic period-4 identity."""
    q, r = divmod(n, _DENSITY_MOD)
    summod = q * (_DENSITY_MOD * (_DENSITY_MOD - 1) // 2) + r * (r - 1) // 2
    m = n - 1
    xor = (m, 1, m + 1, 0)[m % 4] if n else 0
    return summod, xor


def _assert_dense(n: int, mn, mx, summod, xr, label: str,
                  offset: int = 0) -> None:
    """Raise unless (min, max, sum(id % _DENSITY_MOD), xor(id)) of n ids,
    taken relative to ``offset``, are those of the dense series 0..n-1
    (the overflow-free closed forms of _dense_expected — the exact sum
    n(n-1)/2 overflows int64 past ~4.3e9 docs). An empty set is dense."""
    if not n:
        return
    exp_summod, exp_xor = _dense_expected(n)
    if (int(mn) != 0 or int(mx) != n - 1
            or int(summod) != exp_summod or int(xr) != exp_xor):
        raise RuntimeError(
            f"docID assignment produced a non-dense id space in {label} "
            f"(n={n}, min={mn}, max={mx}, offset={offset}): "
            "the input plan re-executed non-deterministically between the "
            "rank passes — materialize the input (checkpoint/write) and retry")


def check_dense_ids(df: DataFrame, offset: int = 0, label: str = "build",
                    with_stats: bool = False,
                    repos: list[str] | None = None) -> dict | None:
    """Assert df.doc_id is exactly the dense series offset..offset+n-1.

    Guards assign_doc_ids' two-pass determinism precondition: a
    duplicated/skipped rank from a non-deterministically re-executed
    input plan fails loudly instead of corrupting the index. Used by the
    append path BEFORE any file lands (the df is the persisted segment,
    so this action doubles as cache population the write needs anyway);
    write_index's fresh-build twin rides the docs_store write as an
    Observation with the same aggregates. ``repos`` (with_stats only)
    adds ``outside_repos`` to the stats: the rows whose repo is not in
    that list."""
    cols = [(F.col("doc_id") - F.lit(int(offset))).cast("long").alias("d")]
    aggs = [F.count(F.lit(1)).alias("n"), F.min("d").alias("mn"),
            F.max("d").alias("mx"),
            F.sum(F.col("d") % _DENSITY_MOD).alias("summod"),
            F.expr("bit_xor(d)").alias("xr")]
    if with_stats:
        # segment stats ride the SAME check job (the append path needs
        # them for exact avgdl), so the docs_store write needs no
        # Observation and can run in a later parallel phase
        cols += [F.col("dl"), F.col("meta_only")]
        aggs += [F.sum("dl").alias("dls"),
                 F.sum(F.col("meta_only").cast("long")).alias("deg")]
        if repos is not None:
            cols.append(F.col("repo").isin(list(repos)).alias("in_repos"))
            aggs.append(F.count_if(~F.coalesce("in_repos", F.lit(False)))
                        .alias("outside"))
    row = df.select(*cols).agg(*aggs).collect()[0]
    n = int(row["n"] or 0)
    stats = ({"n": n, "dl_sum": int(row["dls"] or 0),
              "degraded": int(row["deg"] or 0)} if with_stats else None)
    if with_stats and repos is not None:
        stats["outside_repos"] = int(row["outside"] or 0)
    _assert_dense(n, row["mn"], row["mx"], row["summod"], row["xr"], label,
                  offset)
    return stats


def _fingerprint(docs_with_ids: DataFrame) -> str:
    row = docs_with_ids.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(repo, path, commit))").alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def _make_encoder(k1: float, b: float, avgdl: float):
    avgdl = avgdl if avgdl > 0 else 1.0

    def encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        """Encode every term's posting block in one (tbucket, bucket)
        group with THREE vectorized varbyte passes total (ids/tfs/dls
        over the whole group, codec.encode_blocks) — the per-term Python
        work is three slices, which is what lets a Zipf vocabulary (many
        tiny terms) encode at numpy speed instead of numpy-call-overhead
        speed."""
        from ..functions.codec import encode_blocks

        pdf = pdf.sort_values(["term", "doc_id"], kind="stable")
        ids = pdf["doc_id"].to_numpy(np.int64)
        tfs = pdf["tf"].to_numpy(np.int64)
        dls = pdf["dl"].to_numpy(np.int64)
        tfnorm = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
        terms = pdf["term"].to_numpy(object)
        # per-term block starts
        change = np.flatnonzero(np.concatenate(([True], terms[1:] != terms[:-1])))
        e_ids, e_tfs, e_dls = encode_blocks(change, ids, tfs, dls)
        maxes = np.maximum.reduceat(tfnorm, change)
        return pd.DataFrame({
            "term": terms[change], "bucket": int(pdf["bucket"].iloc[0]),
            "n": np.diff(np.append(change, ids.size)).astype(np.int32),
            "doc_ids": e_ids, "tfs": e_tfs, "dls": e_dls, "max_tfnorm": maxes,
            "tbucket": int(pdf["tbucket"].iloc[0])})

    return encode_group


def postings_blocks(tf: DataFrame, avgdl: float, config: IndexConfig) -> DataFrame:
    tfb = (
        tf.withColumn("bucket", (F.col("doc_id") / config.bucket_span).cast("long"))
        .withColumn("tbucket", _tbucket(F.col("term"), config.term_buckets))
    )
    return tfb.groupBy("tbucket", "bucket").applyInPandas(
        _make_encoder(config.k1, config.b, avgdl), POSTINGS_SCHEMA)


# ------------------------------------------------------------------ lineage

def _lineage_path(index_dir: str) -> str:
    return os.path.join(index_dir, "_lineage")


def pa_append_table(table, dir_path: str) -> None:
    """Append one small parquet file to a dataset directory, driver-side.
    Paths with a URI scheme (hdfs://, s3://...) go through
    pyarrow.fs.FileSystem.from_uri so maintenance sidecars work on shared
    filesystems, not just posix (globals.json still requires a
    posix-visible index_dir — documented in the module header)."""
    import uuid

    import pyarrow.parquet as pq

    fname = f"part-{uuid.uuid4().hex}.parquet"
    if "://" in dir_path:
        import pyarrow.fs as pafs

        fs, p = pafs.FileSystem.from_uri(dir_path)
        fs.create_dir(p, recursive=True)
        pq.write_table(table, f"{p}/{fname}", filesystem=fs)
    else:
        os.makedirs(dir_path, exist_ok=True)
        pq.write_table(table, os.path.join(dir_path, fname))


def _append_lineage(spark: SparkSession, index_dir: str, stage: str, partition_id: int,
                    fingerprint: str, status: str, started_at: float) -> None:
    """One-row append, written directly with pyarrow: a Spark job per
    lineage row (createDataFrame + coalesce(1) + write) costs a full
    scheduler round-trip of pure serial time per stage; the directory
    stays an ordinary parquet dataset Spark reads back for resume."""
    import pyarrow as pa

    table = pa.table({
        "stage": pa.array([stage], pa.string()),
        "partition_id": pa.array([partition_id], pa.int32()),
        "input_fingerprint": pa.array([fingerprint], pa.string()),
        "status": pa.array([status], pa.string()),
        "started_at": pa.array([float(started_at)], pa.float64()),
        "finished_at": pa.array([time.time()], pa.float64()),
    })
    pa_append_table(table, _lineage_path(index_dir))


def _done_set(spark: SparkSession, index_dir: str, fingerprint: str) -> set[tuple[str, int]]:
    path = _lineage_path(index_dir)
    try:
        rows = (spark.read.parquet(path)
                .filter((F.col("status") == "done") &
                        (F.col("input_fingerprint") == fingerprint))
                .select("stage", "partition_id").collect())
    except Exception:
        return set()
    return {(r["stage"], r["partition_id"]) for r in rows}


# ------------------------------------------------------------------- build

@dataclass
class BuildReport:
    index_dir: str
    fingerprint: str
    n_docs: int
    avgdl: float
    stages_run: list[str]
    stages_skipped: list[str]
    # E2: docs indexed metadata-only because their content contributed no
    # searchable text (the reference's per-file extraction fallback count,
    # package.scala:110-118)
    degraded_docs: int = 0
    # wall-clock per build stage (docids/fingerprint/docs_store/positions/
    # postings/termstats) — the scaling harness attributes the N-vs-4N
    # efficiency gap stage-by-stage from these
    stage_sec: dict = field(default_factory=dict)


def write_index(spark: SparkSession, docs: DataFrame, index_dir: str,
                config: IndexConfig | None = None, lineage_groups: int = 4,
                fail_after_group: int | None = None) -> BuildReport:
    """Build the physical index at ``index_dir``; resumable. ``fail_after_group``
    injects a crash after that many postings groups (kill/resume tests)."""
    _t_start = time.perf_counter()
    _marks: list[tuple[str, float]] = []

    def _mark(label: str) -> None:
        # cumulative marks; collapsed to per-stage deltas on the report
        # (BuildReport.stage_sec) so the scaling harness can attribute
        # the N-vs-4N gap stage-by-stage instead of arguing from totals
        _marks.append((label, time.perf_counter() - _t_start))

    config = config or IndexConfig()
    os.makedirs(index_dir, exist_ok=True)
    run, skipped = [], []

    from pyspark.sql import Observation

    with_ids = assign_doc_ids(docs)
    _mark("doc_ids assigned")
    resuming = os.path.exists(_lineage_path(index_dir))
    # fresh build: fingerprint + global stats ride the docs_store write as
    # an Observation — no separate scan jobs. Resume: the fingerprint must
    # be known BEFORE deciding what to skip, so pay the upfront scan.
    fingerprint = _fingerprint(with_ids) if resuming else None
    _mark("fingerprint/resume-chk")
    done = _done_set(spark, index_dir, fingerprint) if resuming else set()

    # one pass over content (sha256 + tokenize + dl, no join) — see
    # index_build.enrich_docs; cached so docs_store and tf share it
    # tokens are written INTO docs_store (one extra parquet column) and
    # the positions/tf pass re-reads them column-pruned, instead of
    # holding a .persist() of the tokenized corpus: the columnar cache
    # population measured as a ~14s NON-scaling constant at 500k docs
    # (same cost at local[2] and local[8] — an Amdahl term that capped
    # build scaling at ~0.72), while the parquet write rides the
    # docs_store job we already pay and scales with it. Query paths
    # never read the column (every consumer projects explicit columns,
    # and PhysicalIndex.docs_store drops it), and resume/compact get the
    # token stream back without re-tokenizing.
    enriched = enrich_docs(with_ids, config)
    docs_store = enriched

    t0 = time.time()
    n_docs = avgdl = None
    dl_sum = None
    if ("docs_store", 0) in done:
        skipped.append("docs_store")
    else:
        obs = Observation("build_stats")
        observed = docs_store.observe(
            obs, F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"),
            F.sum("dl").alias("dl_sum"),
            F.sum(F.col("meta_only").cast("long")).alias("degraded"),
            F.expr("bit_xor(xxhash64(repo, path, commit))").alias("h"),
            F.sum(F.col("doc_id") % _DENSITY_MOD).alias("id_summod"),
            F.expr("bit_xor(doc_id)").alias("id_xor"),
            F.min("doc_id").alias("id_min"), F.max("doc_id").alias("id_max"))
        observed.write.mode("overwrite").parquet(os.path.join(index_dir, "docs_store"))
        stats = obs.get
        n_docs, avgdl = stats["n"] or 0, float(stats["avgdl"] or 0.0)
        dl_sum = int(stats["dl_sum"] or 0)
        degraded = int(stats["degraded"] or 0)
        # docID-density tripwire (rides the write job — zero extra scans).
        # Guards the assign_doc_ids two-pass determinism precondition
        # (docids.py): a duplicated/skipped rank from a non-deterministic
        # input plan fails the build loudly instead of corrupting the
        # index, and the unmarked lineage stage makes the re-run
        # recompute docs_store.
        _assert_dense(n_docs, stats["id_min"], stats["id_max"],
                      stats["id_summod"], stats["id_xor"], "build")
        if fingerprint is None:
            fingerprint = f"{stats['n']}:{stats['h']}"
        _append_lineage(spark, index_dir, "docs_store", 0, fingerprint, "done", t0)
        run.append("docs_store")
    _mark("docs_store written")

    if n_docs is None:
        ds = spark.read.parquet(os.path.join(index_dir, "docs_store"))
        # resuming a build whose docs_store predates the meta_only column
        deg_expr = (F.sum(F.col("meta_only").cast("long"))
                    if "meta_only" in ds.columns else F.lit(0))
        g = ds.agg(
            F.count("*").alias("n"), F.avg("dl").alias("avgdl"),
            F.sum("dl").alias("dl_sum"),
            deg_expr.alias("degraded")).collect()[0]
        n_docs, avgdl = g["n"] or 0, float(g["avgdl"] or 0.0)
        dl_sum = int(g["dl_sum"] or 0)
        degraded = int(g["degraded"] or 0)

    # Every pass below re-reads the token stream from the just-written
    # docs_store parquet, column-pruned to (doc_id, dl, tokens) — see the
    # no-cache note above.
    stored_tokens = (spark.read.parquet(os.path.join(index_dir, "docs_store"))
                     .select("doc_id", "dl", "tokens"))

    # With positions on (the Lucene-parity default), the positions
    # dataset is written FIRST by the zero-shuffle map-side kernel
    # (positions_rows: per-doc term→positions grouping in Arrow/numpy,
    # tf stored alongside, direct partitionBy write), and the postings
    # encode then READS it back with parquet column pruning — the token
    # stream is never exploded into a shuffle at all. This deliberately
    # materializes through disk instead of .persist(): caching the
    # (term, doc_id, positions) aggregate thrashed at high parallelism
    # exactly like round 2's tf cache (measured: 200k-doc build 360s at
    # local[2] but 423s at local[8] with the cached variant — negative
    # scaling; the disk-backed layout restores it).
    if config.index_positions:
        t0 = time.time()
        if ("positions", 0) in done:
            skipped.append("positions")
        else:
            (positions_rows(stored_tokens, config.term_buckets)
             .write.mode("overwrite").partitionBy("tbucket")
             .parquet(os.path.join(index_dir, "positions")))
            _append_lineage(spark, index_dir, "positions", 0, fingerprint,
                            "done", t0)
            run.append("positions")
        _mark("positions written")
        tf = (spark.read.parquet(os.path.join(index_dir, "positions"))
              .select("term", "doc_id", "dl", "tf", "tbucket"))
        tfb = tf.withColumn(
            "bucket", (F.col("doc_id") / config.bucket_span).cast("long"))
    else:
        tf = (
            stored_tokens.select("doc_id", "dl", F.explode("tokens").alias("term"))
            .groupBy("term", "doc_id", "dl").agg(F.count("*").alias("tf"))
        )
        tfb = (
            tf.withColumn("bucket",
                          (F.col("doc_id") / config.bucket_span).cast("long"))
            .withColumn("tbucket", _tbucket(F.col("term"), config.term_buckets))
        )

    # postings, written group-by-group for per-partition lineage.
    # The tbucket filter is applied BEFORE the applyInPandas encode (it
    # cannot be pushed through an opaque UDF), so each group job encodes
    # only its own share of tf; positions-backed builds get it as
    # partition pruning on the positions layout.
    encoder = _make_encoder(config.k1, config.b, avgdl)
    groups = min(lineage_groups, config.term_buckets)
    if groups > 1 and not config.index_positions:
        # several group jobs re-scan the aggregate — persist once
        # (positions-backed builds re-read the pruned parquet instead)
        tfb = tfb.persist()
    per_group = (config.term_buckets + groups - 1) // groups
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    for gi in range(groups):
        lo, hi = gi * per_group, min((gi + 1) * per_group, config.term_buckets)
        stage = ("postings", gi)
        if stage in done:
            skipped.append(f"postings:{gi}")
            continue
        t0 = time.time()
        part = (tfb.filter((F.col("tbucket") >= lo) & (F.col("tbucket") < hi))
                .select("term", "doc_id", "dl", "tf", "bucket", "tbucket")
                .groupBy("tbucket", "bucket")
                .applyInPandas(encoder, POSTINGS_SCHEMA))
        # encoded blocks are tiny vs raw tf rows — an extra repartition on
        # the partition column costs little and yields ~1 file per tbucket
        # dir instead of one shard per (shuffle task × dir)
        (part.repartition(hi - lo, F.col("tbucket"))
         .write.mode("overwrite").partitionBy("tbucket")
         .parquet(os.path.join(index_dir, "postings")))
        _mark(f"postings write g{gi}")
        _append_lineage(spark, index_dir, "postings", gi, fingerprint, "done", t0)
        run.append(f"postings:{gi}")
        _mark(f"postings group {gi}")
        if fail_after_group is not None and gi + 1 >= fail_after_group:
            tfb.unpersist()
            raise RuntimeError(f"injected failure after postings group {gi}")

    tfb.unpersist()

    # termstats AND per-partition metrics DERIVED from the written block
    # metadata in ONE scan: per (term, tbucket) the block rows aggregate
    # to df = Σ n plus block-count / max(n) / byte totals, and the
    # north-rule metrics (rows, terms, bytes, skew factor) are an
    # aggregate-of-aggregates over that vocab-sized frame — the metrics
    # job never re-reads postings (it used to re-scan per lineage group,
    # a fixed serial job per group at both parallelism levels). The
    # persisted frame is vocab-scale (thousands of rows), not data-scale.
    t0 = time.time()
    if ("termstats", 0) in done:
        skipped.append("termstats")
    else:
        per_term = (spark.read.parquet(os.path.join(index_dir, "postings"))
                    .groupBy("term", "tbucket").agg(
                        F.sum("n").cast("long").alias("df"),
                        F.count("*").alias("_blocks"),
                        F.max("n").alias("_max_n"),
                        F.sum(F.length("doc_ids") + F.length("tfs")
                              + F.length("dls")).alias("_bytes"))
                    .persist())
        (per_term.select("term", "df", "tbucket")
         .repartition(config.term_buckets, F.col("tbucket"))
         .write.mode("overwrite").partitionBy("tbucket")
         .parquet(os.path.join(index_dir, "termstats")))
        # skew_factor = max block size / mean block size per tbucket:
        # max(_max_n) / (Σ df / Σ _blocks) — identical to the former
        # block-row formulation max(n)/avg(n). overwrite (not append):
        # a crash between this write and the lineage mark re-runs the
        # stage cleanly instead of duplicating rows.
        (per_term.groupBy("tbucket").agg(
             F.sum("df").alias("rows_indexed"),
             F.count("*").alias("terms"),
             F.sum("_bytes").alias("postings_bytes"),
             (F.max("_max_n") / (F.sum("df") / F.sum("_blocks"))).alias("skew_factor"))
         .withColumnRenamed("tbucket", "partition_id")
         .coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(index_dir, "_metrics")))
        per_term.unpersist()
        _append_lineage(spark, index_dir, "termstats", 0, fingerprint, "done", t0)
        run.append("termstats")
    _mark("termstats written")

    meta = {"n_docs": n_docs, "avgdl": avgdl, "dl_sum": dl_sum,
            "fingerprint": fingerprint,
            "k1": config.k1, "b": config.b, "bucket_span": config.bucket_span,
            "term_buckets": config.term_buckets,
            "stopwords": list(config.stopwords),
            "include_path_tokens": config.include_path_tokens,
            "index_positions": config.index_positions,
            "catenate_words": config.catenate_words,
            # incremental-maintenance state (operators/maintenance.py):
            # smallest avgdl any stored max_tfnorm was encoded with (query-
            # side UB inflation keeps pruning safe after avgdl drifts), and
            # the next doc_id segment base for appends
            "min_encode_avgdl": avgdl,
            # E2 feedback summary: docs indexed metadata-only because
            # content contributed no searchable text (package.scala:110-118)
            "degraded_docs": degraded,
            "next_base": _round_up(n_docs, config.bucket_span)}
    # written LAST: open_index fails cleanly on a partial build, and
    # resume picks up from the lineage table
    _commit_globals(index_dir, meta)
    # collapse cumulative marks into named per-stage deltas ("postings
    # write g0" + "postings group 0" fold into one "postings" bucket)
    stage_sec: dict[str, float] = {}
    prev = 0.0
    for label, cum in _marks:
        word = label.split()[0]
        name = {"doc_ids": "docids",
                "fingerprint/resume-chk": "fingerprint"}.get(word, word)
        stage_sec[name] = round(stage_sec.get(name, 0.0) + (cum - prev), 3)
        prev = cum
    return BuildReport(index_dir, fingerprint, n_docs, avgdl, run, skipped,
                       degraded_docs=degraded, stage_sec=stage_sec)


# -------------------------------------------------------------------- load

@dataclass
class PhysicalIndex:
    spark: SparkSession
    index_dir: str
    config: IndexConfig
    n_docs: int
    avgdl: float
    # incremental-maintenance state (operators/maintenance.py): tombstoned
    # doc_id ranges are filtered everywhere; min_encode_avgdl feeds the
    # query-side UB inflation that keeps block-max pruning safe after
    # deletes/appends shift avgdl away from what blocks were encoded with
    min_encode_avgdl: float = 0.0
    tombstones: tuple[tuple[int, int], ...] = ()
    n_buckets: int = 0  # upper bound on distinct doc-range bucket ids
    generation: int = 0  # compact_index swap counter (see gen_name)
    degraded_docs: int = 0  # E2: docs indexed metadata-only (build+append events)
    has_positions: bool = False  # positions/ dataset present (phrase queries)

    def __post_init__(self) -> None:
        # memoized logical plans: spark.read.parquet re-lists files and
        # re-reads footers on every call — a fixed per-query driver cost
        # worth paying once per open, not once per property access
        self._cache: dict[str, DataFrame] = {}
        self._datasets: dict = {}

    def path_of(self, name: str) -> str:
        return os.path.join(self.index_dir, gen_name(name, self.generation))

    def _read(self, name: str) -> DataFrame:
        if name not in self._cache:
            reader = self.spark.read
            schema = self._footer_schema(name)
            if schema is not None:
                reader = reader.schema(schema)
            self._cache[name] = reader.parquet(self.path_of(name))
        return self._cache[name]

    def _footer_schema(self, name: str):
        """The Spark schema a Spark write left in the dataset's parquet
        footer, plus its hive partition columns: what Spark's own schema
        inference reads, without the Spark job that inference runs on a
        reader's first read of each dataset. None (infer) when the footer
        carries no Spark schema."""
        from pyspark.sql.pandas.types import from_arrow_type
        from pyspark.sql.types import StructType
        data = self.arrow(name)
        meta = (data.schema.metadata or {}) if data is not None else {}
        row = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
        if row is None:
            return None
        schema = StructType.fromJson(json.loads(row))
        for f in data.schema:
            if f.name not in schema.names:
                schema.add(f.name, from_arrow_type(f.type))
        return schema

    def _not_tombstoned(self) -> F.Column:
        cond = F.lit(True)
        for lo, hi in self.tombstones:
            cond = cond & ~((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
        return cond

    @functools.cached_property
    def docs_store(self) -> DataFrame:
        # the stored token stream (build/maintenance input) is not part
        # of the query-facing store schema; dropping it here keeps
        # filterable-field validation and match-all projections unchanged.
        # Memoized: tombstones are fixed per reader, every query reads
        # this frame up to three times, and the frame caches its schema
        # (fq validation reads .columns)
        df = self._read("docs_store").drop("tokens")
        if self.tombstones:
            df = df.filter(self._not_tombstoned())
        return df

    def arrow(self, name: str):
        """Dataset ``name`` as a memoized pyarrow dataset (hive
        partitions read as columns), or None when it holds no file: the
        driver's by-key reads — a page's stored fields, a query's term
        df (operators/wand.py) — filter it without a Spark job. Like
        ``_read`` it lists the files once per reader."""
        if name not in self._datasets:
            import pyarrow.dataset as pads
            path = self.path_of(name)
            data = (pads.dataset(path, format="parquet", partitioning="hive")
                    if os.path.exists(path) else None)
            self._datasets[name] = data if data and data.files else None
        return self._datasets[name]

    @property
    def postings(self) -> DataFrame:
        return self._read("postings")

    @property
    def positions(self) -> DataFrame:
        """(term, doc_id, dl, tf, positions, tbucket) — phrase-query data
        (Lucene .prx analog, term-bucket partitioned like postings; the
        build's encode pass also reads it, column-pruned to the scalar
        columns), tombstone-masked like docs_store. Raises if the index
        was built with ``index_positions=False``."""
        if not self.has_positions:
            raise ValueError(
                "index was built without positions (index_positions=False); "
                "phrase queries need a rebuild with positions enabled")
        df = self._read("positions")
        if self.tombstones:
            df = df.filter(self._not_tombstoned())
        return df

    @property
    def termstats(self) -> DataFrame:
        """Base df counts merged with incremental deltas (delete: negative,
        append: positive). The union+agg keeps term/tbucket filters
        pushable below both scans (they are grouping keys)."""
        base = self._read("termstats").select("term", "tbucket", "df")
        delta_path = self.path_of("_termstats_delta")
        if not os.path.exists(delta_path):
            return base
        delta = self._read("_termstats_delta").select("term", "tbucket", "df")
        return (base.unionByName(delta)
                .groupBy("term", "tbucket").agg(F.sum("df").alias("df"))
                .filter(F.col("df") > 0))

    @property
    def metrics(self) -> DataFrame:
        return self._read("_metrics")

    @property
    def lineage(self) -> DataFrame:
        return self._read("_lineage")


def _read_globals(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "globals.json")) as fh:
        return json.load(fh)


def _commit_globals(index_dir: str, meta: dict) -> None:
    """The commit point of every index write (Solr-commit analog, S11):
    a build, a mutation (maintenance._mutate) or a compaction becomes
    visible when globals.json is swapped in atomically."""
    tmp = os.path.join(index_dir, "globals.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(index_dir, "globals.json"))


def _round_up(n: int, span: int) -> int:
    return ((n + span - 1) // span) * span


def _next_base(meta: dict) -> int:
    """First doc_id of the next appended segment: bucket-aligned past
    every stored doc (indexes written before ``next_base`` was recorded
    derive it from n_docs)."""
    return int(meta.get("next_base",
                        _round_up(int(meta["n_docs"]), int(meta["bucket_span"]))))


def _reader(spark: SparkSession, index_dir: str, meta: dict,
            tombstones: tuple[tuple[int, int], ...] | None = None
            ) -> PhysicalIndex:
    """The one PhysicalIndex constructor: the reader of the commit record
    ``meta``. ``tombstones`` default to the generation's _tombstones
    dataset (one job when it exists); a mutation passes the merged list
    it just committed instead of reading it back."""
    config = IndexConfig(k1=meta["k1"], b=meta["b"],
                         stopwords=tuple(meta["stopwords"]),
                         include_path_tokens=meta["include_path_tokens"],
                         bucket_span=meta["bucket_span"],
                         term_buckets=meta["term_buckets"],
                         index_positions=bool(meta.get("index_positions", False)),
                         catenate_words=bool(meta.get("catenate_words", False)))
    generation = int(meta.get("generation", 0))
    if tombstones is None:
        tomb_path = os.path.join(index_dir, gen_name("_tombstones", generation))
        tombstones = ()
        if os.path.exists(tomb_path):
            rows = spark.read.parquet(tomb_path).collect()
            tombstones = merge_ranges((r["lo"], r["hi"]) for r in rows)
    return PhysicalIndex(spark, index_dir, config, meta["n_docs"], meta["avgdl"],
                         min_encode_avgdl=meta.get("min_encode_avgdl", meta["avgdl"]),
                         tombstones=tombstones,
                         n_buckets=_next_base(meta) // meta["bucket_span"],
                         generation=generation,
                         has_positions=config.index_positions,
                         degraded_docs=int(meta.get("degraded_docs", 0)))


def open_index(spark: SparkSession, index_dir: str) -> PhysicalIndex:
    return _reader(spark, index_dir, _read_globals(index_dir))


def merge_ranges(ranges) -> tuple[tuple[int, int], ...]:
    """Collapse adjacent/overlapping (lo, hi) doc_id ranges: N accumulated
    deletes of neighboring runs cost the decode kernel ONE mask test, not
    N — the tombstone list every query loops over stays bounded."""
    merged: list[list[int]] = []
    for lo, hi in sorted((int(lo), int(hi)) for lo, hi in ranges):
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return tuple((lo, hi) for lo, hi in merged)
