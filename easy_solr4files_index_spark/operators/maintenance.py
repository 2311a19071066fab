"""Physical incremental maintenance: delete-one-repo / append / upsert /
compact over the on-disk index — cost ∝ bag size, not corpus size.

The reference's core update cycle is delete-one-bag + reindex-one-bag
(EasySolr4filesIndexApp.scala:48-51, UpdateServlet.scala:59-87); round 1
only had O(corpus) full rebuilds. This module makes the physical index
maintainable per key:

Why cost ∝ bag: doc_ids are global ranks ordered by (repo, path,
commit), so one repo occupies a CONTIGUOUS doc_id range per segment
(modulo holes punched by earlier deletes — handled as multiple runs);
posting buckets are doc_id ranges (bucket = doc_id // span), so a repo's
postings live in a contiguous bucket range and every scan below is
pruned (parquet row-group stats on `bucket`, partition dirs on tbucket
untouched beyond file appends).

Delete = tombstone, not rewrite:
  * ``_tombstones/`` gains the predicate's live (lo, hi) doc_id run(s) —
    found per segment with an islands grouping (doc_id − row_number is
    constant within a run), so live docs fragmented by EARLIER deletes
    are N exact runs, never an over-covering [min, max]; the docs_store
    view and the query decode kernels mask them everywhere.
  * ``_termstats_delta/`` gains negative df rows computed by decoding
    ONLY the affected buckets' blocks.
  * globals n_docs/avgdl/dl_sum updated exactly, so BM25 scores after a
    delete equal a fresh build of the remaining corpus (scores depend on
    tf, dl, df, N, avgdl — none on doc_id density).
  * stored block max_tfnorm values were encoded with an older avgdl;
    the query side multiplies bucket upper bounds by
    max(1, avgdl_now / min_encode_avgdl), which is a safe bound because
    tfnorm(a') <= tfnorm(a) * (a'/a) for a' > a (the dl/avgdl term is
    the only avgdl dependence and it sits in the denominator) — pruning
    stays exact, merely slightly less aggressive until compaction.
  * auto-compact: once the MERGED tombstone list exceeds
    ``AUTO_COMPACT_MAX_RANGES`` or masks more than
    ``AUTO_COMPACT_MAX_MASKED`` of the id space, the delete triggers
    ``compact_index`` — the tombstone list the decode kernels search
    stays bounded no matter how many deletes accumulate.

Append = new segment:
  * new docs take doc_ids from a fresh bucket-aligned base (globals
    ``next_base``), so their (term, bucket) block rows can never collide
    with existing ones — the postings write is a pure file append.
  * blocks encode with the CURRENT avgdl; ``min_encode_avgdl`` tracks
    the minimum ever used (the UB-inflation base above).
  * doc_id no longer equals the *global* (repo, path, commit) rank after
    an append (the segment sits at the end), so exact-score ties may
    break in segment order rather than global key order until
    ``compact_index`` — documented divergence, same class as Lucene's
    per-segment docids before a forceMerge.

Compact = generation swap (Solr optimize analog): drops tombstoned
postings/doc rows, folds termstats deltas into the base, re-encodes
max_tfnorm against the current avgdl, clears the UB inflation. The new
files are written under ``<name>.g<N+1>`` directories and the swap
commits by atomically rewriting globals.json (the documented commit
point) — a crash at ANY intermediate moment leaves globals pointing at
the fully-intact previous generation; stale directories are cleaned up
best-effort after the commit and are never pointed to.

``index_dir`` must be a posix-visible shared filesystem (as for
postings.write_index); driver-side small writes go through pyarrow.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.codec import decode_blocks, encode_blocks, in_ranges
from .docids import assign_doc_ids
from .index_build import enrich_docs
from .postings import (POSTINGS_SCHEMA, PhysicalIndex, _append_lineage,
                       _make_encoder, _tbucket, gen_name, merge_ranges,
                       open_index)

# auto-compact thresholds: keep the tombstone list short
# and reclaim space once deletes dominate (delete_where_physical)
AUTO_COMPACT_MAX_RANGES = 64
AUTO_COMPACT_MAX_MASKED = 0.20


def _run_parallel(thunks) -> None:
    """Submit independent Spark actions from threads so their fixed
    per-job overheads overlap (tiny-bag maintenance is job-latency-bound;
    Spark's scheduler runs concurrent jobs on free task slots). Raises
    the first failure after all complete."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        thunks[0]()
        return
    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(t) for t in thunks]
        errs = [f.exception() for f in futures]
    for e in errs:
        if e is not None:
            raise e


def _read_globals(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "globals.json")) as fh:
        return json.load(fh)


def _write_globals(index_dir: str, meta: dict) -> None:
    tmp = os.path.join(index_dir, "globals.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(index_dir, "globals.json"))


def _append_tombstones(index_dir: str, generation: int,
                       ranges: list[tuple[int, int]], repo: str) -> None:
    import pyarrow as pa

    from .postings import pa_append_table

    table = pa.table({
        "lo": pa.array([int(lo) for lo, _ in ranges], pa.int64()),
        "hi": pa.array([int(hi) for _, hi in ranges], pa.int64()),
        "repo": pa.array([repo] * len(ranges), pa.string()),
        "deleted_at": pa.array([time.time()] * len(ranges), pa.float64()),
    })
    pa_append_table(table, os.path.join(index_dir,
                                        gen_name("_tombstones", generation)))


def _segments(meta: dict) -> list[list[int]]:
    # [start, end) doc_id spans; pre-maintenance indexes have one segment
    if meta.get("segments"):
        return meta["segments"]
    span = int(meta["bucket_span"])
    next_base = int(meta.get(
        "next_base", ((int(meta["n_docs"]) + span - 1) // span) * span))
    return [[0, next_base]]


def _pred_ranges(idx: PhysicalIndex, meta: dict, pred: F.Column,
                 label: str) -> list[dict]:
    """(lo, hi, n, dls) of each doc_id-CONTIGUOUS run of the predicate's
    live docs, per segment. One pruned docs_store scan; a broadcast join
    tags each doc with its segment; an islands grouping (doc_id −
    row_number constant within a run) discovers the runs — so a whole-repo
    delete after a path-prefix delete on the same repo (non-contiguous
    live docs) yields exact runs instead of an over-covering [min, max].
    The per-segment window sorts only the predicate's own rows (O(bag))."""
    segs = _segments(meta)
    seg_df = idx.spark.createDataFrame(
        [(i, s[0], s[1]) for i, s in enumerate(segs)], "seg int, s0 long, s1 long")
    w = Window.partitionBy("seg").orderBy("doc_id")
    rows = (idx.docs_store.filter(pred)
            .join(F.broadcast(seg_df),
                  (F.col("doc_id") >= F.col("s0")) & (F.col("doc_id") < F.col("s1")))
            .select("seg", "doc_id", "dl")
            .withColumn("_run", F.col("doc_id") - F.row_number().over(w))
            .groupBy("seg", "_run")
            .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
                 F.count("*").alias("n"), F.sum("dl").alias("dls"))
            .collect())
    return [{"lo": r["lo"], "hi": r["hi"], "n": r["n"], "dls": r["dls"]}
            for r in rows]


def _df_delta_kernel(ranges: list[tuple[int, int]], sign: int):
    """Per posting block: how many decoded doc_ids fall in the ranges."""
    rs = [(int(lo), int(hi)) for lo, hi in ranges]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            block, ids, _, _ = decode_blocks(pdf["n"], pdf["doc_ids"])
            cnt = np.bincount(block[in_ranges(ids, rs)], minlength=len(pdf))
            hit = cnt > 0
            yield pd.DataFrame({"term": pdf["term"].to_numpy(object)[hit],
                                "tbucket": pdf["tbucket"].to_numpy(np.int32)[hit],
                                "df": sign * cnt[hit]})

    return kernel


def delete_repo_physical(spark: SparkSession, index_dir: str, repo: str,
                         auto_compact: bool = True) -> PhysicalIndex:
    """`deleteDocuments("id:<bagId>*")` analog over the physical index
    (EasySolr4filesIndexApp.scala:49). Touches only the repo's doc-range
    buckets; returns the updated index."""
    return delete_where_physical(spark, index_dir, F.col("repo") == repo,
                                 repo, auto_compact=auto_compact)


def delete_path_prefix_physical(spark: SparkSession, index_dir: str,
                                repo: str, prefix: str,
                                auto_compact: bool = True) -> PhysicalIndex:
    """Folder-delete analog (`id:<uuid>/Documents/*`, reference
    docs/index.md:19): path-prefix runs are doc_id-contiguous within a
    repo because doc_ids rank by (repo, path, commit)."""
    pred = (F.col("repo") == repo) & F.col("path").startswith(prefix)
    return delete_where_physical(spark, index_dir, pred, f"{repo}/{prefix}*",
                                 auto_compact=auto_compact)


def delete_where_physical(spark: SparkSession, index_dir: str,
                          pred: F.Column, label: str,
                          auto_compact: bool = True) -> PhysicalIndex:
    t0 = time.time()
    idx = open_index(spark, index_dir)
    meta = _read_globals(index_dir)
    ranges = _pred_ranges(idx, meta, pred, label)
    if not ranges:
        return idx
    span = idx.config.bucket_span
    n_del = sum(r["n"] for r in ranges)
    dl_del = sum(r["dls"] for r in ranges)

    # negative df per term, from ONLY the affected buckets' blocks
    bcond = F.lit(False)
    for r in ranges:
        bcond = bcond | ((F.col("bucket") >= r["lo"] // span) &
                         (F.col("bucket") <= r["hi"] // span))
    delta = (idx.postings.filter(bcond)
             .select("term", "tbucket", "n", "doc_ids")
             .mapInPandas(_df_delta_kernel([(r["lo"], r["hi"]) for r in ranges], -1),
                          "term string, tbucket int, df long"))
    (delta.groupBy("term", "tbucket").agg(F.sum("df").alias("df"))
     .write.mode("append").partitionBy("tbucket")
     .parquet(idx.path_of("_termstats_delta")))

    _append_tombstones(index_dir, idx.generation,
                       [(r["lo"], r["hi"]) for r in ranges], label)
    # seed min_encode_avgdl from the PRE-delete avgdl — the value the
    # existing blocks were actually encoded with; seeding post-delete
    # would under-inflate the pruning upper bound (dropping true top-k).
    pre_avgdl = float(meta.get("avgdl", 0.0))
    meta.setdefault("min_encode_avgdl", pre_avgdl or 0.0)
    # dl_sum fallback for indexes built before dl_sum was recorded:
    # reconstruct from avgdl*n_docs instead of 0 (which would go negative)
    dl_sum0 = int(meta.get("dl_sum", round(pre_avgdl * int(meta["n_docs"]))))
    meta["n_docs"] = int(meta["n_docs"]) - n_del
    meta["dl_sum"] = dl_sum0 - int(dl_del)
    meta["avgdl"] = (meta["dl_sum"] / meta["n_docs"]) if meta["n_docs"] else 0.0
    meta.setdefault("segments", _segments(meta))
    _write_globals(index_dir, meta)
    _append_lineage(spark, index_dir, f"delete:{label}", 0,
                    meta.get("fingerprint", ""), "done", t0)

    # construct the updated index in-memory instead of a full reopen
    # (open_index re-reads globals + collects tombstones — one extra job
    # per delete in a tight update loop)
    tombs = merge_ranges(list(idx.tombstones)
                         + [(r["lo"], r["hi"]) for r in ranges])
    out = PhysicalIndex(spark, index_dir, idx.config, meta["n_docs"],
                        meta["avgdl"],
                        min_encode_avgdl=meta["min_encode_avgdl"],
                        tombstones=tombs, n_buckets=idx.n_buckets,
                        generation=idx.generation,
                        has_positions=idx.has_positions)
    if auto_compact and _should_compact(out):
        return compact_index(spark, index_dir)
    return out


def _should_compact(idx: PhysicalIndex) -> bool:
    if len(idx.tombstones) > AUTO_COMPACT_MAX_RANGES:
        return True
    # fraction of STORED doc rows that are tombstoned (dead decode work),
    # not of the sparse id space — small corpora compact too
    masked = sum(hi - lo + 1 for lo, hi in idx.tombstones)
    return masked / max(idx.n_docs + masked, 1) > AUTO_COMPACT_MAX_MASKED


def append_docs_physical(spark: SparkSession, index_dir: str,
                         new_docs: DataFrame) -> PhysicalIndex:
    """Index new docs as a fresh segment appended to the physical index.
    Only the new docs are tokenized/encoded; existing files are untouched
    (postings/termstats-delta file appends)."""
    t0 = time.time()
    idx = open_index(spark, index_dir)
    cfg = idx.config
    meta = _read_globals(index_dir)
    base = _segments(meta)[-1][1]
    base = ((base + cfg.bucket_span - 1) // cfg.bucket_span) * cfg.bucket_span
    base = max(base, int(meta.get("next_base", base)))

    with_ids = assign_doc_ids(new_docs).withColumn(
        "doc_id", (F.col("doc_id") + base).cast("long"))
    enriched = enrich_docs(with_ids, cfg).persist()
    # schema guard: an appended segment with a different column set than
    # the existing store (e.g. a batch read through a narrower stream
    # schema, missing the ACL columns) would make spark.read.parquet pick
    # an arbitrary footer's schema — filterable columns silently vanish,
    # and a later compact rewrites the store with whichever won. Fail
    # loudly instead (footer-only read, no data scan).
    store_cols = set(spark.read.parquet(idx.path_of("docs_store")).columns)
    seg_cols = set(enriched.columns)
    if seg_cols != store_cols:
        enriched.unpersist()
        raise ValueError(
            "appended batch schema does not match the existing docs_store: "
            f"missing={sorted(store_cols - seg_cols)}, "
            f"extra={sorted(seg_cols - store_cols)}")
    # docID-density tripwire on the appended segment (write_index has the
    # same guard riding its docs_store write): ids must be exactly
    # base..base+n-1. Runs on the PERSISTED segment BEFORE any file lands
    # in docs_store — an append failure must leave nothing behind, since
    # orphaned parquet files are visible to every docs_store reader (no
    # segment mask on the scan). The action doubles as cache population
    # the write below needs anyway, so it costs no extra scan of the input.
    from .postings import check_dense_ids
    try:
        check_dense_ids(enriched, offset=base, label="append segment")
    except Exception:
        enriched.unpersist()
        raise
    tf = None
    try:
        # tokens ride into docs_store like the base build writes them
        # (postings.write_index) — compact re-derives positions from them.
        # The segment's n/Σdl stats ride on the SAME job as an Observation
        # (no standalone agg pass; same trick as write_index's build stats)
        from pyspark.sql import Observation
        obs = Observation()
        (enriched.observe(obs, F.count(F.lit(1)).alias("n"),
                          F.sum("dl").alias("dls"),
                          F.sum(F.col("meta_only").cast("long")).alias("deg"))
         .write.mode("append").parquet(idx.path_of("docs_store")))
        n_new = int(obs.get["n"] or 0)
        dl_new = int(obs.get["dls"] or 0)
        deg_new = int(obs.get["deg"] or 0)
        if n_new == 0:
            return idx
        n2 = int(meta["n_docs"]) + n_new
        dl_sum2 = int(meta.get("dl_sum",
                               round(float(meta.get("avgdl", 0.0))
                                     * int(meta["n_docs"])))) + dl_new
        avgdl2 = dl_sum2 / n2 if n2 else 0.0

        # the map-side positions kernel yields postings input, df delta
        # AND positions in one pass — the segment's token stream is
        # never exploded into a shuffle (same shape as write_index)
        if meta.get("index_positions"):
            from .postings import positions_rows
            tf = positions_rows(enriched, cfg.term_buckets).persist()
        else:
            tf = (enriched.select("doc_id", "dl", F.explode("tokens").alias("term"))
                  .groupBy("term", "doc_id", "dl").agg(F.count("*").alias("tf"))
                  .persist())
        tfb = (tf.select("term", "doc_id", "dl", "tf")
               .withColumn("bucket", (F.col("doc_id") / cfg.bucket_span).cast("long"))
               .withColumn("tbucket", _tbucket(F.col("term"), cfg.term_buckets)))
        # encode with the POST-append avgdl (exact scoring stats)
        part = tfb.groupBy("tbucket", "bucket").applyInPandas(
            _make_encoder(cfg.k1, cfg.b, avgdl2), POSTINGS_SCHEMA)

        def _write_postings() -> None:
            (part.repartition(cfg.term_buckets, F.col("tbucket"))
             .write.mode("append").partitionBy("tbucket")
             .parquet(idx.path_of("postings")))

        def _write_termstats_delta() -> None:
            (tf.groupBy("term").agg(F.count("*").alias("df"))
             .withColumn("tbucket", _tbucket(F.col("term"), cfg.term_buckets))
             .write.mode("append").partitionBy("tbucket")
             .parquet(idx.path_of("_termstats_delta")))

        def _write_positions() -> None:
            # positional rows for the new segment — pure file append,
            # same tbucket layout as the base (phrase queries see the
            # union automatically). tf rides along as an explicit column
            # (same schema as the base segment's positions/)
            pos = (tf.select("term", "doc_id", "dl", "tf", "positions")
                   .withColumn("tbucket", _tbucket(F.col("term"), cfg.term_buckets)))
            (pos.repartition(cfg.term_buckets, F.col("tbucket"))
             .write.mode("append").partitionBy("tbucket")
             .parquet(idx.path_of("positions")))

        # the three writes are independent readers of the persisted tf —
        # submit them as CONCURRENT jobs so their fixed scheduling
        # overheads overlap (a 250-doc bag is 6 near-empty jobs; run
        # serially each still pays ~1-2s of job latency). Block-manager
        # per-partition locks make the first reader compute each cached
        # partition while the others wait — no duplicated work.
        writers = [_write_postings, _write_termstats_delta]
        if meta.get("index_positions"):
            writers.append(_write_positions)
        _run_parallel(writers)
    finally:
        # unpersist in the finally: a failed concurrent writer must not
        # leak the cached tf aggregate across a long-lived upsert loop
        if tf is not None:
            tf.unpersist()
        enriched.unpersist()

    segs = _segments(meta)
    seg_end = base + n_new
    meta["segments"] = segs + [[base, seg_end]]
    # fallback seeds from the PRE-append avgdl: that is what the existing
    # blocks were encoded with (seeding post-append could under-inflate
    # the pruning upper bound for old blocks)
    prev_min = meta.get("min_encode_avgdl", float(meta.get("avgdl", 0.0)))
    meta["n_docs"], meta["dl_sum"], meta["avgdl"] = n2, dl_sum2, avgdl2
    # E2 feedback counter: the appended segment's metadata-only docs add
    # to the build-time count (deletes don't decrement it — like the
    # reference's per-ingest feedback summary it counts degradation
    # EVENTS, not live docs)
    meta["degraded_docs"] = int(meta.get("degraded_docs", 0)) + deg_new
    meta["min_encode_avgdl"] = min(prev_min, avgdl2) if avgdl2 else prev_min
    meta["next_base"] = ((seg_end + cfg.bucket_span - 1)
                         // cfg.bucket_span) * cfg.bucket_span
    _write_globals(index_dir, meta)
    _append_lineage(spark, index_dir, "append", 0,
                    meta.get("fingerprint", ""), "done", t0)
    return PhysicalIndex(spark, index_dir, cfg, n2, avgdl2,
                         min_encode_avgdl=meta["min_encode_avgdl"],
                         tombstones=idx.tombstones,
                         n_buckets=meta["next_base"] // cfg.bucket_span,
                         generation=idx.generation,
                         has_positions=idx.has_positions)


def upsert_repos_physical(spark: SparkSession, index_dir: str,
                          new_docs: DataFrame,
                          auto_compact: bool = True,
                          repos: list[str] | None = None) -> PhysicalIndex:
    """Delete-before-insert per repo (the reference's idempotent update,
    EasySolr4filesIndexApp.scala:48-51): every repo present in new_docs
    fully replaces its docs; cost ∝ the touched repos, not the corpus.
    One delete pass covers ALL the repos (single pruned scan + one df
    delta job), not one pass per repo.

    Small-bag latency: a tiny upsert is bound by FIXED per-job round
    trips, not data (measured ~7 s for a 250-file bag at sf0.1 while the
    200k-doc ratio is 0.27 — BENCH/MAINTENANCE.md). The delete's jobs
    (pruned ranges scan + df-delta) touch only EXISTING files and the
    append's segment jobs (docID assign + docs_store write) touch only
    NEW ones, so the two pipelines run CONCURRENTLY here (the same
    `_run_parallel` overlap the append's three segment writes already
    use); the new-segment ids land beyond every registered segment, so
    the delete's islands join (`_pred_ranges` bounds docs to [s0, s1))
    excludes them even if the scan lists freshly-appended files. The
    exact-stats ordering is preserved: only the delete's RANGES SCAN
    (which yields dl_del) gates the encoder's avgdl; the delete's heavy
    df-delta/tombstone writes don't feed avgdl and run in a second
    parallel phase alongside the postings encode. avgdl is (dl_sum −
    deleted + appended) — identical to the serial value — and
    globals.json commits ONCE with both mutations (the serial flow's
    mid-flight commit windows don't get worse, they collapse into one).

    ``repos``: the touched repo set, when the caller already knows it —
    the reference's update cycle always does (update(store, bagId),
    EasySolr4filesIndexApp.scala:48-51: one bag per call), so a tiny-bag
    upsert skips the repo-discovery job entirely and the delete's
    pruned-ranges scan starts immediately. Omitted ⇒ discovered with a
    distinct() over the batch (the streaming sink's path, where batch
    composition is unknown). The set must cover every repo present in
    ``new_docs``, else ValueError before any file lands (checked in the
    append's density-check job); extra names cost one no-op range lookup
    each."""
    t0 = time.time()
    idx = open_index(spark, index_dir)
    cfg = idx.config
    meta = _read_globals(index_dir)

    base = _segments(meta)[-1][1]
    base = ((base + cfg.bucket_span - 1) // cfg.bucket_span) * cfg.bucket_span
    base = max(base, int(meta.get("next_base", base)))

    del_out: dict = {}
    app_out: dict = {}

    def _ranges_phase() -> None:
        """Repo discovery + live-run islands scan — everything the exact
        post-upsert stats (dl_del) need from the delete, WITHOUT the
        df-delta/tombstone writes, which don't feed avgdl and therefore
        run in the second parallel phase alongside the postings encode."""
        touched = (sorted(set(repos)) if repos is not None
                   else sorted(r["repo"] for r in
                               new_docs.select("repo").distinct().collect()))
        del_out["repos"] = touched
        del_out["label"] = ",".join(touched)
        if not touched:
            return
        ranges = _pred_ranges(idx, meta, F.col("repo").isin(touched),
                              del_out["label"])
        if not ranges:
            return
        del_out["ranges"] = [(r["lo"], r["hi"]) for r in ranges]
        del_out["n_del"] = sum(r["n"] for r in ranges)
        del_out["dl_del"] = sum(r["dls"] for r in ranges)

    def _delete_delta_df() -> DataFrame:
        """The delete's df-delta plan over the pruned postings scan.
        Reads only pre-upsert postings files (the concurrent postings
        APPEND adds new-segment files whose ids are >= base, outside
        every delete range — the kernel masks them to zero even if a
        listing races them in). Returned as a PLAN: it is unioned with
        the append's termstats delta into ONE _termstats_delta write —
        two concurrent appends into the same directory would collide in
        the committer's shared _temporary staging dir."""
        ranges = del_out["ranges"]
        span = cfg.bucket_span
        bcond = F.lit(False)
        for lo, hi in ranges:
            bcond = bcond | ((F.col("bucket") >= lo // span) &
                             (F.col("bucket") <= hi // span))
        return (idx.postings.filter(bcond)
                .select("term", "tbucket", "n", "doc_ids")
                .mapInPandas(_df_delta_kernel(ranges, -1),
                             "term string, tbucket int, df long")
                .groupBy("term", "tbucket").agg(F.sum("df").alias("df")))

    def _append_store_phase() -> DataFrame | None:
        """DocID-assign + density check (segment stats ride it) — the
        part of the append with no dependency on the delete's deltas.
        The docs_store WRITE itself happens in the second parallel phase
        (it only needs the persisted segment the check just populated)."""
        with_ids = assign_doc_ids(new_docs).withColumn(
            "doc_id", (F.col("doc_id") + base).cast("long"))
        enriched = enrich_docs(with_ids, cfg).persist()
        store_cols = set(spark.read.parquet(idx.path_of("docs_store")).columns)
        seg_cols = set(enriched.columns)
        if seg_cols != store_cols:
            enriched.unpersist()
            raise ValueError(
                "appended batch schema does not match the existing docs_store: "
                f"missing={sorted(store_cols - seg_cols)}, "
                f"extra={sorted(seg_cols - store_cols)}")
        from .postings import check_dense_ids
        try:
            stats = check_dense_ids(enriched, offset=base,
                                    label="append segment", with_stats=True,
                                    repos=repos)
            if stats.get("outside_repos"):
                # the delete covers only the hinted repos: a batch row of
                # another repo would land beside its live old copy
                raise ValueError(
                    f"upsert batch has {stats['outside_repos']} rows whose "
                    f"repo is not in repos={sorted(set(repos))}")
        except Exception:
            enriched.unpersist()
            raise
        app_out["n_new"] = stats["n"]
        app_out["dl_new"] = stats["dl_sum"]
        app_out["deg_new"] = stats["degraded"]
        return enriched

    enriched: DataFrame | None = None

    def _append_runner() -> None:
        nonlocal enriched
        enriched = _append_store_phase()

    _run_parallel([_ranges_phase, _append_runner])

    n_del = del_out.get("n_del", 0)
    dl_del = del_out.get("dl_del", 0)
    n_new = app_out.get("n_new", 0)
    dl_new = app_out.get("dl_new", 0)

    pre_avgdl = float(meta.get("avgdl", 0.0))
    dl_sum0 = int(meta.get("dl_sum", round(pre_avgdl * int(meta["n_docs"]))))
    n2 = int(meta["n_docs"]) - n_del + n_new
    dl_sum2 = dl_sum0 - int(dl_del) + dl_new
    avgdl2 = dl_sum2 / n2 if n2 else 0.0

    tf = None
    try:
        # second parallel phase: the delete's df-delta (no avgdl
        # dependency) and the docs_store segment write (reads the cache
        # the check populated) overlap the postings encode. Both
        # termstats deltas (delete's negative + append's positive) merge
        # into ONE write — same directory, one committer staging area.
        writers = []
        ts_delta = _delete_delta_df() if del_out.get("ranges") else None
        if n_new and enriched is not None:
            _seg = enriched

            def _write_docs_store() -> None:
                _seg.write.mode("append").parquet(idx.path_of("docs_store"))

            writers.append(_write_docs_store)
            # encode with the POST-upsert avgdl (exact scoring stats, same
            # value the serial delete-then-append flow produced)
            if meta.get("index_positions"):
                from .postings import positions_rows
                tf = positions_rows(enriched, cfg.term_buckets).persist()
            else:
                tf = (enriched.select("doc_id", "dl",
                                      F.explode("tokens").alias("term"))
                      .groupBy("term", "doc_id", "dl")
                      .agg(F.count("*").alias("tf")).persist())
            tfb = (tf.select("term", "doc_id", "dl", "tf")
                   .withColumn("bucket",
                               (F.col("doc_id") / cfg.bucket_span).cast("long"))
                   .withColumn("tbucket",
                               _tbucket(F.col("term"), cfg.term_buckets)))
            part = tfb.groupBy("tbucket", "bucket").applyInPandas(
                _make_encoder(cfg.k1, cfg.b, avgdl2), POSTINGS_SCHEMA)

            def _write_postings() -> None:
                (part.repartition(cfg.term_buckets, F.col("tbucket"))
                 .write.mode("append").partitionBy("tbucket")
                 .parquet(idx.path_of("postings")))

            def _write_positions() -> None:
                pos = (tf.select("term", "doc_id", "dl", "tf", "positions")
                       .withColumn("tbucket",
                                   _tbucket(F.col("term"), cfg.term_buckets)))
                (pos.repartition(cfg.term_buckets, F.col("tbucket"))
                 .write.mode("append").partitionBy("tbucket")
                 .parquet(idx.path_of("positions")))

            app_ts = (tf.groupBy("term").agg(F.count("*").alias("df"))
                      .withColumn("tbucket",
                                  _tbucket(F.col("term"), cfg.term_buckets)))
            ts_delta = (app_ts if ts_delta is None
                        else ts_delta.unionByName(app_ts))
            writers.append(_write_postings)
            if meta.get("index_positions"):
                writers.append(_write_positions)
        if ts_delta is not None:
            _ts = ts_delta

            def _write_termstats_delta() -> None:
                (_ts.write.mode("append").partitionBy("tbucket")
                 .parquet(idx.path_of("_termstats_delta")))
                if del_out.get("ranges"):
                    _append_tombstones(index_dir, idx.generation,
                                       del_out["ranges"], del_out["label"])

            writers.append(_write_termstats_delta)
        if writers:
            _run_parallel(writers)
    finally:
        if tf is not None:
            tf.unpersist()
        if enriched is not None:
            enriched.unpersist()

    if not n_new and not del_out.get("ranges"):
        return idx

    # single commit for both mutations
    prev_min = meta.get("min_encode_avgdl", pre_avgdl or 0.0)
    meta["min_encode_avgdl"] = min(prev_min, avgdl2) if avgdl2 else prev_min
    meta["n_docs"], meta["dl_sum"], meta["avgdl"] = n2, dl_sum2, avgdl2
    segs = _segments(meta)
    if n_new:
        seg_end = base + n_new
        meta["segments"] = segs + [[base, seg_end]]
        meta["degraded_docs"] = (int(meta.get("degraded_docs", 0))
                                 + app_out.get("deg_new", 0))
        meta["next_base"] = ((seg_end + cfg.bucket_span - 1)
                             // cfg.bucket_span) * cfg.bucket_span
    else:
        meta.setdefault("segments", segs)
    _write_globals(index_dir, meta)
    if del_out.get("ranges"):
        _append_lineage(spark, index_dir, f"delete:{del_out['label']}", 0,
                        meta.get("fingerprint", ""), "done", t0)
    if n_new:
        _append_lineage(spark, index_dir, "append", 0,
                        meta.get("fingerprint", ""), "done", t0)

    tombs = merge_ranges(list(idx.tombstones) + del_out.get("ranges", []))
    out = PhysicalIndex(spark, index_dir, cfg, n2, avgdl2,
                        min_encode_avgdl=meta["min_encode_avgdl"],
                        tombstones=tombs,
                        n_buckets=int(meta.get("next_base",
                                               base)) // cfg.bucket_span,
                        generation=idx.generation,
                        has_positions=idx.has_positions,
                        degraded_docs=int(meta.get("degraded_docs", 0)))
    if auto_compact and del_out.get("ranges") and _should_compact(out):
        return compact_index(spark, index_dir)
    return out


def compact_index(spark: SparkSession, index_dir: str) -> PhysicalIndex:
    """Fold tombstones + termstats deltas into the base files and refresh
    block max_tfnorm against the current avgdl (Solr optimize analog).
    doc_ids keep their values (gaps are fine — BM25 and tie-breaks only
    need order); a full re-rank would be a rebuild, not a compaction.

    Crash-safety: everything is written under NEW generation-suffixed
    directories; the single commit point is the atomic globals.json
    rewrite that bumps ``generation``. Before the commit, readers see the
    old generation untouched; after it, the new one — there is no window
    where open_index can observe a half-swapped index (the round-2
    rmtree/os.replace sequence had one)."""
    t0 = time.time()
    idx = open_index(spark, index_dir)
    cfg = idx.config
    meta = _read_globals(index_dir)
    gen = idx.generation
    delta_path = idx.path_of("_termstats_delta")
    if not idx.tombstones and not os.path.exists(delta_path):
        return idx
    avgdl = meta["avgdl"] if meta["avgdl"] > 0 else 1.0
    k1, b = cfg.k1, cfg.b
    ranges = [(int(lo), int(hi)) for lo, hi in idx.tombstones]

    def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            block, ids, tfs, dls = decode_blocks(pdf["n"], pdf["doc_ids"],
                                                 pdf["tfs"], pdf["dls"])
            keep = ~in_ranges(ids, ranges)
            block, ids, tfs, dls = block[keep], ids[keep], tfs[keep], dls[keep]
            if ids.size == 0:
                continue
            # blocks left with no live posting are dropped
            starts = np.flatnonzero(np.concatenate(([True], block[1:] != block[:-1])))
            e_ids, e_tfs, e_dls = encode_blocks(starts, ids, tfs, dls)
            tfn = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
            src = pdf.iloc[block[starts]]
            yield pd.DataFrame({
                "term": src["term"].to_numpy(object),
                "bucket": src["bucket"].to_numpy(np.int64),
                "n": np.diff(np.append(starts, ids.size)).astype(np.int32),
                "doc_ids": e_ids, "tfs": e_tfs, "dls": e_dls,
                "max_tfnorm": np.maximum.reduceat(tfn, starts),
                "tbucket": src["tbucket"].to_numpy(np.int32)})

    new_gen = gen + 1
    new_post = os.path.join(index_dir, gen_name("postings", new_gen))
    (idx.postings.mapInPandas(rewrite, POSTINGS_SCHEMA)
     .repartition(cfg.term_buckets, F.col("tbucket"))
     .write.mode("overwrite").partitionBy("tbucket").parquet(new_post))

    new_ts = os.path.join(index_dir, gen_name("termstats", new_gen))
    (idx.termstats  # merged view: base + deltas, df > 0
     .repartition(cfg.term_buckets, F.col("tbucket"))
     .write.mode("overwrite").partitionBy("tbucket").parquet(new_ts))

    new_docs = os.path.join(index_dir, gen_name("docs_store", new_gen))
    # raw store (keeps the tokens column the query-facing property drops),
    # tombstones filtered like the property does
    raw_docs = idx._read("docs_store")
    if idx.tombstones:
        raw_docs = raw_docs.filter(idx._not_tombstoned())
    raw_docs.write.mode("overwrite").parquet(new_docs)

    if idx.has_positions:
        new_pos = os.path.join(index_dir, gen_name("positions", new_gen))
        (idx.positions  # property masks tombstoned doc rows
         .repartition(cfg.term_buckets, F.col("tbucket"))
         .write.mode("overwrite").partitionBy("tbucket").parquet(new_pos))

    meta["generation"] = new_gen
    meta["min_encode_avgdl"] = meta["avgdl"]
    _write_globals(index_dir, meta)  # THE commit point (atomic os.replace)

    # post-commit cleanup: the old generation + its sidecars are no longer
    # referenced by any reader that re-opens; removal is best-effort
    from .postings import GEN_SWAPPED
    for name in GEN_SWAPPED:
        shutil.rmtree(os.path.join(index_dir, gen_name(name, gen)),
                      ignore_errors=True)
    _append_lineage(spark, index_dir, "compact", 0,
                    meta.get("fingerprint", ""), "done", t0)
    return open_index(spark, index_dir)
