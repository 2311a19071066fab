"""Physical incremental maintenance: delete / upsert / compact over the
on-disk index — cost ∝ bag size, not corpus size.

The reference's one update operation is delete-one-bag + reindex-one-bag
(EasySolr4filesIndexApp.scala:48-51, UpdateServlet.scala:59-87); round 1
only had O(corpus) full rebuilds. Here every text-index mutation except
compaction runs through ONE core, ``_mutate``: a delete passes a target
(predicate + label), an upsert passes a target (``repo IN touched``) and
a batch of new docs, and the core writes the tombstones, the df deltas
and the new segment, then commits both halves with one globals.json
rewrite and builds the returned reader like ``open_index`` does.

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

The upsert's append half = a new segment:
  * new docs take doc_ids from a fresh bucket-aligned base (globals
    ``next_base``), so their (term, bucket) block rows can never collide
    with existing ones — the postings write is a pure file append.
  * blocks encode with the post-upsert avgdl; ``min_encode_avgdl``
    tracks the minimum ever used (the UB-inflation base above).
  * doc_id no longer equals the *global* (repo, path, commit) rank after
    an upsert (the segment sits at the end), so exact-score ties may
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

import os
import shutil
import time
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.codec import decode_blocks, encode_blocks, in_ranges
from .docids import assign_doc_ids
from .index_build import enrich_docs
from .postings import (POSTINGS_SCHEMA, PhysicalIndex, _append_lineage,
                       _commit_globals, _next_base, _read_globals, _reader,
                       _round_up, _tbucket, check_dense_ids, gen_name,
                       merge_ranges, positions_rows, postings_blocks)

# auto-compact thresholds: keep the tombstone list short
# and reclaim space once deletes dominate (checked by _mutate)
AUTO_COMPACT_MAX_RANGES = 64
AUTO_COMPACT_MAX_MASKED = 0.20


def _run_parallel(spark: SparkSession, thunks) -> None:
    """Submit independent Spark actions from threads so their fixed
    per-job overheads overlap (tiny-bag maintenance is job-latency-bound;
    Spark's scheduler runs concurrent jobs on free task slots). The
    threads inherit the caller's local properties, so its job group and
    description cover every job. Raises the first failure after all
    complete."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    if len(thunks) == 1:
        thunks[0]()
        return
    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(inheritable_thread_target(spark)(t))
                   for t in thunks]
        errs = [f.exception() for f in futures]
    for e in errs:
        if e is not None:
            raise e


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


def _pred_ranges(idx: PhysicalIndex, segs: list[list[int]],
                 pred: F.Column) -> list[dict]:
    """(lo, hi, n, dls) of each doc_id-CONTIGUOUS run of the predicate's
    live docs, per segment. One pruned docs_store scan; a broadcast join
    tags each doc with its segment; an islands grouping (doc_id −
    row_number constant within a run) discovers the runs — so a whole-repo
    delete after a path-prefix delete on the same repo (non-contiguous
    live docs) yields exact runs instead of an over-covering [min, max].
    The per-segment window sorts only the predicate's own rows (O(bag))."""
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


def _df_delta_kernel(ranges: list[tuple[int, int]]):
    """Per posting block: minus how many decoded doc_ids fall in the ranges."""
    rs = [(int(lo), int(hi)) for lo, hi in ranges]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            block, ids, _, _ = decode_blocks(pdf["n"], pdf["doc_ids"])
            cnt = np.bincount(block[in_ranges(ids, rs)], minlength=len(pdf))
            hit = cnt > 0
            yield pd.DataFrame({"term": pdf["term"].to_numpy(object)[hit],
                                "tbucket": pdf["tbucket"].to_numpy(np.int32)[hit],
                                "df": -cnt[hit]})

    return kernel


def _df_delta(idx: PhysicalIndex, ranges: list[tuple[int, int]]) -> DataFrame:
    """Negative df per (term, tbucket) of the docs in ``ranges``, decoded
    from ONLY the affected buckets' blocks. Reads only pre-op postings
    files: a concurrent segment append adds ids >= its base, outside
    every range, so the kernel counts them zero even if a listing races
    them in."""
    span = idx.config.bucket_span
    bcond = F.lit(False)
    for lo, hi in ranges:
        bcond = bcond | ((F.col("bucket") >= lo // span) &
                         (F.col("bucket") <= hi // span))
    return (idx.postings.filter(bcond)
            .select("term", "tbucket", "n", "doc_ids")
            .mapInPandas(_df_delta_kernel(ranges),
                         "term string, tbucket int, df long")
            .groupBy("term", "tbucket").agg(F.sum("df").alias("df")))


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
    """Tombstone every live doc matching ``pred``; ``label`` names the
    delete in the tombstone rows and the lineage stage."""
    return _mutate(spark, index_dir, lambda: (pred, label),
                   auto_compact=auto_compact)


def _should_compact(idx: PhysicalIndex) -> bool:
    if len(idx.tombstones) > AUTO_COMPACT_MAX_RANGES:
        return True
    # fraction of STORED doc rows that are tombstoned (dead decode work),
    # not of the sparse id space — small corpora compact too
    masked = sum(hi - lo + 1 for lo, hi in idx.tombstones)
    return masked / max(idx.n_docs + masked, 1) > AUTO_COMPACT_MAX_MASKED


def upsert_repos_physical(spark: SparkSession, index_dir: str,
                          new_docs: DataFrame,
                          auto_compact: bool = True,
                          repos: list[str] | None = None) -> PhysicalIndex:
    """Delete-before-insert per repo (the reference's idempotent update,
    EasySolr4filesIndexApp.scala:48-51): every repo present in new_docs
    fully replaces its docs; cost ∝ the touched repos, not the corpus.
    One delete pass covers ALL the repos (single pruned scan + one df
    delta job), not one pass per repo, and it runs concurrently with the
    new segment's jobs (see ``_mutate``). A batch of repos the index
    does not hold is a pure append.

    ``repos``: the touched repo set, when the caller already knows it —
    the reference's update cycle always does (update(store, bagId),
    EasySolr4filesIndexApp.scala:48-51: one bag per call), so a tiny-bag
    upsert skips the repo-discovery job entirely and the delete's
    pruned-ranges scan starts immediately. Omitted ⇒ discovered with a
    distinct() over the batch (the streaming sink's path, where batch
    composition is unknown). The set must cover every repo present in
    ``new_docs``, else ValueError before any file lands (checked in the
    segment's density-check job); extra names cost one no-op range lookup
    each."""
    def target() -> tuple[F.Column, str] | None:
        touched = (sorted(set(repos)) if repos is not None
                   else sorted(r["repo"] for r in
                               new_docs.select("repo").distinct().collect()))
        return (F.col("repo").isin(touched), ",".join(touched)) if touched else None

    return _mutate(spark, index_dir, target, new_docs, repos, auto_compact)


def _mutate(spark: SparkSession, index_dir: str,
            target: Callable[[], tuple[F.Column, str] | None],
            new_docs: DataFrame | None = None,
            repos: list[str] | None = None,
            auto_compact: bool = True) -> PhysicalIndex:
    """The one text-index mutation: tombstone the live docs ``target()``
    names — a thunk returning (predicate, label) or None — and append
    ``new_docs`` (if given) as a new segment, committed by ONE
    globals.json rewrite. A delete passes no batch; an upsert passes
    both. ``repos`` is the upsert's hint, checked against the batch.

    Small-bag latency: a tiny mutation is bound by FIXED per-job round
    trips, not data (measured ~7 s for a 250-file bag at sf0.1 while the
    200k-doc ratio is 0.27 — BENCH/MAINTENANCE.md). The delete's jobs
    touch only EXISTING files and the segment's jobs only NEW ones, so
    they run CONCURRENTLY in two phases:
      1. the ranges phase (target + live-run islands scan, which yields
         the deleted Σdl) beside the segment phase (docID assign, schema
         guard, density check with the segment's stats riding it). The
         new ids land beyond every registered segment, so the islands
         join (bounded to [s0, s1)) excludes them even if the scan lists
         freshly-appended files;
      2. the writes: the docs_store segment, the postings encoded with
         the post-op avgdl (dl_sum − deleted + appended — exact scoring
         stats), positions, and ONE _termstats_delta write of the
         delete's negative and the segment's positive df (two concurrent
         appends into one directory would collide in the committer's
         shared _temporary staging dir), followed by the tombstones."""
    t0 = time.time()
    meta = _read_globals(index_dir)
    idx = _reader(spark, index_dir, meta)
    cfg = idx.config
    span = cfg.bucket_span
    # [start, end) doc_id spans; pre-maintenance indexes have one segment
    segs = meta.get("segments") or [[0, _next_base(meta)]]
    base = max(_round_up(segs[-1][1], span), _next_base(meta))
    dele: dict = {}
    app: dict = {}

    def _ranges_phase() -> None:
        tgt = target()
        if tgt is None:
            return
        pred, dele["label"] = tgt
        runs = _pred_ranges(idx, segs, pred)
        if runs:
            dele["ranges"] = [(r["lo"], r["hi"]) for r in runs]
            dele["n"] = sum(r["n"] for r in runs)
            dele["dls"] = sum(r["dls"] for r in runs)

    def _segment_phase() -> None:
        with_ids = assign_doc_ids(new_docs).withColumn(
            "doc_id", (F.col("doc_id") + base).cast("long"))
        seg = enrich_docs(with_ids, cfg).persist()
        app["seg"] = seg
        # schema guard: a segment with a different column set than the
        # existing store (e.g. a batch read through a narrower stream
        # schema, missing the ACL columns) would make spark.read.parquet
        # pick an arbitrary footer's schema — filterable columns silently
        # vanish. Fail loudly instead (footer-only read, no data scan).
        store_cols = set(spark.read.parquet(idx.path_of("docs_store")).columns)
        if set(seg.columns) != store_cols:
            raise ValueError(
                "appended batch schema does not match the existing docs_store: "
                f"missing={sorted(store_cols - set(seg.columns))}, "
                f"extra={sorted(set(seg.columns) - store_cols)}")
        # docID-density tripwire on the persisted segment BEFORE any file
        # lands (orphaned parquet files are visible to every docs_store
        # reader); the action doubles as the cache population the writes
        # need, and the segment's n/Σdl/degraded stats ride it
        stats = check_dense_ids(seg, offset=base, label="append segment",
                                with_stats=True, repos=repos)
        if stats.get("outside_repos"):
            # the delete covers only the hinted repos: a batch row of
            # another repo would land beside its live old copy
            raise ValueError(
                f"upsert batch has {stats['outside_repos']} rows whose "
                f"repo is not in repos={sorted(set(repos))}")
        app.update(n=stats["n"], dls=stats["dl_sum"], deg=stats["degraded"])

    tf = None
    try:
        _run_parallel(spark, [_ranges_phase] if new_docs is None
                      else [_ranges_phase, _segment_phase])
        ranges = dele.get("ranges", [])
        n_new = app.get("n", 0)
        if not ranges and not n_new:
            return idx
        pre_avgdl = float(meta.get("avgdl", 0.0))
        # dl_sum fallback for indexes built before dl_sum was recorded
        dl_sum0 = int(meta.get("dl_sum", round(pre_avgdl * int(meta["n_docs"]))))
        n2 = int(meta["n_docs"]) - dele.get("n", 0) + n_new
        dl_sum2 = dl_sum0 - int(dele.get("dls", 0)) + app.get("dls", 0)
        avgdl2 = dl_sum2 / n2 if n2 else 0.0

        writers = []
        ts_delta = _df_delta(idx, ranges) if ranges else None
        if n_new:
            seg = app["seg"]
            writers.append(lambda: seg.write.mode("append")
                           .parquet(idx.path_of("docs_store")))
            # the map-side positions kernel yields postings input, df
            # delta AND positions in one pass (same shape as write_index)
            if idx.has_positions:
                tf = positions_rows(seg, cfg.term_buckets).persist()
            else:
                tf = (seg.select("doc_id", "dl", F.explode("tokens").alias("term"))
                      .groupBy("term", "doc_id", "dl")
                      .agg(F.count("*").alias("tf")).persist())
            postings = postings_blocks(tf.select("term", "doc_id", "dl", "tf"),
                                       avgdl2, cfg)
            writers.append(lambda: _append_by_tbucket(postings, idx, "postings"))
            if idx.has_positions:
                positions = tf.select("term", "doc_id", "dl", "tf", "positions",
                                      "tbucket")
                writers.append(
                    lambda: _append_by_tbucket(positions, idx, "positions"))
            app_ts = (tf.groupBy("term").agg(F.count("*").alias("df"))
                      .withColumn("tbucket", _tbucket(F.col("term"),
                                                      cfg.term_buckets)))
            ts_delta = (app_ts if ts_delta is None
                        else ts_delta.unionByName(app_ts))

        def _write_termstats_delta() -> None:
            (ts_delta.write.mode("append").partitionBy("tbucket")
             .parquet(idx.path_of("_termstats_delta")))
            if ranges:
                _append_tombstones(index_dir, idx.generation, ranges,
                                   dele["label"])

        writers.append(_write_termstats_delta)
        _run_parallel(spark, writers)
    finally:
        # a failed concurrent writer must not leak the cached segment
        # across a long-lived upsert loop
        if tf is not None:
            tf.unpersist()
        if "seg" in app:
            app["seg"].unpersist()

    prev_min = meta.get("min_encode_avgdl", pre_avgdl or 0.0)
    # min_encode_avgdl is the smallest avgdl any stored block was encoded
    # with: a segment encodes with avgdl2; a pure delete encodes nothing,
    # so the pre-delete value stays (seeding the post-delete avgdl would
    # under-inflate the pruning upper bound and drop true top-k)
    meta["min_encode_avgdl"] = (min(prev_min, avgdl2) if n_new and avgdl2
                                else prev_min)
    meta["n_docs"], meta["dl_sum"], meta["avgdl"] = n2, dl_sum2, avgdl2
    meta["segments"] = segs + [[base, base + n_new]] if n_new else segs
    if n_new:
        # E2 feedback counter: metadata-only docs are counted as ingest
        # EVENTS, so deletes never decrement it
        meta["degraded_docs"] = int(meta.get("degraded_docs", 0)) + app["deg"]
        meta["next_base"] = _round_up(base + n_new, span)
    _commit_globals(index_dir, meta)
    if ranges:
        _append_lineage(spark, index_dir, f"delete:{dele['label']}", 0,
                        meta.get("fingerprint", ""), "done", t0)
    if n_new:
        _append_lineage(spark, index_dir, "append", 0,
                        meta.get("fingerprint", ""), "done", t0)
    out = _reader(spark, index_dir, meta,
                  merge_ranges(list(idx.tombstones) + ranges))
    if auto_compact and ranges and _should_compact(out):
        return compact_index(spark, index_dir)
    return out


def _append_by_tbucket(df: DataFrame, idx: PhysicalIndex, name: str) -> None:
    # pure file append into the tbucket partition dirs (one file per dir)
    (df.repartition(idx.config.term_buckets, F.col("tbucket"))
     .write.mode("append").partitionBy("tbucket").parquet(idx.path_of(name)))


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
    meta = _read_globals(index_dir)
    idx = _reader(spark, index_dir, meta)
    cfg = idx.config
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
    _commit_globals(index_dir, meta)

    # post-commit cleanup: the old generation + its sidecars are no longer
    # referenced by any reader that re-opens; removal is best-effort
    from .postings import GEN_SWAPPED
    for name in GEN_SWAPPED:
        shutil.rmtree(os.path.join(index_dir, gen_name(name, gen)),
                      ignore_errors=True)
    _append_lineage(spark, index_dir, "compact", 0,
                    meta.get("fingerprint", ""), "done", t0)
    return _reader(spark, index_dir, meta, ())
