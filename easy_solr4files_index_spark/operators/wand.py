"""Distributed block-max top-k over the physical index.

The reference's query path is Lucene's per-segment WAND traversal
(top-k by BM25 is Solr's default sort; solrconfig.xml:780-855,
SearchServlet.scala:78-103). A literal translation (a cursor walk over
posting lists) is single-machine thinking; the Spark-native equivalent
is BUCKET-LEVEL block-max pruning:

  1. Partition-pruned scan: query terms hash to tbucket directories, so
     the postings scan touches ≤ |terms| partitions, with the term
     equality pushed to parquet (PushedFilters).
  2. Upper bounds: each block row carries max_tfnorm; a bucket's bound
     is UB(bucket) = Σ_terms idf·max_tfnorm — computable WITHOUT
     decoding, from block metadata alone (block-max WAND's invariant).
  3. Phase A: exactly score the top-P buckets by UB (distributed
     TakeOrdered, P = max(4·(k+skip), 32)); the (k+skip)-th score is the
     threshold τ.
  4. Phase B: exactly score only remaining buckets with UB > τ — for
     selective queries this prunes almost everything; for match-heavy
     queries it degrades gracefully to exhaustive scoring (same as WAND).

Decoding + scoring is a vectorized Arrow kernel (mapInPandas): each
block decodes to numpy arrays and emits (doc_id, contrib) batches; the
per-doc sum is a Catalyst hash aggregate. Correctness gate:
tests/test_physical_index.py asserts rank-identity vs the numpy oracle
(oracle/bm25_oracle.py) for the pruned and the exhaustive plan (WAND
top-k == naive top-k, SURVEY.md §5.2.4).
"""

from __future__ import annotations

import json
import os
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.codec import varbyte_decode
from ..functions.xxhash import term_bucket
from .dismax import is_plain_or, parse_dismax, plain_terms
from .postings import PhysicalIndex
from .query import (_expand_clause_synonyms, _filters_expr, _idf_expr,
                    combine_clause_rows, score_phrase, validate_filters)


def _score_blocks(blocks: DataFrame, k1: float, b: float, avgdl: float,
                  single_term: bool = False,
                  tombstones: tuple[tuple[int, int], ...] = (),
                  fq_ids: DataFrame | None = None) -> DataFrame:
    """Decode blocks (term, n, doc_ids, tfs, dls, idf) -> (doc_id, score).

    ``single_term=True`` skips the per-doc sum: with one query term a doc
    appears in exactly one block, so the groupBy (a full shuffle of every
    decoded posting) would be the identity — the hot-term fast path.

    ``tombstones`` are deleted doc_id ranges (operators/maintenance.py);
    decoded postings falling inside are masked out here, so deleted docs
    can never score.

    ``fq_ids`` (doc_id-only DataFrame) pushes the filter-query semijoin
    BELOW the per-doc aggregate: with a 1%-selective fq the round-2 shape
    (aggregate everything, semijoin after) wasted 99% of the agg's
    shuffle+sum work. The semijoin shuffles on doc_id — the SAME key the
    aggregate needs — so Catalyst reuses the exchange: no extra shuffle
    of the exploded stream, strictly fewer rows aggregated. fq semantics
    are unchanged (non-scoring, like Solr fq).
    """
    avgdl = avgdl if avgdl > 0 else 1.0
    ranges = [(int(lo), int(hi)) for lo, hi in tombstones]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs_ids, outs_contrib = [], []
            for row in pdf.itertuples(index=False):
                n = row.n
                ids = np.cumsum(varbyte_decode(row.doc_ids, n), dtype=np.uint64).astype(np.int64)
                tfs = varbyte_decode(row.tfs, n).astype(np.float64)
                dls = varbyte_decode(row.dls, n).astype(np.float64)
                if ranges:
                    keep = np.ones(ids.shape, dtype=bool)
                    for lo, hi in ranges:
                        keep &= ~((ids >= lo) & (ids <= hi))
                    if not keep.all():
                        ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
                    if ids.size == 0:
                        continue
                contrib = row.idf * tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
                outs_ids.append(ids)
                outs_contrib.append(contrib)
            if outs_ids:
                yield pd.DataFrame({"doc_id": np.concatenate(outs_ids),
                                    "contrib": np.concatenate(outs_contrib)})

    exploded = blocks.select("n", "doc_ids", "tfs", "dls", "idf").mapInPandas(
        kernel, "doc_id long, contrib double")
    if fq_ids is not None:
        exploded = exploded.join(fq_ids, "doc_id", "left_semi")
    if single_term:
        return exploded.withColumnRenamed("contrib", "score")
    return exploded.groupBy("doc_id").agg(F.sum("contrib").alias("score"))


def _term_clause_rows(blocks: DataFrame, cmap: list[tuple[str, int, str]],
                      k1: float, b: float, avgdl: float,
                      tombstones: tuple[tuple[int, int], ...] = ()) -> DataFrame:
    """Decode blocks to per-clause rows (doc_id, cid, kind, contrib) for
    the boolean combiner — like _score_blocks but each posting keeps its
    term so the clause map (term → [(cid, kind)]) can tag it. The map is
    query-sized, so it goes in as a literal CASE→array→explode projection
    rather than a broadcast join: one fewer exchange (and one fewer AQE
    stage job) on a latency-sensitive path."""
    avgdl = avgdl if avgdl > 0 else 1.0
    ranges = [(int(lo), int(hi)) for lo, hi in tombstones]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            o_term, o_ids, o_contrib = [], [], []
            for row in pdf.itertuples(index=False):
                n = row.n
                ids = np.cumsum(varbyte_decode(row.doc_ids, n), dtype=np.uint64).astype(np.int64)
                tfs = varbyte_decode(row.tfs, n).astype(np.float64)
                dls = varbyte_decode(row.dls, n).astype(np.float64)
                if ranges:
                    keep = np.ones(ids.shape, dtype=bool)
                    for lo, hi in ranges:
                        keep &= ~((ids >= lo) & (ids <= hi))
                    if not keep.all():
                        ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
                    if ids.size == 0:
                        continue
                contrib = row.idf * tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
                o_term.append(np.full(ids.shape, row.term, dtype=object))
                o_ids.append(ids)
                o_contrib.append(contrib)
            if o_ids:
                yield pd.DataFrame({"term": np.concatenate(o_term),
                                    "doc_id": np.concatenate(o_ids),
                                    "contrib": np.concatenate(o_contrib)})

    decoded = blocks.select("term", "n", "doc_ids", "tfs", "dls", "idf").mapInPandas(
        kernel, "term string, doc_id long, contrib double")
    from .query import _sstr, _term_case_sql
    by_term: dict[str, list[tuple[int, str]]] = {}
    for term, cid, kind in cmap:
        by_term.setdefault(term, []).append((cid, kind))
    # one parsed CASE->array->explode expression (the per-term F.when/
    # F.array/F.struct chain costs a Py4J round-trip per node)
    tag = _term_case_sql(
        {term: ("array(" + ", ".join(
            f"named_struct('cid', CAST({cid} AS INT), 'kind', {_sstr(kind)})"
            for cid, kind in cks) + ")")
         for term, cks in by_term.items()},
        "CAST(NULL AS array<struct<cid:int,kind:string>>)")
    return (decoded.selectExpr("doc_id", f"explode({tag}) AS ck", "contrib")
            .selectExpr("doc_id", "ck.cid AS cid", "ck.kind AS kind",
                        "contrib"))


# Stored-field fetch strategy cutover (bytes of docs_store on disk).
# Below: broadcast the ≤k-row page onto a full store scan — one job, and
# at small scale the scan is cheaper than a second driver round-trip.
# Above: collect the k winner ids and fetch stored fields through a
# doc_id IN (...) filter PUSHED to parquet row-group statistics — the
# lookup reads ~k row groups instead of the whole store (Lucene's
# fetch-stored-fields-by-docID shape; at 100 TB the full-store scan is
# the difference between milliseconds and a cluster-wide pass).
_FETCH_BY_ID_BYTES = int(os.environ.get("SPARK_FTS_FETCH_BY_ID_BYTES",
                                        str(1 << 30)))

# Block-max pruning engages only when the index has this many times more
# buckets than the hot set P — below that the UB job + two-phase plan
# costs more than the decode it skips (see the cutover comment in
# _blockmax).
_PRUNE_MIN_BUCKET_FACTOR = int(os.environ.get("SPARK_FTS_PRUNE_FACTOR", "4"))

_PAGE_COLS = ("doc_id", "repo", "path", "lang", "score")
_PAGE_SCHEMA = "doc_id long, repo string, path string, lang string, score double"


def _stored_fields_page(index: PhysicalIndex, page_narrow: DataFrame) -> DataFrame:
    """(doc_id, score) page (≤ k rows) -> full result page with stored
    fields, ordered (score desc, doc_id asc). See _FETCH_BY_ID_BYTES for
    the two physical strategies."""
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    cols = list(_PAGE_COLS)
    if index.docs_store_bytes < _FETCH_BY_ID_BYTES:
        return (F.broadcast(page_narrow)
                .join(index.docs_store.select("doc_id", "repo", "path", "lang"),
                      "doc_id")
                .orderBy(*order).select(*cols))
    rows = page_narrow.collect()
    if not rows:
        return index.spark.createDataFrame([], _PAGE_SCHEMA)
    score_df = index.spark.createDataFrame(
        [(int(r["doc_id"]), float(r["score"])) for r in rows],
        "doc_id long, score double")
    fields = (index.docs_store
              .filter(F.col("doc_id").isin([int(r["doc_id"]) for r in rows]))
              .select("doc_id", "repo", "path", "lang"))
    return (fields.join(F.broadcast(score_df), "doc_id")
            .orderBy(*order).select(*cols))


def _prune_pred_sql(terms: list[str], term_buckets: int) -> str:
    """`tbucket IN (...) AND term IN (...)` as ONE SQL string (a single
    parsed filter call; the Column form costs ~6 Py4J round-trips) —
    same predicate, same partition/row-group pruning."""
    from .query import _sstr
    tbs = sorted({term_bucket(t, term_buckets) for t in terms})
    tlist = ", ".join(_sstr(t) for t in sorted(set(terms)))
    return (f"tbucket IN ({', '.join(str(b) for b in tbs)}) "
            f"AND term IN ({tlist})")


def _pruned_blocks(index: PhysicalIndex, terms: list[str]) -> DataFrame:
    """Term/tbucket-pruned postings blocks with Lucene idf joined IN-PLAN
    from the equally-pruned termstats scan — the shared front of every
    OR/WAND scoring path (_blockmax, search_with_found). tbucket =
    pmod(xxhash64(term), T) is computed driver-side (pure-Python XXH64,
    parity-tested vs the Spark expression): zero Spark jobs for query
    planning, and the values prune BOTH scans (partition dirs + parquet
    row-group stats). Keeping idf in-plan (vs collecting df first) saves
    a driver round-trip — the single broadcast feeds everything."""
    cfg = index.config
    pred = _prune_pred_sql(terms, cfg.term_buckets)
    ts = (index.termstats.filter(pred)
          .withColumn("idf", _idf_expr(index.n_docs)))
    return (index.postings.filter(pred)
            .join(F.broadcast(ts.select("term", "idf")), "term"))


def _idf_map_cached(index: PhysicalIndex, terms: list[str]) -> dict[str, float]:
    """{term: Lucene idf} for the index's terms among ``terms``, memoized
    for the lifetime of the reader — Lucene likewise resolves term
    statistics once per IndexReader, and every maintenance op reopens the
    index (new PhysicalIndex), so the cache cannot outlive the n_docs/df
    values it was computed from. Terms absent from the index are
    remembered as absent (no repeat lookups for them either); only
    genuinely new terms pay the pruned termstats collect."""
    cache: dict[str, float | None] = index.__dict__.setdefault("_idf_cache", {})
    miss = sorted(t for t in terms if t not in cache)
    if miss:
        tbs = sorted({term_bucket(t, index.config.term_buckets) for t in miss})
        found = {
            r["term"]: float(r["idf"])
            for r in (index.termstats
                      .filter(F.col("tbucket").isin(tbs)
                              & F.col("term").isin(miss))
                      .withColumn("idf", _idf_expr(index.n_docs))
                      .select("term", "idf").collect())
        }
        for t in miss:
            cache[t] = found.get(t)
    return {t: v for t in terms if (v := cache.get(t)) is not None}


def _score_boolean_physical(index: PhysicalIndex, clauses,
                            fq_ids: DataFrame | None) -> DataFrame:
    """(doc_id, score) for a boolean/phrase dismax query over the
    physical index — exact scoring (no block-max pruning: a MUST/MUST_NOT
    predicate or a positional phrase invalidates the per-term upper
    bounds the bucket UB job relies on; Lucene likewise drops WAND for
    boolean-with-prohibited and phrase scorers).

    Scale shape: every scan below is pruned to the query's term buckets
    (partition dirs) and terms (parquet row-group stats); phrase
    positions come from the positions/ dataset, pruned the same way; the
    clause tag map is a broadcast; the combiner is one hash aggregate on
    doc_id (operators/query.combine_clause_rows)."""
    cfg = index.config
    n_must = sum(1 for c in clauses if c.occur == "must")
    term_clauses = [(i, c) for i, c in enumerate(clauses) if not c.is_phrase]
    phrase_clauses = [(i, c) for i, c in enumerate(clauses) if c.is_phrase]
    all_terms = sorted({t for _, c in term_clauses for t in c.terms}
                       | {t for _, c in phrase_clauses for t in c.terms})
    # idf for the query's terms comes from ONE collect of the pruned
    # termstats scan (≤ |query terms| rows at any corpus size — the scan
    # is partition- and row-group-pruned), memoized per reader. The
    # OR/WAND path keeps idf in-plan because its single broadcast feeds
    # everything; here the collected map replaces THREE exchange stages
    # (idf broadcast join, per-phrase Σidf aggregate, its crossJoin
    # broadcast) on a latency-sensitive path. idf is still evaluated
    # JVM-side (same _idf_expr plan), so scores are bit-identical to the
    # in-plan join.
    idf_map = _idf_map_cached(index, all_terms)

    parts: list[DataFrame] = []
    if term_clauses:
        from .query import _dlit, _term_case_sql
        qterms = sorted({c.terms[0] for _, c in term_clauses})
        # one parsed CASE expression instead of a per-term F.when chain
        # (each chain node is a Py4J round-trip — see query._tfnorm_sql)
        idf_expr = F.expr(_term_case_sql(
            {t: _dlit(idf_map[t]) for t in qterms if t in idf_map},
            "CAST(NULL AS DOUBLE)"))
        blocks = (index.postings
                  .filter(_prune_pred_sql(qterms, cfg.term_buckets))
                  .withColumn("idf", idf_expr))
        cmap = [(c.terms[0], i, c.occur) for i, c in term_clauses]
        parts.append(_term_clause_rows(blocks, cmap, cfg.k1, cfg.b,
                                       index.avgdl, index.tombstones))
    if phrase_clauses:
        pterms = sorted({t for _, c in phrase_clauses for t in c.terms})
        pos = index.positions.filter(
            _prune_pred_sql(pterms, cfg.term_buckets))
        for i, c in phrase_clauses:
            # Lucene PhraseQuery idf: Σ over the term SEQUENCE (dups count)
            phidf = sum(idf_map.get(t, 0.0) for t in c.terms)
            ph = score_phrase(pos, c.terms, cfg.k1, cfg.b, index.avgdl,
                              phidf)
            from .query import _sstr as _q
            parts.append(ph.selectExpr("doc_id", f"{i} AS cid",
                                       f"{_q(c.occur)} AS kind", "contrib"))
    return combine_clause_rows(parts, n_must, fq_ids)


class _Query(NamedTuple):
    """A search request after the prologue every search path shares."""
    k: int
    skip: int
    store: DataFrame            # docs_store under the fq
    kind: str                   # "all" | "none" | "or" | "bool"
    clauses: list
    terms: list[str]            # the plain-OR terms (kind "or")
    fq_ids: DataFrame | None    # doc_id-only fq semijoin input


def _prepare(index: PhysicalIndex, text: str | None, k: int, skip: int,
             filters, synonyms, fq_docset: DataFrame | None) -> _Query:
    """The shared prologue: invalid k/skip default to 10/0 like
    SearchServlet.scala:76-77, the fq is validated before any Spark job,
    and the text is parsed (dismax + synonym expansion) and routed.
    ``kind`` is "all" for match-all (no text), "or" for a plain bag of
    terms (the block-max path), "bool" for +/-/phrase clauses, and "none"
    when the query is provably empty: no term survives analysis, or no
    positive clause is left (Lucene's MatchNoDocsQuery).

    fq pushdown: ``fq_ids``, the doc_id-only filtered-store projection,
    semijoins the DECODED posting stream before the per-doc aggregate
    (_score_blocks), so scores are never computed for docs the fq
    excludes. A filterCache hit (operators/caches.py) substitutes its
    persisted DocSet (``fq_docset``)."""
    cfg = index.config
    k = k if isinstance(k, int) and k >= 1 else 10
    skip = skip if isinstance(skip, int) and skip >= 0 else 0
    validate_filters(filters, index.docs_store.columns)
    store = index.docs_store.filter(_filters_expr(filters))
    if text is None:
        return _Query(k, skip, store, "all", [], [], None)
    clauses = _expand_clause_synonyms(parse_dismax(text, cfg.stopwords),
                                      synonyms, cfg.stopwords)
    terms = sorted(set(plain_terms(clauses)))
    if is_plain_or(clauses):
        kind = "or" if terms else "none"
    elif any(c.occur in ("should", "must") for c in clauses):
        kind = "bool"
    else:
        kind = "none"
    if fq_docset is not None:
        fq_ids = fq_docset
    else:
        fq_ids = store.select("doc_id") if filters else None
    return _Query(k, skip, store, kind, clauses, terms, fq_ids)


def _empty_page(index: PhysicalIndex) -> DataFrame:
    return (index.docs_store.withColumn("score", F.lit(0.0))
            .select(*_PAGE_COLS).limit(0))


def _matchall_page(q: _Query) -> DataFrame:
    """match-all *:* (SearchServlet.scala:80): constant score, docID order."""
    return (q.store.orderBy(F.col("doc_id").asc()).offset(q.skip).limit(q.k)
            .withColumn("score", F.lit(1.0)).select(*_PAGE_COLS))


def _topk_page(index: PhysicalIndex, scored: DataFrame, q: _Query,
               round_score: int | None) -> DataFrame:
    """Cut FIRST on the narrow (doc_id, score) stream (TakeOrdered — no
    global shuffle), then join stored fields only for the k winners
    (_stored_fields_page). The fq was already applied below the
    aggregate (fq_ids)."""
    sc = (F.round(F.col("score"), round_score) if round_score is not None
          else F.col("score"))
    page = (scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .offset(q.skip).limit(q.k)
            .select("doc_id", sc.alias("score")))
    return _stored_fields_page(index, page)


def _score_or(index: PhysicalIndex, blocks: DataFrame, q: _Query) -> DataFrame:
    """(doc_id, score) of a plain-OR query over ``blocks``. With one
    query term a doc appears in exactly one block, so the per-doc sum is
    skipped even if the term turns out to have no postings."""
    cfg = index.config
    return _score_blocks(blocks, cfg.k1, cfg.b, index.avgdl,
                         single_term=len(q.terms) == 1,
                         tombstones=index.tombstones, fq_ids=q.fq_ids)


def search_blockmax(index: PhysicalIndex, text: str | None = None, k: int = 10,
                    skip: int = 0, filters: dict[str, list[str]] | None = None,
                    round_score: int | None = 4, prune: bool | None = None,
                    synonyms: dict[str, list[str]] | None = None,
                    fq_docset: DataFrame | None = None) -> DataFrame:
    """Top-k page over the physical index as a DataFrame of (doc_id,
    repo, path, lang, score), ordered score desc then doc_id asc.

    ``prune`` is tri-state: ``None`` (default) lets the measured cutover
    heuristic pick between the one-job exhaustive plan and the two-phase
    block-max pruned plan; ``True`` forces the pruned plan regardless of
    index size; ``False`` forces the exhaustive plan.

    ``fq_docset``: an already-materialized doc_id DocSet for ``filters``
    (the filterCache path, operators/caches.py) — substituted for the
    fq semijoin input below the scoring aggregate; ``filters`` must
    still be passed (the match-all/store paths and validation use it)."""
    page, _ = _blockmax(index, text, k, skip, filters, round_score, prune,
                        synonyms, time_allowed_ms=None, fq_docset=fq_docset)
    return page


def search_budgeted(index: PhysicalIndex, text: str | None = None, k: int = 10,
                    skip: int = 0, filters: dict[str, list[str]] | None = None,
                    time_allowed_ms: float = 5000.0,
                    round_score: int | None = 4,
                    synonyms: dict[str, list[str]] | None = None,
                    ) -> tuple[DataFrame, bool]:
    """T3 `timeAllowed` analog (SearchServlet.scala:97 pins 5000 ms;
    Solr's partialResults). Returns (page, partial).

    Lucene's TimeLimitingCollector aborts a cursor walk mid-traversal;
    Spark can't interrupt a running stage, so the budget gates the
    PHASES of the block-max plan: the bucket-UB job and phase A (the
    hot-bucket exact scoring that any answer needs) always run; if the
    budget is exhausted before the completion pass (phase B over
    remaining buckets with UB ≥ τ), it is skipped and ``partial=True``
    — the page is then the exact top-k over the hot subset, exactly the
    best-effort contract of Solr's partial results. A query that
    completes within budget returns the normal exact answer and
    ``partial=False``."""
    return _blockmax(index, text, k, skip, filters, round_score, None,
                     synonyms, time_allowed_ms=time_allowed_ms)


def _blockmax(index: PhysicalIndex, text: str | None, k: int, skip: int,
              filters, round_score: int | None, prune: bool | None, synonyms,
              time_allowed_ms: float | None,
              fq_docset: DataFrame | None = None) -> tuple[DataFrame, bool]:
    import time as _time

    t_start = _time.perf_counter()
    q = _prepare(index, text, k, skip, filters, synonyms, fq_docset)
    if q.kind == "all":
        return _matchall_page(q), False
    if q.kind == "none":
        return _empty_page(index), False
    if q.kind == "bool":
        # +/-/phrase clauses: exact boolean scoring (block-max upper
        # bounds don't survive MUST_NOT or positional predicates — Lucene
        # likewise disables WAND there); scans stay term-pruned.
        return _topk_page(index, _score_boolean_physical(index, q.clauses,
                                                         q.fq_ids),
                          q, round_score), False

    blocks = _pruned_blocks(index, q.terms)
    p = max(4 * (q.k + q.skip), 32)
    if prune is False or (prune is None and index.n_buckets
                          and index.n_buckets <= p * _PRUNE_MIN_BUCKET_FACTOR):
        # (prune=None = auto; an explicit True/False pins the plan.)
        # pruning needs MORE buckets than the hot-set size P to ever drop
        # one, and enough headroom beyond P to pay for its extra jobs:
        # the pruned plan runs an UB job + a persist + two scoring phases
        # where the exhaustive plan runs one job, so it only wins when it
        # can skip a large FRACTION of buckets. Measured on the 200k-doc
        # corpus (49 buckets, P=40): exhaustive top-k 0.16-0.5 s vs the
        # pruned plan's 1.4-1.7 s — a 3x regression for a 18% decode
        # saving. The factor keeps small/medium indexes on the one-job
        # plan; at cluster scale n_buckets ~ n_docs/span >> 4P and
        # pruning engages exactly where the decode volume dominates.
        return _topk_page(index, _score_or(index, blocks, q), q,
                          round_score), False

    # bucket-level block-max pruning. One job decides coverage AND picks
    # the hot set: TakeOrdered of P+1 bucket bounds — if it returns ≤ P
    # rows, the hot set IS every bucket and phase A is exhaustive+final.
    # ub_scale: stored max_tfnorm was encoded with min_encode_avgdl; if
    # incremental maintenance raised avgdl since, true tfnorm can exceed
    # the stored bound by at most avgdl_now/min_encode_avgdl (maintenance.py)
    ub_scale = 1.0
    if index.min_encode_avgdl and index.min_encode_avgdl > 0 and index.avgdl > 0:
        ub_scale = max(1.0, index.avgdl / index.min_encode_avgdl)
    ub = blocks.groupBy("bucket").agg(
        (F.sum(F.col("idf") * F.col("max_tfnorm")) * F.lit(ub_scale)).alias("ub"))
    ub_rows = ub.orderBy(F.col("ub").desc()).limit(p + 1).collect()
    if len(ub_rows) == 0:
        # no query term exists in the index
        return _empty_page(index), False
    if len(ub_rows) <= p:
        return _topk_page(index, _score_or(index, blocks, q), q,
                          round_score), False
    hot = [r["bucket"] for r in ub_rows[:p]]

    blocks = blocks.persist()
    try:
        # fq is already inside _score_blocks (below the aggregate), so
        # phase A's stream — and hence tau — is fq-consistent by shape
        phase_a = _score_or(index, blocks.filter(F.col("bucket").isin(hot)), q)
        a_rows = (phase_a.orderBy(F.col("score").desc(), F.col("doc_id").asc())
                  .limit(q.k + q.skip).collect())
        tau = a_rows[-1]["score"] if len(a_rows) >= q.k + q.skip else float("-inf")
        if (time_allowed_ms is not None
                and (_time.perf_counter() - t_start) * 1000.0 > time_allowed_ms):
            # budget exhausted before the completion pass (T3): return the
            # exact top-k over the hot subset, flagged partial — phase A's
            # page must be pinned locally before the persisted blocks are
            # released by the finally below
            rows = _topk_page(index, phase_a, q, round_score).collect()
            return index.spark.createDataFrame(rows, _PAGE_SCHEMA), True
        # survivors stay distributed (no driver collect of bucket ids):
        # a doc's postings all live in its one bucket, so phases score
        # disjoint doc sets and a plain union is exact.
        # >= tau, not > tau: a pruned doc whose exact score EQUALS tau but
        # whose doc_id is lower than the (k+skip)-th would win the tie-break
        rest_df = ub.filter(~F.col("bucket").isin(hot) & (F.col("ub") >= tau)).select("bucket")
        phase_b = _score_or(index, blocks.join(rest_df, "bucket"), q)
        return _topk_page(index, phase_a.unionByName(phase_b), q,
                          round_score), False
    finally:
        blocks.unpersist()


def search_with_found(index: PhysicalIndex, text: str | None = None,
                      k: int = 10, skip: int = 0,
                      filters: dict[str, list[str]] | None = None,
                      round_score: int | None = 4,
                      synonyms: dict[str, list[str]] | None = None,
                      fq_docset: DataFrame | None = None,
                      ) -> tuple[DataFrame, int]:
    """(page, found) from ONE scoring traversal — the reference's envelope
    ALWAYS carries numFound alongside the page (Solr.scala:91-103,
    api.yml:181).

    Exact total-hit counting must visit every matched posting no matter
    what (the same reason Lucene disables WAND skipping when an exact
    totalHits is requested), so this path skips the UB job, scores
    exhaustively ONCE, persists the narrow (doc_id, score) stream, and
    derives BOTH the page (TakeOrderedAndProject) and the count from it.
    The returned page is a small local DataFrame (k rows) — the persisted
    stream is released before returning."""
    q = _prepare(index, text, k, skip, filters, synonyms, fq_docset)
    if q.kind == "all":
        found = q.store.count()
        return _matchall_page(q), found
    if q.kind == "none":
        return _empty_page(index), 0
    if q.kind == "bool":
        scored = _score_boolean_physical(index, q.clauses, q.fq_ids)
    else:
        scored = _score_or(index, _pruned_blocks(index, q.terms), q)
    scored = scored.persist()
    try:
        found = scored.count()
        if found == 0:
            return _empty_page(index), 0
        out = _topk_page(index, scored, q, round_score)
        # pin the k winners locally so the persisted stream can be released
        rows = out.collect()
        return index.spark.createDataFrame(rows, out.schema), found
    finally:
        scored.unpersist()


def _envelope(index: PhysicalIndex, text: str | None, k: int, skip: int,
              filters, synonyms, time_allowed_ms: int) -> tuple[dict, list]:
    """(summary, page rows) of the reference's response envelope
    (Solr.scala:91-103,173-181; api.yml:172-256) from one scoring pass
    (search_with_found). ``time_allowed`` echoes the pinned 5000 ms
    budget (SearchServlet.scala:97). Exact ``found`` requires visiting
    every match, so the count pass is never early-terminated (the same
    trade-off Lucene makes for exact totalHits); the budget is honored
    by the page-only path (search_budgeted)."""
    page, found = search_with_found(index, text, k, skip, filters,
                                    synonyms=synonyms)
    rows = page.collect()
    summary = {"text": text if text is not None else "*",
               "skip": skip, "limit": k,
               "time_allowed": int(time_allowed_ms),
               "found": found, "returned": len(rows)}
    return summary, rows


def search_envelope_df(index: PhysicalIndex, text: str | None = None,
                       k: int = 10, skip: int = 0,
                       filters: dict[str, list[str]] | None = None,
                       synonyms: dict[str, list[str]] | None = None,
                       time_allowed_ms: int = 5000) -> DataFrame:
    """S13 result-sink envelope as a DataFrame: the summary fields
    ``found``, ``returned`` and ``time_allowed`` carried as columns on
    the page rows, so the whole envelope is oracle-checkable as one
    relational result."""
    summary, rows = _envelope(index, text, k, skip, filters, synonyms,
                              time_allowed_ms)
    head = (summary["found"], summary["returned"], summary["time_allowed"])
    return index.spark.createDataFrame(
        [head + tuple(r) for r in rows],
        "found long, returned long, time_allowed int, " + _PAGE_SCHEMA)


def search_envelope_physical(index: PhysicalIndex, text: str | None = None,
                             k: int = 10, skip: int = 0,
                             filters: dict[str, list[str]] | None = None,
                             synonyms: dict[str, list[str]] | None = None,
                             time_allowed_ms: int = 5000) -> str:
    """The response envelope as the reference's JSON document (the CLI's
    ``query`` output)."""
    summary, rows = _envelope(index, text, k, skip, filters, synonyms,
                              time_allowed_ms)
    items = [{"repo": r["repo"], "path": r["path"], "lang": r["lang"],
              "score": r["score"]} for r in rows]
    return json.dumps({"summary": summary, "fileitems": items})
