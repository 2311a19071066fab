"""Distributed top-k over the physical index.

The reference's query path is Lucene's per-segment WAND traversal
(top-k by BM25 is Solr's default sort; solrconfig.xml:780-855,
SearchServlet.scala:78-103): one pass per segment that scores and keeps
a top-k heap. The Spark-native shape of that pass is BUCKET-LOCAL top-k:

  1. Partition-pruned scan: query terms hash to tbucket directories, so
     the postings scan touches ≤ |terms| partitions, with the term
     equality pushed to parquet (PushedFilters). idf is a literal CASE
     column from the reader's memoized idf map — no termstats join.
  2. Every query-term posting of a doc lives in that doc's one doc-range
     ``bucket`` (postings.py), so a top-k computed inside each bucket is
     exact. The pruned blocks — plus the fq doc ids, keyed by the same
     ``bucket = doc_id // bucket_span`` — go through ONE
     ``repartition("bucket")`` (no fixed count: AQE coalesces it).
  3. One vectorized kernel per partition (mapInPandas, _topk_kernel)
     sorts the blocks by (bucket, term), decodes them all in one pass
     (codec.decode_blocks), masks tombstones and the fq, sums per doc
     (np.unique + np.bincount) and keeps the local top ``k+skip`` rows by
     (score desc, doc_id asc). With one term and no fq each doc sits in
     exactly one block, so the repartition is skipped.
  4. TakeOrdered over the partitions' local winners cuts the page,
     and the k winners' stored fields come from a broadcast join.

This is the partition-local top-k aggregation of "Cache-Efficient Top-k
Aggregation over High Cardinality Large Datasets" (VLDB 2023), run as a
batch kernel instead of per-row Python.

``search`` is the one query entry point and returns
``SearchResult(page, found, partial)``. ``found=True`` runs the same
kernel with no local cut (exact counting must visit every match); a
``time_allowed_ms`` budget keeps block-max bucket bounds (Σ idf·max_tfnorm,
from block metadata alone) to order the kernel's work into a hot phase
and a completion phase that the budget can skip. ``envelope`` renders
the reference's ``{summary, fileitems}`` response from one
``search(found=True)``. Correctness gate: tests/test_physical_index.py
asserts rank-identity vs the numpy oracle (oracle/bm25_oracle.py) in
every mode.
"""

from __future__ import annotations

import time
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.codec import decode_blocks, in_ranges
from ..functions.xxhash import term_bucket
from .dismax import is_plain_or, parse_dismax, plain_terms
from .postings import PhysicalIndex
from .query import (_dlit, _expand_clause_synonyms, _filters_expr, _idf_expr,
                    _sstr, _term_case_sql, combine_clause_rows, score_phrase,
                    validate_filters)


def _bm25(idf: np.ndarray, tfs: np.ndarray, dls: np.ndarray, k1: float,
          b: float, avgdl: float) -> np.ndarray:
    """Per-posting BM25 contribution idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))."""
    tf = tfs.astype(np.float64)
    return idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dls / avgdl))


def _topk_kernel(k1: float, b: float, avgdl: float,
                 tombstones: tuple[tuple[int, int], ...], use_fq: bool,
                 cut: int | None):
    """The bucket-local top-k pass over one partition of
    (bucket, term, n, doc_ids, tfs, dls, idf, fq) rows -> (doc_id, score).

    Block rows carry ``fq = -1``; with an fq each passing doc adds one
    empty block row carrying its id in ``fq``. The whole partition is
    gathered first (a doc's blocks may span Arrow batches), sorted by
    (bucket, term) so every doc sums its terms in one fixed order — the
    scores are bit-identical whichever partition or batch a block arrived
    in — and decoded in one pass. ``cut`` keeps the local top ``cut``
    by (score desc, doc_id asc); None keeps every match."""
    avgdl = avgdl if avgdl > 0 else 1.0

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        fq = pdf["fq"].to_numpy(np.int64)
        fq_ids = fq[fq >= 0]
        pdf = pdf[fq < 0].sort_values(["bucket", "term"], kind="stable")
        block, ids, tfs, dls = decode_blocks(pdf["n"], pdf["doc_ids"],
                                             pdf["tfs"], pdf["dls"])
        keep = ~in_ranges(ids, tombstones)
        if use_fq:
            keep &= np.isin(ids, fq_ids)
        if not keep.all():
            block, ids, tfs, dls = block[keep], ids[keep], tfs[keep], dls[keep]
        if ids.size == 0:
            return
        idf = pdf["idf"].to_numpy(np.float64)[block]
        docs, inv = np.unique(ids, return_inverse=True)
        scores = np.bincount(inv, weights=_bm25(idf, tfs, dls, k1, b, avgdl),
                             minlength=docs.size)
        if cut is not None and docs.size > cut:
            top = np.lexsort((docs, -scores))[:cut]
            docs, scores = docs[top], scores[top]
        yield pd.DataFrame({"doc_id": docs, "score": scores})

    return kernel


def _term_clause_rows(blocks: DataFrame, cmap: list[tuple[str, int, str]],
                      k1: float, b: float, avgdl: float,
                      tombstones: tuple[tuple[int, int], ...] = ()) -> DataFrame:
    """Decode blocks to per-clause rows (doc_id, cid, kind, contrib) for
    the boolean combiner — each posting keeps its term so the clause map
    (term → [(cid, kind)]) can tag it. The map is query-sized, so it goes
    in as a literal CASE→array→explode projection rather than a broadcast
    join: one fewer exchange (and one fewer AQE stage job) on a
    latency-sensitive path."""
    avgdl = avgdl if avgdl > 0 else 1.0

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            block, ids, tfs, dls = decode_blocks(pdf["n"], pdf["doc_ids"],
                                                 pdf["tfs"], pdf["dls"])
            keep = ~in_ranges(ids, tombstones)
            block, ids, tfs, dls = block[keep], ids[keep], tfs[keep], dls[keep]
            idf = pdf["idf"].to_numpy(np.float64)[block]
            yield pd.DataFrame({"term": pdf["term"].to_numpy(object)[block],
                                "doc_id": ids,
                                "contrib": _bm25(idf, tfs, dls, k1, b, avgdl)})

    decoded = blocks.select("term", "n", "doc_ids", "tfs", "dls", "idf").mapInPandas(
        kernel, "term string, doc_id long, contrib double")
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
_FETCH_BY_ID_BYTES = 1 << 30

# the timeAllowed the reference pins on every request (SearchServlet.scala:97),
# echoed in the envelope's summary
_TIME_ALLOWED_MS = 5000

_PAGE_COLS = ("doc_id", "repo", "path", "lang", "score")
_PAGE_SCHEMA = "doc_id long, repo string, path string, lang string, score double"


def _stored_fields_page(index: PhysicalIndex, page_narrow: DataFrame,
                        k: int) -> DataFrame:
    """(doc_id, score) page (≤ k rows) -> full result page with stored
    fields, ordered (score desc, doc_id asc). See _FETCH_BY_ID_BYTES for
    the two physical strategies. Both end in orderBy + limit, which plans
    as TakeOrderedAndProject: a bare orderBy would plan a range-partition
    exchange (a sampling job and a shuffle job) to sort ≤ k rows."""
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    cols = list(_PAGE_COLS)
    if index.docs_store_bytes < _FETCH_BY_ID_BYTES:
        return (F.broadcast(page_narrow)
                .join(index.docs_store.select("doc_id", "repo", "path", "lang"),
                      "doc_id")
                .orderBy(*order).limit(k).select(*cols))
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
            .orderBy(*order).limit(k).select(*cols))


def _prune_pred_sql(terms: list[str], term_buckets: int) -> str:
    """`tbucket IN (...) AND term IN (...)` as ONE SQL string (a single
    parsed filter call; the Column form costs ~6 Py4J round-trips) —
    same predicate, same partition/row-group pruning."""
    tbs = sorted({term_bucket(t, term_buckets) for t in terms})
    tlist = ", ".join(_sstr(t) for t in sorted(set(terms)))
    return (f"tbucket IN ({', '.join(str(b) for b in tbs)}) "
            f"AND term IN ({tlist})")


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


def _idf_blocks(index: PhysicalIndex, terms: list[str],
                idf_map: dict[str, float]) -> DataFrame:
    """Postings blocks of ``terms``, term/tbucket-pruned, with their idf
    from ``idf_map`` as a literal CASE column: one parsed expression (a
    per-term F.when chain costs a Py4J round-trip per node) and no join
    against termstats. idf was evaluated JVM-side by the same _idf_expr
    plan, so scores are bit-identical to an in-plan join."""
    idf = _term_case_sql({t: _dlit(idf_map[t]) for t in terms if t in idf_map},
                         "CAST(NULL AS DOUBLE)")
    return (index.postings
            .filter(_prune_pred_sql(terms, index.config.term_buckets))
            .withColumn("idf", F.expr(idf)))


def _score_boolean_physical(index: PhysicalIndex, clauses,
                            fq_ids: DataFrame | None) -> DataFrame:
    """(doc_id, score) for a boolean/phrase dismax query over the
    physical index — exact scoring (a MUST/MUST_NOT predicate or a
    positional phrase invalidates per-term block-max upper bounds; Lucene
    likewise drops WAND for boolean-with-prohibited and phrase scorers).

    Scale shape: every scan below is pruned to the query's term buckets
    (partition dirs) and terms (parquet row-group stats); phrase
    positions come from the positions/ dataset, pruned the same way; the
    clause tag map is a literal projection; the combiner is one hash
    aggregate on doc_id (operators/query.combine_clause_rows)."""
    cfg = index.config
    n_must = sum(1 for c in clauses if c.occur == "must")
    term_clauses = [(i, c) for i, c in enumerate(clauses) if not c.is_phrase]
    phrase_clauses = [(i, c) for i, c in enumerate(clauses) if c.is_phrase]
    all_terms = sorted({t for _, c in term_clauses for t in c.terms}
                       | {t for _, c in phrase_clauses for t in c.terms})
    # idf for the query's terms comes from ONE collect of the pruned
    # termstats scan (≤ |query terms| rows at any corpus size — the scan
    # is partition- and row-group-pruned), memoized per reader; the
    # literal map replaces three exchange stages (idf broadcast join,
    # per-phrase Σidf aggregate, its crossJoin broadcast)
    idf_map = _idf_map_cached(index, all_terms)

    parts: list[DataFrame] = []
    if term_clauses:
        qterms = sorted({c.terms[0] for _, c in term_clauses})
        blocks = _idf_blocks(index, qterms, idf_map)
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
            parts.append(ph.selectExpr("doc_id", f"{i} AS cid",
                                       f"{_sstr(c.occur)} AS kind", "contrib"))
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
    terms (the bucket-local top-k pass), "bool" for +/-/phrase clauses, and "none"
    when the query is provably empty: no term survives analysis, or no
    positive clause is left (Lucene's MatchNoDocsQuery).

    fq pushdown: ``fq_ids``, the doc_id-only filtered-store projection,
    masks the decoded postings inside the scoring pass (_bucket_topk;
    a semijoin below the boolean combiner's aggregate), so scores are
    never summed for docs the fq excludes. A filterCache hit (operators/caches.py) substitutes its
    persisted DocSet (``fq_docset``)."""
    cfg = index.config
    k = k if isinstance(k, int) and k >= 1 else 10
    skip = skip if isinstance(skip, int) and skip >= 0 else 0
    validate_filters(filters, index.docs_store.columns)
    store = (index.docs_store.filter(_filters_expr(filters)) if filters
             else index.docs_store)
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
    (_stored_fields_page). The fq was already applied in the scoring
    pass (fq_ids)."""
    sc = (F.round(F.col("score"), round_score) if round_score is not None
          else F.col("score"))
    page = (scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .offset(q.skip).limit(q.k)
            .select("doc_id", sc.alias("score")))
    return _stored_fields_page(index, page, q.k)


def _bucket_topk(index: PhysicalIndex, q: _Query, idf: dict[str, float],
                 cut: int | None, blocks: DataFrame | None = None) -> DataFrame:
    """(doc_id, score) of the plain-OR query ``q`` in one pass: the
    pruned blocks of the terms in ``idf`` (or the given subset of them,
    ``blocks``) and the fq doc ids, repartitioned by doc-range bucket,
    through _topk_kernel with local cut ``cut``. With one term and no fq
    a doc's only posting sits in one block, so the scan partitions feed
    the kernel directly."""
    cfg = index.config
    if blocks is None:
        blocks = _idf_blocks(index, sorted(idf), idf)
    stream = blocks.selectExpr("bucket", "term", "n", "doc_ids", "tfs", "dls",
                               "idf", "CAST(-1 AS BIGINT) AS fq")
    if q.fq_ids is not None:
        stream = stream.unionByName(q.fq_ids.selectExpr(
            f"CAST(doc_id DIV {cfg.bucket_span} AS BIGINT) AS bucket",
            "'' AS term", "0 AS n", "X'' AS doc_ids", "X'' AS tfs",
            "X'' AS dls", "CAST(0 AS DOUBLE) AS idf", "doc_id AS fq"))
    if q.fq_ids is not None or len(idf) > 1:
        stream = stream.repartition("bucket")
    kernel = _topk_kernel(cfg.k1, cfg.b, index.avgdl, index.tombstones,
                          q.fq_ids is not None, cut)
    return stream.mapInPandas(kernel, "doc_id long, score double")


def _scored(index: PhysicalIndex, q: _Query, cut: int | None) -> DataFrame | None:
    """(doc_id, score) of a "bool" or "or" query; None when no term of an
    OR query is in the index."""
    if q.kind == "bool":
        # +/-/phrase clauses: exact boolean scoring, scans term-pruned
        return _score_boolean_physical(index, q.clauses, q.fq_ids)
    idf = _idf_map_cached(index, q.terms)
    return _bucket_topk(index, q, idf, cut) if idf else None


def _page(index: PhysicalIndex, q: _Query, round_score: int | None) -> DataFrame:
    if q.kind == "all":
        return _matchall_page(q)
    scored = None if q.kind == "none" else _scored(index, q, q.k + q.skip)
    if scored is None:
        return _empty_page(index)
    return _topk_page(index, scored, q, round_score)


class SearchResult(NamedTuple):
    """One query's answer: the page, a DataFrame of (doc_id, repo, path,
    lang, score) ordered score desc then doc_id asc; the exact match count
    (None unless ``found=True`` asked for it); and whether an exhausted
    time budget cut the plan short."""
    page: DataFrame
    found: int | None
    partial: bool


def search(index: PhysicalIndex, text: str | None = None, k: int = 10,
           skip: int = 0, filters: dict[str, list[str]] | None = None,
           round_score: int | None = 4,
           synonyms: dict[str, list[str]] | None = None, *,
           found: bool = False, time_allowed_ms: float | None = None,
           fq_docset: DataFrame | None = None) -> SearchResult:
    """The one query operation (SearchServlet.scala:76-103): text, skip,
    limit and filters in, one result out.

    A plain-OR query is scored in one bucket-local top-(k+skip) pass
    (_bucket_topk); +/-/phrase queries by the boolean combiner; no text
    is match-all. On a warm reader (idf memoized) a one-term query runs
    2 Spark jobs and a multi-term or filtered one 3.

    ``found=True`` also counts every match (_found), the numFound the
    reference's envelope always carries (Solr.scala:91-103). A
    ``time_allowed_ms`` budget runs the phased block-max plan
    (_budgeted), Solr's ``timeAllowed``/partialResults. The two cannot
    combine — an exact count must visit every match, so no budget could
    cut it short — and asking for both raises ValueError.

    ``fq_docset``: an already-materialized doc_id DocSet for ``filters``
    (the filterCache path, operators/caches.py) — substituted for the
    fq doc ids of the scoring pass; ``filters`` must still be passed
    (the match-all/store paths and validation use it)."""
    if found and time_allowed_ms is not None:
        raise ValueError("found=True counts every match, so it cannot "
                         "run under a time_allowed_ms budget")
    t_start = time.perf_counter()
    q = _prepare(index, text, k, skip, filters, synonyms, fq_docset)
    if found:
        return _found(index, q, round_score)
    if time_allowed_ms is not None:
        return _budgeted(index, q, round_score, t_start, time_allowed_ms)
    return SearchResult(_page(index, q, round_score), None, False)


def search_blockmax(index: PhysicalIndex, text: str | None = None, k: int = 10,
                    skip: int = 0, filters: dict[str, list[str]] | None = None,
                    round_score: int | None = 4) -> DataFrame:
    """``search(...).page``. It stays for perfbench/workload.py until the
    next benchmark change; everything else calls ``search``."""
    return search(index, text, k, skip, filters, round_score).page


def _budgeted(index: PhysicalIndex, q: _Query, round_score: int | None,
              t_start: float, time_allowed_ms: float) -> SearchResult:
    """T3 `timeAllowed` analog (SearchServlet.scala:97 pins 5000 ms;
    Solr's partialResults).

    Lucene's TimeLimitingCollector aborts a cursor walk mid-traversal;
    Spark can't interrupt a running stage, so the budget gates PHASES of
    a block-max plan over plain-OR queries. A bucket's upper bound
    UB = Σ_terms idf·max_tfnorm comes from block metadata alone (the
    UB job); phase A runs the bucket-local top-k pass over the hot set —
    the P = max(4·(k+skip), 32) buckets of highest UB — and its
    (k+skip)-th score is the threshold τ; phase B runs the same pass over
    the remaining buckets with UB ≥ τ. If the budget is exhausted before
    phase B it is skipped and ``partial=True``: the page is then the
    exact top-k over the hot subset, the best-effort contract of Solr's
    partial results. A query that completes within budget (or whose
    matches fit in P buckets, or that is not plain OR) returns the exact
    answer and ``partial=False``."""
    idf = _idf_map_cached(index, q.terms) if q.kind == "or" else {}
    if not idf:
        return SearchResult(_page(index, q, round_score), None, False)
    n = q.k + q.skip
    p = max(4 * n, 32)
    blocks = _idf_blocks(index, sorted(idf), idf)
    # ub_scale: stored max_tfnorm was encoded with min_encode_avgdl; if
    # incremental maintenance raised avgdl since, true tfnorm can exceed
    # the stored bound by at most avgdl_now/min_encode_avgdl (maintenance.py)
    ub_scale = 1.0
    if index.min_encode_avgdl and index.min_encode_avgdl > 0 and index.avgdl > 0:
        ub_scale = max(1.0, index.avgdl / index.min_encode_avgdl)
    ub = blocks.groupBy("bucket").agg(
        (F.sum(F.col("idf") * F.col("max_tfnorm")) * F.lit(ub_scale)).alias("ub"))
    # TakeOrdered of P+1 bounds: ≤ P rows means the hot set is every
    # bucket, and one pass over all of them is exact and final
    ub_rows = ub.orderBy(F.col("ub").desc()).limit(p + 1).collect()
    if len(ub_rows) <= p:
        return SearchResult(_topk_page(index, _bucket_topk(index, q, idf, n), q,
                                       round_score), None, False)
    hot = [r["bucket"] for r in ub_rows[:p]]
    a_rows = (_bucket_topk(index, q, idf, n, blocks.filter(F.col("bucket").isin(hot)))
              .orderBy(F.col("score").desc(), F.col("doc_id").asc())
              .limit(n).collect())
    phase_a = index.spark.createDataFrame(a_rows, "doc_id long, score double")
    if (time.perf_counter() - t_start) * 1000.0 > time_allowed_ms:
        return SearchResult(_topk_page(index, phase_a, q, round_score), None, True)
    tau = a_rows[-1]["score"] if len(a_rows) >= n else float("-inf")
    # a doc's postings all live in its one bucket, so the phases score
    # disjoint doc sets and a plain union is exact. >= tau, not > tau: a
    # pruned doc whose exact score EQUALS tau but whose doc_id is lower
    # than the (k+skip)-th would win the tie-break
    rest = ub.filter(~F.col("bucket").isin(hot) & (F.col("ub") >= tau))
    phase_b = _bucket_topk(index, q, idf, n,
                           blocks.join(rest.select("bucket"), "bucket", "left_semi"))
    return SearchResult(_topk_page(index, phase_a.unionByName(phase_b), q,
                                   round_score), None, False)


def _found(index: PhysicalIndex, q: _Query,
           round_score: int | None) -> SearchResult:
    """(page, found) from ONE scoring traversal — the reference's envelope
    ALWAYS carries numFound alongside the page (Solr.scala:91-103,
    api.yml:181).

    Exact total-hit counting must visit every matched posting no matter
    what (the same reason Lucene disables WAND skipping when an exact
    totalHits is requested), so this path runs the scoring pass with no
    local cut, persists the narrow (doc_id, score) stream, and derives
    BOTH the page (TakeOrderedAndProject) and the count from it. The
    returned page is a small local DataFrame (k rows) — the persisted
    stream is released before returning."""
    if q.kind == "all":
        return SearchResult(_matchall_page(q), q.store.count(), False)
    scored = None if q.kind == "none" else _scored(index, q, None)
    if scored is None:
        return SearchResult(_empty_page(index), 0, False)
    scored = scored.persist()
    try:
        found = scored.count()
        if found == 0:
            return SearchResult(_empty_page(index), 0, False)
        out = _topk_page(index, scored, q, round_score)
        # pin the k winners locally so the persisted stream can be released
        rows = out.collect()
        return SearchResult(index.spark.createDataFrame(rows, out.schema),
                            found, False)
    finally:
        scored.unpersist()


def envelope(index: PhysicalIndex, text: str | None = None, k: int = 10,
             skip: int = 0, filters: dict[str, list[str]] | None = None,
             synonyms: dict[str, list[str]] | None = None) -> dict:
    """The reference's response envelope ``{summary, fileitems}``
    (Solr.scala:91-103,173-181; api.yml:172-256) from one
    ``search(..., found=True)``. ``time_allowed`` echoes the pinned
    5000 ms budget (SearchServlet.scala:97); exact ``found`` requires
    visiting every match, so the count pass is never early-terminated
    (the same trade-off Lucene makes for exact totalHits)."""
    res = search(index, text, k, skip, filters, synonyms=synonyms, found=True)
    rows = res.page.collect()
    summary = {"text": text if text is not None else "*",
               "skip": skip, "limit": k, "time_allowed": _TIME_ALLOWED_MS,
               "found": res.found, "returned": len(rows)}
    items = [{"repo": r["repo"], "path": r["path"], "lang": r["lang"],
              "score": r["score"]} for r in rows]
    return {"summary": summary, "fileitems": items}
