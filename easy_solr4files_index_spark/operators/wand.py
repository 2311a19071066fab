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
  4. The partitions' local winners come back in ONE collect; the driver
     cuts the page, reads the k winners' stored fields by doc_id with
     Arrow (row-group statistics prune the docs_store read) and returns
     the page as a local DataFrame — no broadcast, join or sort job.
     idf comes the same way: df read by term from termstats with Arrow,
     no Spark job (Lucene reads stored fields and term statistics by
     docID and term, not by a second pass).

This is the partition-local top-k aggregation of "Cache-Efficient Top-k
Aggregation over High Cardinality Large Datasets" (VLDB 2023), run as a
batch kernel instead of per-row Python.

``search`` is the one query entry point and returns
``SearchResult(page, found, partial)``; the page is computed eagerly.
``found=True`` runs the same kernel, whose partitions also report their
match counts beside their winners (exact counting visits every match
anyway); a
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

import decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from ..functions.codec import decode_blocks, in_ranges
from ..functions.xxhash import term_bucket
from .dismax import is_plain_or, parse_dismax, plain_terms
from .postings import PhysicalIndex
from .query import (_dlit, _expand_clause_synonyms, _filters_expr, _sstr,
                    _term_case_sql, combine_clause_rows, score_phrase,
                    validate_filters)


def _bm25(idf: np.ndarray, tfs: np.ndarray, dls: np.ndarray, k1: float,
          b: float, avgdl: float) -> np.ndarray:
    """Per-posting BM25 contribution idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))."""
    tf = tfs.astype(np.float64)
    return idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dls / avgdl))


def _topk_kernel(k1: float, b: float, avgdl: float,
                 tombstones: tuple[tuple[int, int], ...], use_fq: bool,
                 cut: int):
    """The bucket-local top-k pass over one partition of
    (bucket, term, n, doc_ids, tfs, dls, idf, fq) rows -> (doc_id, score,
    matches).

    Block rows carry ``fq = -1``; with an fq each passing doc adds one
    empty block row carrying its id in ``fq``. The whole partition is
    gathered first (a doc's blocks may span Arrow batches), sorted by
    (bucket, term) so every doc sums its terms in one fixed order — the
    scores are bit-identical whichever partition or batch a block arrived
    in — and decoded in one pass. ``cut`` keeps the local top ``cut``
    by (score desc, doc_id asc). The partition's match count rides on its
    first row's ``matches`` (0 on the others), so the column sums to the
    query's exact match count: a doc's postings all reach one partition."""
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
        matches = docs.size
        if docs.size > cut:
            top = np.lexsort((docs, -scores))[:cut]
            docs, scores = docs[top], scores[top]
        counts = np.zeros(docs.size, np.int64)
        counts[0] = matches
        yield pd.DataFrame({"doc_id": docs, "score": scores,
                            "matches": counts})

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


# the timeAllowed the reference pins on every request (SearchServlet.scala:97),
# echoed in the envelope's summary
_TIME_ALLOWED_MS = 5000

_PAGE_COLS = ("doc_id", "repo", "path", "lang", "score")
_PAGE_SCHEMA = pa.schema([("doc_id", pa.int64()), ("repo", pa.string()),
                          ("path", pa.string()), ("lang", pa.string()),
                          ("score", pa.float64())])


def _round_half_up(x: float, scale: int) -> float:
    """Exact driver-side twin of Catalyst's Round on DoubleType:
    BigDecimal(Double.toString(x)).setScale(scale, HALF_UP). Python's
    repr is the same shortest round-trip decimal as Double.toString, so
    quantizing it HALF_UP reproduces F.round bit-for-bit."""
    q = decimal.Decimal(1).scaleb(-scale)
    return float(decimal.Decimal(repr(x)).quantize(
        q, rounding=decimal.ROUND_HALF_UP))


def _rank(r: tuple) -> tuple:
    """Sort key of a (doc_id, ..., score) record: score desc, doc_id asc."""
    return (-r[-1], r[0])


def _cut(rows: list, skip: int, k: int, round_score: int | None) -> list[tuple]:
    """The page of ``rows``, records (doc_id, ..., score) in the unrounded
    (score desc, doc_id asc) order: sliced to ``[skip, skip+k)`` on that
    order, then the scores rounded HALF_UP to ``round_score`` places and
    the slice re-sorted by (rounded score desc, doc_id asc). Cutting
    before rounding keeps the page set exact when two scores that round
    equal straddle the page boundary. The direct path (_finish) and the
    queryResultCache's window slices (caches.SearcherCaches) both cut
    here, so their pages agree bit for bit."""
    page = [tuple(r) for r in rows[skip:skip + k]]
    if round_score is None:
        return page
    page = [(*r[:-1], _round_half_up(r[-1], round_score)) for r in page]
    page.sort(key=_rank)
    return page


def _local_page(index: PhysicalIndex, page: list[tuple]) -> DataFrame:
    """(doc_id, score) page rows -> the result page with stored fields,
    in the given order, as a local DataFrame (LocalTableScan: collecting
    it runs no Spark job). The stored fields of just those ids are read
    with Arrow, ``doc_id`` range and IN filters letting row-group
    statistics prune the docs_store read — Lucene's fetch of stored
    fields by docID. A winner is never tombstoned, so the raw store (a
    tombstoned doc's row stays on disk under its old id) serves it."""
    rows = []
    if page:
        ids = [d for d, _ in page]
        field = pc.field("doc_id")
        t = index.arrow("docs_store").to_table(
            columns=["doc_id", "repo", "path", "lang"],
            filter=((field >= min(ids)) & (field <= max(ids))
                    & field.isin(ids)))
        stored = {r["doc_id"]: r for r in t.to_pylist()}
        rows = [{**stored[d], "score": s} for d, s in page if d in stored]
    return index.spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=_PAGE_SCHEMA))


def _finish(index: PhysicalIndex, winners: list[tuple[int, float]], q: _Query,
            round_score: int | None) -> DataFrame:
    """The page from a scoring pass's collected (doc_id, score) winners:
    ranked on the driver, cut (_cut), stored fields fetched by key
    (_local_page)."""
    return _local_page(index, _cut(sorted(winners, key=_rank), q.skip, q.k,
                                   round_score))


def _prune_pred_sql(terms: list[str], term_buckets: int) -> str:
    """`tbucket IN (...) AND term IN (...)` as ONE SQL string (a single
    parsed filter call; the Column form costs ~6 Py4J round-trips) —
    same predicate, same partition/row-group pruning."""
    tbs = sorted({term_bucket(t, term_buckets) for t in terms})
    tlist = ", ".join(_sstr(t) for t in sorted(set(terms)))
    return (f"tbucket IN ({', '.join(str(b) for b in tbs)}) "
            f"AND term IN ({tlist})")


def _df_map(index: PhysicalIndex, terms: list[str]) -> dict[str, int]:
    """{term: df} for the index's live terms among ``terms``: base
    termstats plus the maintenance deltas, read by key with Arrow (the
    tbucket partition directories and the term row-group statistics
    prune the read), summed per term, df > 0 kept — the merged view of
    ``PhysicalIndex.termstats`` without a Spark job."""
    tbs = sorted({term_bucket(t, index.config.term_buckets) for t in terms})
    pred = pc.field("tbucket").isin(tbs) & pc.field("term").isin(terms)
    df: dict[str, int] = {}
    for name in ("termstats", "_termstats_delta"):
        data = index.arrow(name)
        if data is None:
            continue
        t = data.to_table(columns=["term", "df"], filter=pred)
        for term, n in zip(t.column("term").to_pylist(),
                           t.column("df").to_pylist()):
            df[term] = df.get(term, 0) + n
    return {t: n for t, n in df.items() if n > 0}


def _idf(index: PhysicalIndex, df: int) -> float:
    """Lucene idf log(1 + (N − df + 0.5)/(df + 0.5)), bit-identical to
    query._idf_expr: the same double operations in the same order, and
    the log is java.lang.StrictMath.log, which Spark's ``log`` evaluates
    (Python's math.log differs from it in the last bit for some df)."""
    x = 1.0 + (float(index.n_docs) - df + 0.5) / (df + 0.5)
    return index.spark.sparkContext._jvm.java.lang.StrictMath.log(x)


def _idf_map_cached(index: PhysicalIndex, terms: list[str]) -> dict[str, float]:
    """{term: Lucene idf} for the index's terms among ``terms``, memoized
    for the lifetime of the reader — Lucene likewise resolves term
    statistics once per IndexReader, and every maintenance op reopens the
    index (new PhysicalIndex), so the cache cannot outlive the n_docs/df
    values it was computed from. Terms absent from the index are
    remembered as absent (no repeat lookups for them either); only
    genuinely new terms pay the Arrow df read (_df_map)."""
    cache: dict[str, float | None] = index.__dict__.setdefault("_idf_cache", {})
    miss = sorted(t for t in terms if t not in cache)
    if miss:
        df = _df_map(index, miss)
        for t in miss:
            cache[t] = _idf(index, df[t]) if t in df else None
    return {t: v for t in terms if (v := cache.get(t)) is not None}


def _idf_blocks(index: PhysicalIndex, terms: list[str],
                idf_map: dict[str, float]) -> DataFrame:
    """Postings blocks of ``terms``, term/tbucket-pruned, with their idf
    from ``idf_map`` as a literal CASE column: one parsed expression (a
    per-term F.when chain costs a Py4J round-trip per node) and no join
    against termstats. idf is bit-identical to the _idf_expr plan
    (_idf), so scores equal an in-plan join's."""
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
    # idf for the query's terms comes from the driver's Arrow df read
    # (≤ |query terms| rows at any corpus size — partition- and
    # row-group-pruned), memoized per reader; the literal map replaces
    # three exchange stages (idf broadcast join, per-phrase Σidf
    # aggregate, its crossJoin broadcast)
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


def _matchall_page(q: _Query) -> DataFrame:
    """match-all *:* (SearchServlet.scala:80): constant score, docID order."""
    return (q.store.orderBy(F.col("doc_id").asc()).offset(q.skip).limit(q.k)
            .withColumn("score", F.lit(1.0)).select(*_PAGE_COLS))


def _bucket_topk(index: PhysicalIndex, q: _Query, idf: dict[str, float],
                 cut: int, blocks: DataFrame | None = None) -> DataFrame:
    """(doc_id, score, matches) of the plain-OR query ``q`` in one pass:
    the pruned blocks of the terms in ``idf`` (or the given subset of
    them, ``blocks``) and the fq doc ids, repartitioned by doc-range
    bucket, through _topk_kernel with local cut ``cut``. With one term
    and no fq a doc's only posting sits in one block, so the scan
    partitions feed the kernel directly."""
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
    return stream.mapInPandas(kernel,
                              "doc_id long, score double, matches long")


def _local_winners(topk: DataFrame) -> tuple[list[tuple[int, float]], int]:
    """One collect of a _bucket_topk pass: its (doc_id, score) winners and
    the exact match count."""
    rows = topk.collect()
    return [(r[0], r[1]) for r in rows], sum(r[2] for r in rows)


def _top(scored: DataFrame, n: int) -> DataFrame:
    """The top ``n`` of a (doc_id, score) stream by (score desc, doc_id
    asc): TakeOrderedAndProject, no range-partition sort."""
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(n)


def _winners(index: PhysicalIndex, q: _Query,
             found: bool) -> tuple[list[tuple[int, float]], int]:
    """A scored query's (doc_id, score) winners, a superset of its top
    ``k+skip``, from ONE collect of its scoring pass, and its match count
    (exact when ``found``). Plain OR: the bucket-local top-k kernel's
    local winners, the count riding beside them. Boolean: the combiner's
    top ``k+skip``; an exact count persists the combiner's output and
    counts it first."""
    n = q.k + q.skip
    if q.kind == "bool":
        scored = _score_boolean_physical(index, q.clauses, q.fq_ids)
        if not found:
            return [(r[0], r[1]) for r in _top(scored, n).collect()], 0
        scored = scored.persist()
        try:
            count = scored.count()
            rows = _top(scored, n).collect() if count else []
            return [(r[0], r[1]) for r in rows], count
        finally:
            scored.unpersist()
    idf = _idf_map_cached(index, q.terms) if q.kind == "or" else {}
    if not idf:
        return [], 0
    return _local_winners(_bucket_topk(index, q, idf, n))


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
    (_bucket_topk); +/-/phrase queries by the boolean combiner. Either
    way the scoring pass's winners are collected once and the page is
    finished on the driver (_finish) and returned as a local DataFrame,
    so collecting it runs no job. On a warm reader (idf memoized) a
    one-term query runs 1 Spark job and a multi-term, filtered or
    boolean one 2; a cold term's idf costs no job. No text is match-all,
    whose page stays a lazy one-job plan.

    ``found=True`` also counts every match, the numFound the reference's
    envelope always carries (Solr.scala:91-103): for plain OR the count
    rides out of the same kernel beside the winners (no extra job). A
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
    if q.kind == "all":
        return SearchResult(_matchall_page(q),
                            q.store.count() if found else None, False)
    if time_allowed_ms is not None:
        return _budgeted(index, q, round_score, t_start, time_allowed_ms)
    winners, count = _winners(index, q, found)
    return SearchResult(_finish(index, winners, q, round_score),
                        count if found else None, False)


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
    the remaining buckets with UB ≥ τ. Each phase's winners are
    collected once and merged on the driver. If the budget is exhausted
    before phase B it is skipped and ``partial=True``: the page is then
    the exact top-k over the hot subset, the best-effort contract of
    Solr's partial results. A query that completes within budget (or
    whose matches fit in P buckets, or that is not plain OR) returns the
    exact answer and ``partial=False``."""
    idf = _idf_map_cached(index, q.terms) if q.kind == "or" else {}
    if not idf:
        winners, _ = _winners(index, q, False)
        return SearchResult(_finish(index, winners, q, round_score), None, False)
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
        winners, _ = _local_winners(_bucket_topk(index, q, idf, n))
        return SearchResult(_finish(index, winners, q, round_score), None, False)
    hot = [r["bucket"] for r in ub_rows[:p]]
    phase_a, _ = _local_winners(
        _bucket_topk(index, q, idf, n, blocks.filter(F.col("bucket").isin(hot))))
    if (time.perf_counter() - t_start) * 1000.0 > time_allowed_ms:
        return SearchResult(_finish(index, phase_a, q, round_score), None, True)
    top_a = sorted(phase_a, key=_rank)[:n]
    tau = top_a[-1][1] if len(top_a) >= n else float("-inf")
    # a doc's postings all live in its one bucket, so the phases score
    # disjoint doc sets and a plain union is exact. >= tau, not > tau: a
    # pruned doc whose exact score EQUALS tau but whose doc_id is lower
    # than the (k+skip)-th would win the tie-break
    rest = ub.filter(~F.col("bucket").isin(hot) & (F.col("ub") >= tau))
    phase_b, _ = _local_winners(_bucket_topk(
        index, q, idf, n, blocks.join(rest.select("bucket"), "bucket", "left_semi")))
    return SearchResult(_finish(index, top_a + phase_b, q, round_score),
                        None, False)


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
