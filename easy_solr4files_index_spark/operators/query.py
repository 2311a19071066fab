"""Query-side building blocks shared by the physical index's search
paths (operators/wand.py): fq predicates and their validation, the BM25
idf expression, the SQL-string plan fragments, phrase scoring and the
boolean clause combiner. Together they carry the semantics of
``GET /filesearch`` (reference: SearchServlet.scala:74-104).

Semantics preserved from the reference:
  * free text is analyzed with the SAME chain as indexing and the terms
    are OR-combined with no field boosts (dismax over the single
    catch-all field — SearchServlet.scala:79-88, solrconfig.xml:966-970),
    so score = Σ over matched query terms of BM25(term, doc).
  * absent text ⇒ match-all ``*:*`` (SearchServlet.scala:80): no
    scoring, constant score 1.0, deterministic docID order.
  * filters: within one key, values are OR-ed; across keys, AND-ed
    (SearchServlet.scala:123-139, api.yml:134-136). Non-scoring, like fq.
  * pagination start/rows = skip/limit (SearchServlet.scala:76-77,95-96);
    defaults 0/10.
  * tie-break: score desc, then doc_id asc (Lucene's internal-docID
    tie-break; our doc_id is the deterministic (repo,path,commit) rank).

BM25 (Lucene ≥6 defaults, k1=1.2 b=0.75 — solrconfig.xml:39, no
<similarity> override in schema.xml:1218-1227):
    idf(t)  = ln(1 + (N - df + 0.5)/(df + 0.5))
    score   = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.tokenizer import tokenize_py


class QueryParseError(ValueError):
    """Typed query-surface error (Q8): the reference maps Solr
    *ParseException to HTTP 400 (Solr.scala:116-125, SearchServlet.scala:45).
    Raised for malformed filter trees and undefined filter fields;
    invalid limit/skip still silently default, matching
    SearchServlet.scala:76-77."""


def _idf_expr(n_docs: int) -> F.Column:
    return F.log(1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))


# fq predicate forms accepted by every query entrypoint:
#   dict {key: [values]}          — OR within a key, AND across keys
#                                   (user filters, SearchServlet.scala:131-139)
#   ["and"|"or", p1, p2, ...]     — boolean combinators; "or" across
#                                   DIFFERENT keys is what the reference's
#                                   access filters need (SearchServlet.scala:112-118)
#   ["in", key, [values]]         — set membership
#   ["=", key, value]             — equality
#   ["<=date", key, "YYYY-MM-DD"] — timestamp upper bound ([* TO NOW] analog)
#   ["startswith", key, prefix]   — P14 prefix predicate
def _filters_expr(filters):
    """fq semantics as a Catalyst boolean expression (pushdown-friendly)."""
    if not filters:
        return F.lit(True)
    if isinstance(filters, dict):
        cond = F.lit(True)
        for key, values in filters.items():
            vals = values if isinstance(values, (list, tuple)) else [values]
            cond = cond & F.col(key).isin(list(vals))
        return cond
    op = filters[0]
    if op == "and":
        cond = F.lit(True)
        for sub in filters[1:]:
            cond = cond & _filters_expr(sub)
        return cond
    if op == "or":
        cond = F.lit(False)
        for sub in filters[1:]:
            cond = cond | _filters_expr(sub)
        return cond
    if op == "in":
        return F.col(filters[1]).isin(list(filters[2]))
    if op == "=":
        return F.col(filters[1]) == F.lit(filters[2])
    if op == "<=date":
        return F.col(filters[1]) <= F.lit(filters[2]).cast("timestamp")
    if op == "startswith":
        return F.col(filters[1]).startswith(filters[2])
    raise QueryParseError(f"unknown filter op: {op!r}")


def _filter_keys(filters) -> set[str]:
    if not filters:
        return set()
    if isinstance(filters, dict):
        return set(filters)
    op = filters[0]
    if op in ("and", "or"):
        out: set[str] = set()
        for sub in filters[1:]:
            out |= _filter_keys(sub)
        return out
    if op in ("in", "=", "<=date", "startswith"):
        return {filters[1]}
    raise QueryParseError(f"unknown filter op: {op!r}")


def validate_filters(filters, columns) -> None:
    """Undefined field in an fq -> typed error before any Spark job (the
    Solr undefined-field 400 analog), instead of an AnalysisException
    mid-plan."""
    unknown = _filter_keys(filters) - set(columns)
    if unknown:
        raise QueryParseError(f"undefined filter field(s): {sorted(unknown)}")


def access_filter(user: str | None = None, now: str | None = None):
    """The reference's access-control fq (SearchServlet.scala:106-121):

    anonymous — `easy_file_accessible_to:ANONYMOUS` AND
    `easy_dataset_date_available:[* TO NOW]` (:106-111); authed —
    `(ANONYMOUS OR KNOWN OR depositor:<user>)` AND
    `(available<=NOW OR depositor:<user>)` (:112-118). NOW is pinned
    (sources.docs_source.ACCESS_NOW) for deterministic results."""
    if now is None:
        from ..sources.docs_source import ACCESS_NOW
        now = ACCESS_NOW
    if user is None:
        return ["and",
                ["in", "accessible_to", ["ANONYMOUS"]],
                ["<=date", "date_available", now]]
    return ["and",
            ["or", ["in", "accessible_to", ["ANONYMOUS", "KNOWN"]],
                   ["=", "depositor", user]],
            ["or", ["<=date", "date_available", now],
                   ["=", "depositor", user]]]


# --- SQL-string plan fragments for the hot query paths --------------------
# Building a Column tree call-by-call costs one Py4J socket round-trip per
# node (~0.2-1 ms each); on the latency-sensitive query path that adds up
# to >100 ms of pure driver-side plan construction per query. These
# helpers emit ONE SQL string parsed JVM-side by a single F.expr call.
# The association order of every arithmetic expression matches the numpy
# kernels in operators/wand.py and the oracle (oracle/bm25_oracle.py).

def _dlit(v: float) -> str:
    """Exact double literal for Spark SQL. A bare float literal parses as
    DECIMAL there; casting the repr (shortest round-trip decimal) through
    Double.parseDouble reproduces the identical IEEE double."""
    return f"CAST('{v!r}' AS DOUBLE)"


def _sstr(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _tfnorm_sql(tf: str, dl: str, k1: float, b: float, avgdl: float) -> str:
    """BM25 tf normalization tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))."""
    avgdl = avgdl if avgdl > 0 else 1.0
    return (f"({tf} * {_dlit(k1 + 1.0)} / ({tf} + {_dlit(k1)} * "
            f"({_dlit(1.0 - b)} + {_dlit(b)} * {dl} / {_dlit(avgdl)})))")


def _phrase_tf_sql(pmap: str, phrase: tuple[str, ...]) -> str:
    """Exact phrase frequency from per-term position arrays: the count of
    start positions x (of the first term) such that term_i sits at x+i
    for every following i — Lucene's ExactPhraseMatcher, as one Catalyst
    higher-order filter expression (no Python)."""
    def arr(t: str) -> str:
        return (f"coalesce(element_at({pmap}, {_sstr(t)}), "
                f"CAST(array() AS array<int>))")
    conds = " AND ".join(
        f"array_contains({arr(t)}, x + {i})"
        for i, t in enumerate(phrase[1:], start=1)) or "true"
    return f"size(filter({arr(phrase[0])}, x -> {conds}))"


def _term_case_sql(mapping: dict[str, str], else_sql: str) -> str:
    """CASE term WHEN ... END over a query-sized term map — one parsed
    expression instead of a per-term F.when chain."""
    if not mapping:
        return else_sql
    whens = " ".join(f"WHEN {_sstr(t)} THEN {sql}"
                     for t, sql in mapping.items())
    return f"CASE term {whens} ELSE {else_sql} END"


def score_phrase(positions: DataFrame, phrase: tuple[str, ...], k1: float,
                 b: float, avgdl: float, phidf: float) -> DataFrame:
    """(doc_id, contrib) for docs containing the exact phrase.

    Scoring is Lucene's PhraseQuery under BM25Similarity: tf = phrase
    frequency; idf = ``phidf`` = Σ over the phrase's term SEQUENCE of
    idf(term) (BM25Similarity.idfExplain over the termStats array —
    duplicates in the phrase count twice), resolved driver-side by the
    caller so the plan multiplies a literal (no aggregate + broadcast
    stages).

    Plan shape: the positions scan is pruned to the phrase's unique
    terms (term-bucket partition pruning on the physical layout); one
    groupBy(doc_id) assembles the per-doc term→positions map, and the
    candidate cut ``n_terms == |unique|`` runs before the (Catalyst-only)
    position-intersection."""
    uniq = sorted(set(phrase))
    per_doc = (
        positions.filter(F.col("term").isin(uniq))
        .groupBy("doc_id", "dl")
        .agg(F.expr("map_from_entries(collect_list(struct(term, positions)))"
                    ).alias("pmap"),
             F.expr("count(*)").alias("nt"))
        .filter(f"nt = {len(uniq)}")
        .withColumn("ptf", F.expr(_phrase_tf_sql("pmap", phrase)))
        .filter("ptf > 0")
    )
    contrib = (f"{_dlit(float(phidf))} * "
               + _tfnorm_sql("ptf", "dl", k1, b, avgdl))
    return per_doc.selectExpr("doc_id", f"{contrib} AS contrib")


def combine_clause_rows(parts: list[DataFrame], n_must: int,
                        fq_ids: DataFrame | None = None) -> DataFrame:
    """Union per-clause (doc_id, cid, kind, contrib) streams and apply the
    Lucene BooleanQuery match predicate + score in ONE hash aggregate
    (the boolean/phrase path of operators/wand.py)."""
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    if fq_ids is not None:
        u = u.join(fq_ids, "doc_id", "left_semi")

    # (doc_id, cid) is unique across the union by construction — a term
    # clause yields one posting row per doc and a phrase clause one
    # grouped row per doc, and every clause (synonym expansions included)
    # gets its own cid — so a plain count replaces count_distinct, which
    # would plan as a SECOND aggregate exchange (partial-distinct pass)
    agg = u.groupBy("doc_id").agg(
        F.expr("sum(CASE WHEN kind != 'must_not' THEN contrib "
               "ELSE CAST(0.0 AS DOUBLE) END)").alias("score"),
        F.expr("count(CASE WHEN kind = 'must' THEN cid END)").alias("musts_hit"),
        F.expr("max(CASE WHEN kind = 'should' THEN 1 ELSE 0 END)").alias("has_should"),
        F.expr("max(CASE WHEN kind = 'must_not' THEN 1 ELSE 0 END)").alias("prohibited"),
    )
    matched = agg.filter(
        f"prohibited = 0 AND musts_hit = {n_must} AND "
        f"({'true' if n_must > 0 else 'false'} OR has_should = 1)")
    return matched.select("doc_id", "score")


def _expand_clause_synonyms(clauses, synonyms, stopwords):
    """Synonym expansion in boolean mode: each single-term SHOULD clause
    ORs its synonyms in as extra SHOULD clauses (same analyzer chain,
    X5). MUST/MUST_NOT/phrase clauses are never expanded — widening a
    required or prohibited clause would change its boolean meaning."""
    from .dismax import SHOULD, Clause
    if not synonyms:
        return clauses
    out = list(clauses)
    seen = {(c.terms, c.occur) for c in clauses}
    for c in clauses:
        if c.occur != SHOULD or c.is_phrase:
            continue
        for s in synonyms.get(c.terms[0], ()):
            for t in tokenize_py(s, stopwords):
                key = ((t,), SHOULD)
                if key not in seen:
                    seen.add(key)
                    out.append(Clause((t,), SHOULD))
    return out
