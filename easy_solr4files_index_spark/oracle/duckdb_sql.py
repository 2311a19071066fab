"""DuckDB oracle-SQL generator for the driver's correctness gate.

Every engine query in ``__spark_entry__.queries()`` has a matching ANSI
SQL string built here that recomputes the SAME result from the raw
``documents`` parquet view: same docs-adapter mapping
(sources/docs_source.py), same tokenizer chain (functions/tokenizer.py —
one regex spec shared by Spark exprs, pandas UDF, Python, and this SQL),
same BM25 formula (operators/wand.py), same tie-break.
"""

from __future__ import annotations

from ..functions.tokenizer import (LUCENE_STOPWORDS, stopword_not_in_sql,
                                   tokenize_catenate_duckdb_sql,
                                   tokenize_duckdb_sql)

K1, B = 1.2, 0.75

# (repo, path) is the unique doc key after the adapter; doc_id is its
# dense rank — identical to operators/docids.assign_doc_ids because the
# 40-hex commit is a function of (repo, doc_id) and never perturbs order.
# The access-control columns replicate sources/docs_source._acl_columns
# (pure functions of the raw doc_id). ``ingest_where`` (over the raw
# ``documents`` columns) models the P6 ingest accessibility filter:
# doc_ids are ranks over the FILTERED corpus, exactly like an index
# built from ingest_acl_filter(load_docs(...)).
_PREFIX_TMPL = """
WITH {pre_cte}docs AS (
  SELECT source AS repo,
         'docs/' || lpad(CAST(doc_id AS VARCHAR), 8, '0') || '.txt' AS path,
         lang,
         coalesce(text, '') AS content,
         CASE WHEN doc_id % 10 = 0 THEN 'NONE'
              WHEN doc_id % 10 = 1 THEN 'RESTRICTED_REQUEST'
              WHEN doc_id % 10 IN (2, 3) THEN 'KNOWN'
              ELSE 'ANONYMOUS' END AS accessible_to,
         TIMESTAMP '2020-01-01' + INTERVAL (doc_id % 3650) DAY AS date_available,
         'user' || CAST(doc_id % 7 AS VARCHAR) AS depositor
  FROM {source_table}
  WHERE {ingest_where}
),
ids AS (
  SELECT repo, path, lang,
         row_number() OVER (ORDER BY repo, path) - 1 AS doc_id
  FROM docs
),
toks0 AS (
  SELECT repo, path,
         unnest({tok_expr}) AS term
  FROM docs
),
tok AS (SELECT * FROM toks0 WHERE {stop_where}),
dl0 AS (SELECT repo, path, count(*) AS dl FROM tok GROUP BY 1, 2),
docl AS (
  SELECT i.doc_id, d.repo, d.path, d.lang, coalesce(dl0.dl, 0) AS dl,
         d.accessible_to, d.date_available, d.depositor
  FROM docs d
  JOIN ids i USING (repo, path)
  LEFT JOIN dl0 USING (repo, path)
),
g AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM docl),
tf AS (SELECT term, repo, path, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
"""


def prefix_sql(ingest_where: str = "TRUE",
               stopwords: tuple[str, ...] = LUCENE_STOPWORDS,
               source_table: str = "documents", pre_cte: str = "",
               catenate: bool = False) -> str:
    """``pre_cte`` (e.g. "documents_mod AS (...), ") + ``source_table``
    let a maintenance oracle recompute over a MODIFIED corpus — the
    fresh-build twin of an incremental physical update. ``catenate``
    swaps in the catenateWords analyzer chain (IndexConfig.catenate_words)."""
    tok = (tokenize_catenate_duckdb_sql if catenate
           else tokenize_duckdb_sql)("content || ' ' || path")
    return _PREFIX_TMPL.format(
        ingest_where=ingest_where,
        tok_expr=tok,
        stop_where=stopword_not_in_sql(stopwords) if stopwords else "term <> ''",
        source_table=source_table,
        pre_cte=pre_cte,
    )


PREFIX = prefix_sql()


def _values(terms: list[str]) -> str:
    return ", ".join(f"('{t}')" for t in sorted(set(terms)))


def _filters_where(filters, alias: str = "docl") -> str:
    """SQL twin of operators.query._filters_expr (dict or predicate tree)."""
    if not filters:
        return "TRUE"
    if isinstance(filters, dict):
        clauses = []
        for key, vals in filters.items():
            quoted = ", ".join(f"'{v}'" for v in vals)
            clauses.append(f"{alias}.{key} IN ({quoted})")
        return " AND ".join(clauses)
    op = filters[0]
    if op in ("and", "or"):
        joined = f" {op.upper()} ".join(_filters_where(s, alias) for s in filters[1:])
        return f"({joined})"
    if op == "in":
        quoted = ", ".join(f"'{v}'" for v in filters[2])
        return f"{alias}.{filters[1]} IN ({quoted})"
    if op == "=":
        return f"{alias}.{filters[1]} = '{filters[2]}'"
    if op == "<=date":
        return f"{alias}.{filters[1]} <= TIMESTAMP '{filters[2]}'"
    if op == "startswith":
        return f"{alias}.{filters[1]} LIKE '{filters[2]}%'"
    raise ValueError(f"unknown filter op: {op!r}")


def bm25_topk_sql(terms: list[str], k: int = 10, skip: int = 0,
                  filters=None, ingest_where: str = "TRUE",
                  stopwords: tuple[str, ...] = LUCENE_STOPWORDS,
                  catenate: bool = False) -> str:
    """Top-k page: (doc_id, repo, path, lang, score) — engine column order."""
    return f"""{prefix_sql(ingest_where, stopwords, catenate=catenate)},
q(term) AS (VALUES {_values(terms)}),
sc AS (
  SELECT tf.repo, tf.path,
         sum( ln(1 + (g.n - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf * ({K1} + 1.0)
              / (tf.tf + {K1} * (1.0 - {B} + {B} * docl.dl / g.avgdl)) ) AS score
  FROM tf
  JOIN dft USING (term)
  JOIN q USING (term)
  JOIN docl USING (repo, path)
  CROSS JOIN g
  GROUP BY 1, 2
)
SELECT docl.doc_id, sc.repo, sc.path, docl.lang, round(sc.score, 4) AS score
FROM sc JOIN docl USING (repo, path)
WHERE {_filters_where(filters)}
ORDER BY sc.score DESC, sc.repo, sc.path
LIMIT {k} OFFSET {skip}
"""


def envelope_sql(terms: list[str], k: int = 10, skip: int = 0,
                 filters=None, time_allowed_ms: int = 5000) -> str:
    """S13 envelope twin: the page rows with the summary fields (found,
    returned, time_allowed) as columns — matches the fts_envelope driver
    row (operators/wand.envelope plus doc_id) column-for-column."""
    return f"""{PREFIX},
q(term) AS (VALUES {_values(terms)}),
sc AS (
  SELECT tf.repo, tf.path,
         sum( ln(1 + (g.n - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf * ({K1} + 1.0)
              / (tf.tf + {K1} * (1.0 - {B} + {B} * docl.dl / g.avgdl)) ) AS score
  FROM tf
  JOIN dft USING (term)
  JOIN q USING (term)
  JOIN docl USING (repo, path)
  CROSS JOIN g
  GROUP BY 1, 2
),
matched AS (
  SELECT docl.doc_id, sc.repo, sc.path, docl.lang, sc.score
  FROM sc JOIN docl USING (repo, path)
  WHERE {_filters_where(filters)}
),
pg AS (
  SELECT * FROM matched
  ORDER BY score DESC, repo, path
  LIMIT {k} OFFSET {skip}
)
SELECT (SELECT count(*) FROM matched) AS found,
       (SELECT count(*) FROM pg) AS returned,
       {int(time_allowed_ms)} AS time_allowed,
       pg.doc_id, pg.repo, pg.path, pg.lang, round(pg.score, 4) AS score
FROM pg
"""


def bm25_all_matches_sql(terms: list[str], ingest_where: str = "TRUE",
                         source_table: str = "documents",
                         pre_cte: str = "") -> str:
    """FULL match listing (repo, path, lang, score), no top-k cut and no
    doc_id column: the incremental-maintenance gate — an upserted physical
    index keeps old doc_id values (segments/gaps) while a fresh build
    ranks densely, but scores and the (repo, path) keyset must be
    IDENTICAL (operators/maintenance.py)."""
    return f"""{prefix_sql(ingest_where, LUCENE_STOPWORDS, source_table, pre_cte)},
q(term) AS (VALUES {_values(terms)}),
sc AS (
  SELECT tf.repo, tf.path,
         sum( ln(1 + (g.n - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf * ({K1} + 1.0)
              / (tf.tf + {K1} * (1.0 - {B} + {B} * docl.dl / g.avgdl)) ) AS score
  FROM tf
  JOIN dft USING (term)
  JOIN q USING (term)
  JOIN docl USING (repo, path)
  CROSS JOIN g
  GROUP BY 1, 2
)
SELECT sc.repo, sc.path, docl.lang, round(sc.score, 4) AS score
FROM sc JOIN docl USING (repo, path)
ORDER BY sc.repo, sc.path
"""


def _tok_list_sql(stopwords: tuple[str, ...] = LUCENE_STOPWORDS) -> str:
    """Ordered, stopword-filtered token LIST per doc (phrase queries need
    positions, which the unnested ``tok`` CTE deliberately discards)."""
    quoted = ", ".join(f"'{w}'" for w in stopwords)
    guard = (f"t <> '' AND t NOT IN ({quoted})" if stopwords else "t <> ''")
    tok = tokenize_duckdb_sql("content || ' ' || path")
    return (f"tl AS (SELECT repo, path, "
            f"list_filter({tok}, t -> {guard}) AS toks FROM docs)")


def _phrase_ctes(j: int, phrase: tuple[str, ...]) -> str:
    """Per-phrase CTEs: ``ph{j}`` = exact phrase frequency per doc (count
    of start positions where every phrase term lines up — DuckDB lists
    are 1-based); ``phidf{j}`` = Lucene PhraseQuery idf = Σ idf over the
    phrase's term SEQUENCE (duplicates count per occurrence)."""
    from collections import Counter

    L = len(phrase)
    align = " AND ".join(f"toks[i + {i}] = '{t}'" for i, t in enumerate(phrase))
    mult = Counter(phrase)
    case = " ".join(f"WHEN '{t}' THEN {c}" for t, c in mult.items())
    uniq = ", ".join(f"'{t}'" for t in sorted(mult))
    return f"""ph{j} AS (
  SELECT repo, path,
         len(list_filter(range(1, greatest(len(toks) - {L - 1}, 0) + 1),
                         i -> {align})) AS ptf
  FROM tl
),
phidf{j} AS (
  SELECT sum(ln(1 + (g.n - dft.df + 0.5) / (dft.df + 0.5))
             * CASE dft.term {case} END) AS idf
  FROM dft CROSS JOIN g WHERE dft.term IN ({uniq})
)"""


def boolean_sql_parts(clauses) -> tuple[str, str, int]:
    """(extra CTE block, matched-set CTE chain ending in ``m``, n_must)
    for a dismax boolean query. ``clauses`` = [(terms tuple, occur)] with
    occur in should/must/must_not — the SQL twin of the engine's boolean
    path (operators/wand._score_boolean_physical feeding
    operators/query.combine_clause_rows: one union, one grouped
    aggregate, Lucene BooleanQuery match predicate)."""
    phrase_idx = [(i, c) for i, (c, _) in enumerate(clauses) if len(c) >= 2]
    ctes = [_tok_list_sql()] if phrase_idx else []
    rows = []
    for i, (terms, occur) in enumerate(clauses):
        if len(terms) >= 2:
            ctes.append(_phrase_ctes(i, terms))
            rows.append(f"""  SELECT p.repo, p.path, {i} AS cid, '{occur}' AS kind,
         pi.idf * p.ptf * ({K1} + 1.0)
           / (p.ptf + {K1} * (1.0 - {B} + {B} * docl.dl / g.avgdl)) AS contrib
  FROM ph{i} p JOIN docl USING (repo, path)
  CROSS JOIN g CROSS JOIN phidf{i} pi
  WHERE p.ptf > 0""")
        else:
            rows.append(f"""  SELECT tf.repo, tf.path, {i} AS cid, '{occur}' AS kind,
         ln(1 + (g.n - dft.df + 0.5) / (dft.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * docl.dl / g.avgdl)) AS contrib
  FROM tf JOIN dft USING (term) JOIN docl USING (repo, path) CROSS JOIN g
  WHERE tf.term = '{terms[0]}'""")
    n_must = sum(1 for _, occur in clauses if occur == "must")
    must_gate = "TRUE" if n_must else "has_should = 1"
    chain = f"""cl AS (
{chr(10).join("  UNION ALL" + chr(10) + r if j else r for j, r in enumerate(rows))}
),
agg AS (
  SELECT repo, path,
         sum(CASE WHEN kind <> 'must_not' THEN contrib ELSE 0 END) AS score,
         count(DISTINCT CASE WHEN kind = 'must' THEN cid END) AS musts_hit,
         max(CASE WHEN kind = 'should' THEN 1 ELSE 0 END) AS has_should,
         max(CASE WHEN kind = 'must_not' THEN 1 ELSE 0 END) AS prohibited
  FROM cl GROUP BY 1, 2
),
m AS (SELECT * FROM agg
      WHERE prohibited = 0 AND musts_hit = {n_must} AND {must_gate})"""
    extra = (",\n" + ",\n".join(ctes)) if ctes else ""
    return extra, chain, n_must


def boolean_topk_sql(clauses, k: int = 10, skip: int = 0, filters=None) -> str:
    """Top-k page for a boolean/phrase dismax query — engine column order."""
    extra, chain, _ = boolean_sql_parts(clauses)
    return f"""{PREFIX}{extra},
{chain}
SELECT docl.doc_id, m.repo, m.path, docl.lang, round(m.score, 4) AS score
FROM m JOIN docl USING (repo, path)
WHERE {_filters_where(filters)}
ORDER BY m.score DESC, m.repo, m.path
LIMIT {k} OFFSET {skip}
"""


def boolean_numfound_sql(clauses, filters=None) -> str:
    extra, chain, _ = boolean_sql_parts(clauses)
    return f"""{PREFIX}{extra},
{chain}
SELECT count(*) AS found
FROM m JOIN docl USING (repo, path)
WHERE {_filters_where(filters)}
"""


def matchall_sql(k: int = 10, skip: int = 0,
                 filters: dict[str, list[str]] | None = None) -> str:
    return f"""{PREFIX}
SELECT doc_id, repo, path, lang, 1.0 AS score
FROM docl
WHERE {_filters_where(filters)}
ORDER BY doc_id
LIMIT {k} OFFSET {skip}
"""


def numfound_sql(terms: list[str], filters: dict[str, list[str]] | None = None) -> str:
    return f"""{PREFIX},
q(term) AS (VALUES {_values(terms)})
SELECT count(DISTINCT (docl.repo, docl.path)) AS found
FROM tf JOIN q USING (term) JOIN docl USING (repo, path)
WHERE {_filters_where(filters)}
"""


def termstats_sql(terms: list[str]) -> str:
    return f"""{PREFIX},
q(term) AS (VALUES {_values(terms)})
SELECT dft.term, dft.df FROM dft JOIN q USING (term)
"""


def global_stats_sql() -> str:
    return f"""{PREFIX}
SELECT n AS n_docs, round(avgdl, 6) AS avgdl FROM g
"""


def build_metrics_sql() -> str:
    """A3/north-rule build metrics, SQL-expressible surface: the fresh-
    build twin recomputes corpus size, token mass, vocabulary size,
    posting count (Σ df) and the E2 degraded-doc count from the raw
    documents — the per-partition postings_bytes / skew_factor columns of
    ``_metrics`` depend on the physical block encoding and stay pytest-
    gated (tests/test_physical_index.py). CASTs: DuckDB sums BIGINT into
    HUGEINT; the engine emits int64."""
    return f"""{PREFIX}
SELECT (SELECT count(*) FROM docl) AS n_docs,
       (SELECT CAST(sum(dl) AS BIGINT) FROM docl) AS dl_sum,
       (SELECT count(*) FROM dft) AS n_terms,
       (SELECT CAST(sum(df) AS BIGINT) FROM dft) AS postings_rows,
       (SELECT CAST(sum(CASE WHEN trim(content) = '' THEN 1 ELSE 0 END) AS BIGINT)
          FROM docs) AS degraded_docs
"""


def doc_stats_sql(repo: str) -> str:
    return f"""{PREFIX}
SELECT doc_id, repo, path, dl FROM docl WHERE repo = '{repo}'
"""


def sha256_sql() -> str:
    """Per-row content invariant (input_hint: sha256 equality vs source)."""
    return """
SELECT source AS repo,
       'docs/' || lpad(CAST(doc_id AS VARCHAR), 8, '0') || '.txt' AS path,
       sha256(coalesce(text, '')) AS sha256
FROM documents
"""


def path_prefix_sql(prefix: str) -> str:
    """P14 prefix predicate over the doc key (folder-delete analog)."""
    return f"""{PREFIX}
SELECT doc_id, repo, path FROM docl WHERE path LIKE '{prefix}%'
"""
