"""Index configuration and the analysis pass every index build shares:
the Spark-native replacement for what the reference delegates to
Solr/Lucene (postings, df, doc lengths — implied by
schema.xml:213,510-526 + BM25 default solrconfig.xml:39).

``enrich_docs`` turns docs-with-ids into the stored-fields rows
(doc_id, repo, path, commit, lang, extras…, sha256, tokens, meta_only,
dl): stored fields, the per-row content invariant (input_hint: sha256
equality vs source), the analyzed token stream and the exact doc length
(Lucene quantizes dl to 1 byte; we keep it exact, SURVEY.md §2.9 Q4).
operators/postings.write_index writes them as ``docs_store`` and derives
positions, postings blocks and termstats from the stored tokens.

The searchable token stream is tokenize(content) ++ tokenize(path) — the
reference copies the file path into the catch-all ``text`` field
(schema.xml:310) while dataset metadata stays filter-only (schema.xml:308);
our metadata columns likewise stay plain filterable columns.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..functions.tokenizer import (LUCENE_STOPWORDS, make_tokenize_udf,
                                   tokenize_expr, tokenize_expr_catenate)


@dataclass(frozen=True)
class IndexConfig:
    k1: float = 1.2                    # Lucene BM25 defaults (solrconfig.xml:39)
    b: float = 0.75
    stopwords: tuple[str, ...] = LUCENE_STOPWORDS
    include_path_tokens: bool = True   # schema.xml:310 copyField path -> text
    use_arrow_tokenizer: bool = False  # pandas-UDF chain instead of codegen exprs
    catenate_words: bool = False       # WordDelimiterGraph catenateWords=1
                                       # (schema.xml:592): multi-part identifiers
                                       # additionally index their catenated form
                                       # ("getHTTPResponse" -> parts +
                                       # "gethttpresponse"); index-side only —
                                       # query text keeps the split chain, and a
                                       # single-token query matches the
                                       # catenated term directly
    bucket_span: int = 4096            # doc_ids per posting block bucket (physical index)
    term_buckets: int = 32             # hash-partition count of the physical index
    index_positions: bool = True       # write the positions/ dataset (phrase
                                       # queries); Lucene always indexes
                                       # positions for text fields — disable
                                       # only for term-only workloads


def _searchable_text(config: IndexConfig):
    if config.include_path_tokens:
        return F.concat_ws(" ", F.col("content"), F.col("path"))
    return F.col("content")


def _tokenize_col(config: IndexConfig):
    """The configured analyzer chain as a Column over the searchable text."""
    if config.use_arrow_tokenizer:
        return make_tokenize_udf(config.stopwords,
                                 catenate=config.catenate_words)(
            _searchable_text(config))
    if config.catenate_words:
        return tokenize_expr_catenate(_searchable_text(config), config.stopwords)
    return tokenize_expr(_searchable_text(config), config.stopwords)


def tokens_df(docs_with_ids: DataFrame, config: IndexConfig) -> DataFrame:
    """(doc_id, tokens array<string>, dl int)"""
    tok = _tokenize_col(config)
    return docs_with_ids.select(
        "doc_id", tok.alias("tokens")
    ).withColumn("dl", F.size("tokens").cast("long"))


def enrich_docs(docs_with_ids: DataFrame, config: IndexConfig) -> DataFrame:
    """One pass over content: sha256 invariant + tokens + dl in a single
    projection (whole-stage codegen) — tokenization runs exactly once and
    ``dl`` needs no join back (content is never read again downstream).

    Any extra metadata columns on the source (e.g. the access-control
    columns accessible_to/date_available/depositor — SURVEY.md P6/P9/P10)
    ride through into docs_store as plain filterable columns."""
    tok = _tokenize_col(config)
    core = ["doc_id", "repo", "path", "commit", "lang"]
    extras = [c for c in docs_with_ids.columns if c not in core + ["content"]]
    return docs_with_ids.select(
        *core, *extras,
        F.sha2(F.col("content"), 256).alias("sha256"),
        tok.alias("tokens"),
        # E2 graceful degradation (reference Solr.scala:65-68,
        # package.scala:110-118: extraction failure -> metadata-only doc
        # + a counted feedback line): a doc whose CONTENT contributes no
        # searchable text (null/whitespace-only — the post-extraction
        # shape of a broken file) still indexes its metadata and path
        # tokens, and is flagged here so the build can COUNT it
        # (degraded_docs in BuildReport/globals.json) and users can
        # filter on it like any metadata column.
        (F.coalesce(F.trim(F.col("content")), F.lit("")) == "").alias("meta_only"),
    ).withColumn("dl", F.size("tokens").cast("long"))
