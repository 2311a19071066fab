"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)       — flagship BM25 top-k on sf0.001.
queries()          — one callable per implemented operator (SURVEY.md §2).
oracle_sql()       — DuckDB-equivalent SQL per query (the correctness gate).

Engine: easy_solr4files_index_spark (see SURVEY.md for the reference map
to DANS-KNAW/easy-solr4files-index). The documents parquet is adapted to
the canonical docs(repo, path, commit, lang, content) shape by
sources/docs_source.load_docs; oracle SQL replicates that adapter
verbatim (oracle/duckdb_sql.PREFIX).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from easy_solr4files_index_spark.functions import dedup, multimodal, similarity, textstats
from easy_solr4files_index_spark.functions.tokenizer import tokenize_py
from easy_solr4files_index_spark.operators.index_build import IndexConfig
from easy_solr4files_index_spark.operators.postings import (PhysicalIndex,
                                                            open_index,
                                                            write_index)
from easy_solr4files_index_spark.operators.query import access_filter
from easy_solr4files_index_spark.operators.wand import (_PAGE_SCHEMA, envelope,
                                                        search)
from easy_solr4files_index_spark.oracle import duckdb_sql as osql
from easy_solr4files_index_spark.sources.docs_source import ingest_acl_filter, load_docs

_INDEX_CACHE: dict[tuple[int, str, str], object] = {}


def _authjoin_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7+J4: the corpus joined with the auth-info TABLE at ingest
    (sources/docs_source.auth_info_table + join_auth_info) — the
    Spark-native form of the reference's per-file auth-info HTTP fetch
    (AuthorisationComponent.scala:41-51) feeding the accessibility gate
    and the indexed access fields (FileItem.scala:36-37)."""
    from easy_solr4files_index_spark.sources.docs_source import (
        auth_info_table, join_auth_info)

    return join_auth_info(load_docs(spark, sf_dir, with_acl=False),
                          auth_info_table(spark, sf_dir))


# index variant -> (corpus, IndexConfig); every variant is gated by the
# same DuckDB oracle with the matching ingest/analyzer settings
_VARIANTS: dict[str, Callable[[SparkSession, str], tuple[DataFrame, IndexConfig]]] = {
    "default": lambda spark, d: (load_docs(spark, d), IndexConfig()),
    # pandas-UDF tokenizer chain — behavior-identical to the codegen chain
    "arrow": lambda spark, d: (load_docs(spark, d),
                               IndexConfig(use_arrow_tokenizer=True)),
    # P6 ingest accessibility filter: accessible_to == NONE docs never
    # enter the index (doc_ids are ranks over the filtered corpus)
    "acl": lambda spark, d: (ingest_acl_filter(load_docs(spark, d)),
                             IndexConfig()),
    # reference-exact stopwords: the reference ships an EMPTY
    # stopwords.txt (schema.xml:507), so 'the' is searchable
    "nostop": lambda spark, d: (load_docs(spark, d), IndexConfig(stopwords=())),
    "authjoin": lambda spark, d: (_authjoin_docs(spark, d), IndexConfig()),
    # X4 catenateWords=1 (schema.xml:592): every multi-part word also
    # indexes its delimiter-deleted form, e.g. the path word
    # docs/00000007.txt indexes docs, 00000007, txt AND docs00000007txt
    "catenate": lambda spark, d: (load_docs(spark, d),
                                  IndexConfig(catenate_words=True)),
}


def _index(spark: SparkSession, sf_dir: str,
           variant: str = "default") -> PhysicalIndex:
    """The on-disk index (varbyte/delta blocks, term-bucket partitioning,
    queried through the bucket-local top-k pass) of one corpus variant, written once
    per session and sf dir."""
    import tempfile

    key = (id(spark), sf_dir, variant)
    if key not in _INDEX_CACHE:
        docs, config = _VARIANTS[variant](spark, sf_dir)
        d = tempfile.mkdtemp(prefix=f"fts_entry_{variant}_")
        write_index(spark, docs, d, config, lineage_groups=1)
        _INDEX_CACHE[key] = open_index(spark, d)
    return _INDEX_CACHE[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: multi-term BM25 top-k over sf0.001."""
    return search(_index(spark, "/root/testdata/sf0.001"),
                  "spark join merge", k=10).page


# ---------------------------------------------------------------- queries

# (text, k, skip, filters) per FIXTURES.md §2 coverage — the canonical
# driver-window set; retired variants (single/filtered/page — each a
# strict subset of one of these) live in extra_queries()
_SEARCHES: dict[str, tuple[str | None, int, int, dict | None]] = {
    "fts_topk_filters2": ("query window", 10, 0, {"lang": ["de", "fr"], "repo": ["src0", "src1", "src2", "src3", "src4", "src5"]}),
    "fts_matchall_page": (None, 10, 5, {"lang": ["de"]}),
}

# the retired searches' parameters (extra_queries + their oracles);
# fts_topk_hot retired round-4 to free a driver-window slot for the new
# str_dedup_gate operator — same _mk_search code path as fts_topk_multi,
# and the hot-term/skew evidence lives in bench.py's q3_hot.
# fts_topk_multi retired late round-4 (green r01-r03; its exact query
# text runs in-window via fts_topk_physical AND fts_budgeted_full) to
# free a slot for the never-driver-checked round-4 operators.
_EXTRA_SEARCHES: dict[str, tuple[str | None, int, int, dict | None]] = {
    "fts_topk_multi": ("spark join merge", 10, 0, None),
    "fts_topk_single": ("dup", 10, 0, None),
    "fts_topk_hot": ("join", 15, 0, None),           # highest-df term: WAND stress
    "fts_topk_filtered": ("table scan", 10, 0, {"lang": ["en"]}),
    "fts_topk_page": ("spark", 5, 3, None),
}


def _mk_search(params):
    text, k, skip, filters = params

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return search(_index(spark, sf_dir), text, k=k, skip=skip,
                      filters=filters).page

    return run


def _q_termstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    return (idx.termstats.filter(F.col("term").isin(["spark", "join", "dup", "customer"]))
            .select("term", "df"))


def _q_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    return idx.docs_store.agg(
        F.count("*").alias("n_docs"), F.round(F.avg("dl"), 6).alias("avgdl"))


def _q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    return idx.docs_store.filter(F.col("repo") == "src3").select("doc_id", "repo", "path", "dl")


def _q_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row content invariant (input_hint: sha256 equality vs source)."""
    idx = _index(spark, sf_dir)
    return idx.docs_store.select("repo", "path", "sha256")


def _q_topk_physical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return search(_index(spark, sf_dir), "spark join merge", k=10).page


def _q_cached_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-layer queryResultCache (operators/caches.py; Solr's
    solrconfig.xml:478-481): the page is served from the CACHED window —
    the first call populates, the second is the LRU hit whose rows go
    under the same full BM25 oracle as fts_topk_physical (bit-identical
    slicing of the deterministic total order)."""
    from easy_solr4files_index_spark.operators.caches import SearcherCaches

    import pyarrow as pa

    caches = SearcherCaches(_index(spark, sf_dir))
    caches.search("spark join merge", k=10)            # populate
    rows, _ = caches.search("spark join merge", k=10)  # LRU hit
    assert caches.results.hits >= 1
    return spark.createDataFrame(pa.Table.from_pylist(
        [r.asDict() for r in rows], schema=_PAGE_SCHEMA))


def _index_maint(spark: SparkSession, sf_dir: str, mode: str):
    """Physical index after an INCREMENTAL maintenance op (never a rebuild):
    mode 'del' tombstones repo src0; mode 'ups' delete-before-inserts repo
    src1 with modified content (operators/maintenance.py — the reference's
    one-bag update cycle, EasySolr4filesIndexApp.scala:48-51)."""
    import tempfile

    from easy_solr4files_index_spark.operators.maintenance import (
        delete_repo_physical, upsert_repos_physical)

    key = (id(spark), sf_dir, f"maint_{mode}")
    if key not in _INDEX_CACHE:
        d = tempfile.mkdtemp(prefix=f"fts_entry_{mode}_")
        write_index(spark, load_docs(spark, sf_dir), d, lineage_groups=1)
        if mode == "del":
            idx = delete_repo_physical(spark, d, "src0")
        else:
            mod = (load_docs(spark, sf_dir).filter(F.col("repo") == "src1")
                   .withColumn("content",
                               F.concat(F.col("content"), F.lit(" updatedmarker"))))
            idx = upsert_repos_physical(spark, d, mod)
        _INDEX_CACHE[key] = idx
    return _INDEX_CACHE[key]


def _q_delete_physical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full match listing after an incremental physical delete of src0 —
    must equal a fresh build of the remaining corpus (scores incl. the
    N/avgdl/df shifts the delete causes). No doc_id column: tombstoned
    indexes keep id gaps; scores and keys are what must match."""
    idx = _index_maint(spark, sf_dir, "del")
    return (search(idx, "spark", k=100000).page
            .select("repo", "path", "lang", "score"))


def _q_upsert_physical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full match listing after delete-before-insert of repo src1 with
    appended content — must equal a fresh build of the modified corpus."""
    idx = _index_maint(spark, sf_dir, "ups")
    return (search(idx, "spark updatedmarker", k=100000).page
            .select("repo", "path", "lang", "score"))


def _q_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return search(_index(spark, sf_dir, "arrow"), "table scan", k=10).page


# metadata-side operator parity over the TPC-H-ish tables: the reference's
# non-fulltext operators exercised on relational inputs (SURVEY.md §2.2-2.4)
def _q_meta_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 group-count aggregation (package.scala:114-118)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return orders.groupBy("o_orderstatus").agg(F.count("*").alias("cnt"))


def _q_meta_vocab_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3 vocabulary broadcast join (DDM.scala:95-117): code -> label."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (nation.join(F.broadcast(region),
                        nation.n_regionkey == region.r_regionkey)
            .select("n_name", F.col("r_name").alias("region_name")))


def _q_meta_vocab_join_abr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: coded-vocabulary join emitting BOTH the human label and the
    raw-code `_abr` twin field (DDM.scala:101-117 emits dataset_subject
    AND dataset_subject_abr for abr-coded values)."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (nation.join(F.broadcast(region),
                        nation.n_regionkey == region.r_regionkey)
            .select("n_name", F.col("r_name").alias("region_name"),
                    F.concat(F.lit("ABR"), F.col("r_regionkey").cast("string"))
                    .alias("region_abr")))


def _q_topk_synonyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 query-side synonym expansion: 'join' ORs in its synonym 'merge'
    (SynonymGraphFilter analog; empty map = reference default identity)."""
    return search(_index(spark, sf_dir), "join", k=10,
                  synonyms={"join": ["merge"]}).page


def _q_topk_synonyms_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 MULTI-WORD synonym entries (SynonymGraphFilter `a => b c`,
    schema.xml:520-525): the synonym string runs through the analyzer and
    every resulting term joins the dismax disjunction."""
    return search(_index(spark, sf_dir), "join", k=10,
                  synonyms={"join": ["Table Scan"]}).page


def _q_topk_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 dismax phrase clause: quoted text is a positional PhraseQuery
    (tf = exact phrase frequency, idf = Σ over the phrase's terms —
    Lucene BM25 phrase scoring). Reachable surface: SearchServlet.scala
    :79-88 passes user text unescaped into dismax, which keeps balanced
    quotes as operators."""
    return search(_index(spark, sf_dir), '"spark join" merge', k=10).page


def _q_topk_must(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 dismax `+` operator: required clause (Lucene MUST) — docs
    lacking 'spark' never match, 'join' stays optional scoring."""
    return search(_index(spark, sf_dir), "+spark join", k=10).page


def _q_topk_prohibit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 dismax `-` operator: prohibited clause (Lucene MUST_NOT) —
    docs containing 'join' are excluded outright."""
    return search(_index(spark, sf_dir), "spark -join", k=10).page


def _q_topk_boolean_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9+Q10 composed: required phrase + optional term + prohibited term
    in one dismax query."""
    return search(_index(spark, sf_dir), '+"spark join" merge -parse',
                  k=10).page


def _q_numfound_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numFound for a boolean/phrase query (the matched-set count the
    envelope always carries)."""
    found = search(_index(spark, sf_dir), '+"spark join" merge -parse',
                   found=True).found
    return spark.createDataFrame([(found,)], "found long")


def _q_phrase_physical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9: the positions/ dataset (term-bucket partition-pruned, Lucene
    .prx analog) scores the phrase."""
    return search(_index(spark, sf_dir),
                  '+"spark join" merge -parse', k=10).page


def _q_numfound_physical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numFound from a single scoring pass (search(found=True) — Solr
    always returns found, Solr.scala:91-103)."""
    found = search(_index(spark, sf_dir), "spark join", found=True).found
    return spark.createDataFrame([(found,)], "found long")


def _q_meta_date_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 date normalization to `yyyy-MM-ddT00:00:00Z` (DDM.scala:127-130)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (orders.filter(F.col("o_orderkey") <= 100)
            .select("o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd'T00:00:00Z'")
                    .alias("date_available")))


def _q_meta_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13 date-range predicate `[* TO NOW]` analog (SearchServlet.scala:109)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            .groupBy("o_orderpriority").agg(F.count("*").alias("cnt")))


def _q_scan_stores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 store scan (Vault.scala:34-43): distinct container names."""
    from easy_solr4files_index_spark.sources.docs_source import load_docs
    return load_docs(spark, sf_dir).select("repo").distinct()


def _q_scan_bags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 bag scan (Vault.scala:45-51): active bag ids within one store."""
    from easy_solr4files_index_spark.sources.docs_source import load_docs
    return (load_docs(spark, sf_dir).filter(F.col("repo") == "src5")
            .select("commit").distinct())


def _q_meta_flatten_ws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 nested-text flatten (DDM.scala:132-147): whitespace-normalize."""
    d = _docs_raw(spark, sf_dir)
    return (d.filter(F.col("doc_id") <= 20)
            .select("doc_id",
                    F.trim(F.regexp_replace(F.coalesce("text", F.lit("")),
                                            r"\s+", " ")).alias("flat")))


def _q_meta_typed_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 typed-ID rewrite (DDM.scala:119-121): '<type> <value>', prefix stripped."""
    d = _docs_raw(spark, sf_dir)
    return d.select(
        "doc_id",
        F.concat(F.regexp_replace(F.col("source"), "^src", ""), F.lit(" "),
                 F.col("doc_id").cast("string")).alias("typed_id"))


def _q_empty_value_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 empty-value drop (Solr.scala:52): docs with non-empty content."""
    d = _docs_raw(spark, sf_dir)
    return d.agg(
        F.sum(F.when(F.coalesce(F.col("text"), F.lit("")) != "", 1).otherwise(0))
        .alias("non_empty"),
        F.count("*").alias("total"))


def _q_access_anon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 anonymous access fq: ANONYMOUS AND available<=NOW
    (SearchServlet.scala:106-111)."""
    return search(_index(spark, sf_dir), "spark join", k=10,
                  filters=access_filter(None)).page


def _q_access_authed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 authed access fq: cross-key OR (ANONYMOUS OR KNOWN OR
    depositor:user3) AND (available<=NOW OR depositor:user3)
    (SearchServlet.scala:112-118)."""
    return search(_index(spark, sf_dir), "spark join", k=10,
                  filters=access_filter("user3")).page


def _q_ingest_acl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: search over an index that never ingested accessible_to=NONE
    docs (EasySolr4filesIndexApp.scala:125-144)."""
    return search(_index(spark, sf_dir, "acl"), "table scan", k=10).page


def _q_auth_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 + P10 end-to-end: index over the auth-info JOIN (NONE files
    never ingested), queried with the authed access filter — the joined
    owner/accessibleTo/dateAvailable columns are what the filter reads."""
    return search(_index(spark, sf_dir, "authjoin"), "spark join",
                  k=10, filters=access_filter("user3")).page


def _q_topk_nostop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 behavior-compat: empty stopword list (schema.xml:507) makes
    'the' a searchable term."""
    return search(_index(spark, sf_dir, "nostop"), "the spark", k=10).page


def _q_path_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14 prefix predicate (folder-delete analog, docs/index.md:19)."""
    idx = _index(spark, sf_dir)
    return (idx.docs_store.filter(F.col("path").startswith("docs/0000001"))
            .select("doc_id", "repo", "path"))


def _docs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# training-data pipeline ops (dedup / similarity / text analysis /
# multimodal) — directly over the raw documents/embeddings tables
def _q_dedup_exact(spark, sf_dir):
    return dedup.exact_dup_groups(_docs_raw(spark, sf_dir))


def _q_dedup_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_docs_raw(spark, sf_dir), threshold=0.6)


def _q_stream_dedup_gate(spark, sf_dir):
    """Stateful streaming first-seen exact-dedup gate
    (streaming/dedup_gate.py, applyInPandasWithState): a REAL
    availableNow streaming query — file source → keyed state store →
    parquet sink — over the sf corpus in a temp dir. With a single
    micro-batch the pass-set is SQL-expressible (the lexicographic-min
    (repo, path) row per content hash), so the oracle stays hash-exact;
    the cross-batch state semantics are gated by
    tests/test_streaming_dedup.py."""
    import os
    import tempfile

    from easy_solr4files_index_spark.streaming.dedup_gate import stream_dedup_gate

    d = tempfile.mkdtemp(prefix="entry_sdg_")
    src, sink, ckpt = (os.path.join(d, x) for x in ("src", "sink", "ckpt"))
    load_docs(spark, sf_dir, with_acl=False).write.mode("overwrite").parquet(src)
    stream_dedup_gate(spark, src, sink, ckpt)
    return (spark.read.parquet(sink)
            .select("repo", "path", "lang", "content_md5"))


def _q_dedup_minhash(spark, sf_dir):
    return dedup.minhash_band_candidates(_docs_raw(spark, sf_dir))


def _q_dedup_simhash(spark, sf_dir):
    return dedup.simhash32(_docs_raw(spark, sf_dir))


def _q_dedup_apply(spark, sf_dir):
    """Composed at-scale dedup: LSH candidates -> Jaccard verify on
    candidates only -> components -> keep min doc_id per cluster."""
    return dedup.dedup_apply(_docs_raw(spark, sf_dir), threshold=0.6)


def _q_dedup_simhash_cand(spark, sf_dir):
    """SimHash Hamming<=3 candidate pairs via pigeonhole chunk banding."""
    return dedup.simhash_candidates(_docs_raw(spark, sf_dir), max_hamming=3)


def _q_ts_token_count(spark, sf_dir):
    return textstats.token_counts(_docs_raw(spark, sf_dir))


def _q_ts_quality(spark, sf_dir):
    return textstats.quality_scores(_docs_raw(spark, sf_dir))


def _q_ts_profile(spark, sf_dir):
    """All per-document text signals (token/quality/repetition/lang) in
    ONE map-only pass with the token array lambda-bound once per row —
    column-identical to the standalone ops (their twins joined on doc_id
    form the oracle)."""
    return textstats.text_profile(_docs_raw(spark, sf_dir))


def _q_ts_langid(spark, sf_dir):
    return textstats.lang_id(_docs_raw(spark, sf_dir))


def _q_ts_fingerprint(spark, sf_dir):
    return textstats.fingerprints(_docs_raw(spark, sf_dir))


def _q_ann_cosine(spark, sf_dir):
    return similarity.cosine_topk(_emb(spark, sf_dir), [0, 1, 2], k=5)


def _q_ann_ivf(spark, sf_dir):
    return similarity.ivf_assign(_emb(spark, sf_dir), n_centroids=8)


def _q_ann_ivf_topk(spark, sf_dir):
    """IVF-pruned ANN query at nprobe=all (== exact brute force; the
    recall/nprobe trade-off is swept in tests/test_similarity.py)."""
    return similarity.ivf_topk(_emb(spark, sf_dir), [0, 1, 2], k=5, n_centroids=8)


def _q_ann_ivf_materialized(spark, sf_dir):
    """MATERIALIZED IVF (functions/ivf.py): corpus written once
    partitioned by centroid_id; the query scans only probed cells
    (PartitionFilters). nprobe=all == brute force — the oracle gate."""
    import tempfile

    from easy_solr4files_index_spark.functions import ivf

    key = (id(spark), sf_dir, "ivf_mat")
    if key not in _INDEX_CACHE:
        d = tempfile.mkdtemp(prefix="ivf_entry_")
        _INDEX_CACHE[key] = ivf.ivf_build(spark, _emb(spark, sf_dir), d,
                                          n_centroids=8)
    index = _INDEX_CACHE[key]
    q = ivf.queries_from_emb(_emb(spark, sf_dir), [0, 1, 2])
    return ivf.ivf_search(index, q, k=5, nprobe=8)


def _q_ann_pq_rerank(spark, sf_dir):
    """PQ/ADC shortlist -> exact-cosine re-rank (functions/pq.py) at
    shortlist >= corpus == exact brute force — the oracle gate, the same
    convention as ivf's nprobe=all; lossy shortlist/ksub recall dials
    are swept in tests/test_pq.py. The re-rank computes cos with the
    SAME Catalyst expression as cosine_topk, so values hash-match."""
    from easy_solr4files_index_spark.functions import pq as pqm

    emb = _emb(spark, sf_dir)
    key = (id(spark), sf_dir, "pq_books")
    if key not in _INDEX_CACHE:
        _INDEX_CACHE[key] = pqm.pq_train(emb, m=4, ksub=16, train_iters=3)
    books = _INDEX_CACHE[key]
    codes = pqm.pq_encode(emb, books)
    return pqm.pq_search_rerank(codes, emb, pqm.queries_of(emb, [0, 1, 2]),
                                books, k=5, shortlist=1 << 20)


def _q_ann_ivfpq(spark, sf_dir):
    """IVF+PQ composition (functions/ivfpq.py): centroid-partitioned
    COMPRESSED codes scan (PartitionFilters on centroid_id; m smallints
    per vector) -> per-query-cell ADC shortlist -> exact-cosine re-rank.
    nprobe=all + shortlist >= corpus == exact brute force — the oracle
    gate; pruned recall swept in tests/test_pq.py."""
    import tempfile

    from easy_solr4files_index_spark.functions import ivfpq

    key = (id(spark), sf_dir, "ivfpq")
    if key not in _INDEX_CACHE:
        d = tempfile.mkdtemp(prefix="ivfpq_entry_")
        _INDEX_CACHE[key] = ivfpq.ivfpq_build(spark, _emb(spark, sf_dir), d,
                                              n_centroids=8, m=4, ksub=16)
    index = _INDEX_CACHE[key]
    return ivfpq.ivfpq_search(index, _emb(spark, sf_dir), [0, 1, 2], k=5,
                              nprobe=8, shortlist=1 << 20)


def _q_ann_ivf_append(spark, sf_dir):
    """ANN incremental add (functions/ivf.py:ivf_append): index built on
    the first 300 vectors, the rest APPENDED against the frozen
    centroids — file-layout-equivalent to a rebuild over the union, so
    the exact-dial search hash-matches the brute-force cosine oracle
    over the FULL table (append==rebuild at any nprobe is pytest-gated
    in tests/test_ann_maintenance.py)."""
    import tempfile

    from easy_solr4files_index_spark.functions import ivf as ivfm

    emb = _emb(spark, sf_dir)
    key = (id(spark), sf_dir, "ivf_append")
    if key not in _INDEX_CACHE:
        d = tempfile.mkdtemp(prefix="ivf_append_entry_")
        idx = ivfm.ivf_build(spark, emb.filter(F.col("vec_id") < 300), d,
                             n_centroids=8)
        ivfm.ivf_append(idx, emb.filter(F.col("vec_id") >= 300))
        _INDEX_CACHE[key] = idx
    return ivfm.ivf_search(_INDEX_CACHE[key],
                           ivfm.queries_from_emb(emb, [0, 1, 2]),
                           k=5, nprobe=8)


def _q_ann_ivf_delete(spark, sf_dir):
    """ANN incremental delete + compact (ivf_delete/ivf_compact):
    tombstoned vectors stop matching immediately and compact rewrites
    only touched cells — the search hash-matches the cosine oracle with
    the victims excluded (untouched-partition byte-identity is
    pytest-gated)."""
    import tempfile

    from easy_solr4files_index_spark.functions import ivf as ivfm

    emb = _emb(spark, sf_dir)
    key = (id(spark), sf_dir, "ivf_del")
    if key not in _INDEX_CACHE:
        d = tempfile.mkdtemp(prefix="ivf_del_entry_")
        idx = ivfm.ivf_build(spark, emb, d, n_centroids=8)
        ivfm.ivf_delete(idx, [11, 12, 13])
        ivfm.ivf_compact(idx)
        _INDEX_CACHE[key] = idx
    return ivfm.ivf_search(_INDEX_CACHE[key],
                           ivfm.queries_from_emb(emb, [0, 1, 2]),
                           k=5, nprobe=8)


def _q_ann_ivfpq_batch(spark, sf_dir):
    """Batch-DataFrame IVFADC (ivfpq_search_batch): the query table goes
    through ONE broadcast, probe cells + ADC LUTs derived in-kernel per
    query chunk — no per-query driver work (VERDICT r03 #4 closed for
    the composed index too). Exactness-gate dials ⇒ the same brute-force
    cosine oracle as ann_ivfpq_topk; lossy-dial row-parity with the
    per-query kernel in tests/test_pq.py."""
    from easy_solr4files_index_spark.functions import ivfpq
    from easy_solr4files_index_spark.functions.ivf import queries_from_emb

    _q_ann_ivfpq(spark, sf_dir)  # share the cached index build
    index = _INDEX_CACHE[(id(spark), sf_dir, "ivfpq")]
    qdf = queries_from_emb(_emb(spark, sf_dir), [0, 1, 2])
    return ivfpq.ivfpq_search_batch(index, _emb(spark, sf_dir), qdf, k=5,
                                    nprobe=8, shortlist=1 << 20)


def _q_ann_signlsh(spark, sf_dir):
    return similarity.signlsh_buckets(_emb(spark, sf_dir), n_planes=4)


def _q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs: sign-LSH candidate cut + exact
    cosine verify (the fifth dedup family of the pipeline brief)."""
    return similarity.embedding_near_dups(_emb(spark, sf_dir), threshold=0.4)


def _q_mm_decode(spark, sf_dir):
    return multimodal.decode_features(
        multimodal.attach_binary_payload(_docs_raw(spark, sf_dir)))


def _q_mm_resize(spark, sf_dir):
    """Vision-model preprocessing: aspect-preserving resize over the
    image rows of a multimodal payload table (mapInPandas; decoder
    stubbed, integer-exact fake dims, mime filter pushed to the scan)."""
    return multimodal.resize_images(
        multimodal.attach_media_payload(_docs_raw(spark, sf_dir)))


def _q_mm_frames(spark, sf_dir):
    """Video frame sampling: the 1→N mapInPandas batch shape (vectorized
    np.repeat — one row per sampled frame), video mimes only."""
    return multimodal.sample_frames(
        multimodal.attach_media_payload(_docs_raw(spark, sf_dir)))


def _q_windowed_agg(spark, sf_dir):
    """Watermarked tumbling-window aggregate (streaming/windowed.py) run
    on the bounded events table — the SAME logical plan the streaming
    query executes (withWatermark is a batch no-op), so the DuckDB
    time_bucket twin checks the window semantics end-to-end; late-data
    drop + append-once finalization are gated in
    tests/test_streaming_windowed.py (not batch-expressible)."""
    from easy_solr4files_index_spark.streaming.windowed import windowed_event_agg

    return windowed_event_agg(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _q_mm_extract(spark, sf_dir):
    """S8 REAL content extraction for text mimes (the Tika-equivalent,
    Solr.scala:133-143): html/xml/plain payloads reduced to their visible
    text by a pure-Catalyst regex/replace chain (script+style+comment
    removal, CDATA unwrap, tag strip, entity decode, whitespace
    canonicalization) — JVM-side, zero Python, pipelined inside the
    payload scan. Binary media (pdf/docx/png) stays behind the documented
    decoder stub -> NULL -> metadata-only fallback (S10/E2)."""
    return multimodal.extract_text(
        multimodal.attach_markup_payload(_docs_raw(spark, sf_dir)))


def _q_topk_catenate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: a single-token query hits a term that only EXISTS via
    catenation, mixed with a normal term — dl/avgdl/df all shift under
    the catenate chain, so the whole scoring pipeline is re-derived by
    the oracle with the same chain."""
    return search(_index(spark, sf_dir, "catenate"),
                  "spark docs00000007txt", k=10).page


def _q_ann_batch(spark, sf_dir):
    """Batch-scale ANN (the 10⁵-query corpus-vs-corpus shape): 100
    queries as a DATAFRAME through pq_search_rerank_batch — one Spark
    broadcast of the query table, per-query LUTs computed in-kernel, no
    per-query driver work. Exactness gate: shortlist >= corpus ==
    brute-force cosine_topk for the same 100 ids (hash-matched); lossy
    dials swept in tests/test_pq.py."""
    from easy_solr4files_index_spark.functions import pq as pqm

    emb = _emb(spark, sf_dir)
    key = (id(spark), sf_dir, "pq_books")
    if key not in _INDEX_CACHE:
        _INDEX_CACHE[key] = pqm.pq_train(emb, m=4, ksub=16, train_iters=3)
    books = _INDEX_CACHE[key]
    codes = pqm.pq_encode(emb, books)
    qdf = pqm.queries_df_of(emb, list(range(100)))
    return pqm.pq_search_rerank_batch(codes, emb, qdf, books, k=3,
                                      shortlist=1 << 20)


def _q_budgeted_full(spark, sf_dir):
    """T3 `timeAllowed` contract (SearchServlet.scala:97): with an
    effectively infinite budget the budgeted path must complete every
    phase and return the EXACT top-k (partial=False) — hash-matched
    against the same BM25 oracle as the unbudgeted search. The partial
    path (budget exhausted mid-plan) is gated in
    tests/test_physical_index.py."""
    res = search(_index(spark, sf_dir), "spark join merge", k=10,
                 time_allowed_ms=1e12)
    assert res.partial is False
    return res.page


def _q_envelope(spark, sf_dir):
    """S13 result-sink envelope as a relational result: the page rows
    carrying found/returned/time_allowed summary columns (Solr.scala:
    91-103, api.yml:172-256) — the whole envelope under the oracle. The
    envelope's fileitems carry no doc_id, so it is joined back from the
    stored fields by (repo, path)."""
    idx = _index(spark, sf_dir)
    env = envelope(idx, "spark join", k=10)
    s = env["summary"]
    items = spark.createDataFrame(
        [(s["found"], s["returned"], s["time_allowed"], it["repo"],
          it["path"], it["lang"], it["score"]) for it in env["fileitems"]],
        "found long, returned long, time_allowed int, repo string, "
        "path string, lang string, score double")
    return items.join(idx.docs_store.select("doc_id", "repo", "path"),
                      ["repo", "path"])


def _q_ann_ivfpq_res(spark, sf_dir):
    """RESIDUAL IVFADC (functions/ivfpq.py residual=True — the
    FAISS-standard composition, Jégou 2011 §IV): PQ codes quantize
    x_n − c_n; ADC LUTs are per-(query, probed cell) q_n − c_n, built
    in-kernel. Exactness dials (nprobe=all, shortlist ≥ corpus) ⇒
    rank-identical to brute force (the exact-cosine re-rank), the same
    oracle gate as ann_ivfpq_topk; the recall gain at lossy dials is
    benched in BENCH/PIPELINE.md and pytest-gated (residual ≥
    non-residual at identical dials, tests/test_pq.py)."""
    import tempfile

    from easy_solr4files_index_spark.functions import ivfpq

    key = (id(spark), sf_dir, "ivfpq_res")
    if key not in _INDEX_CACHE:
        d = tempfile.mkdtemp(prefix="ivfpqres_entry_")
        _INDEX_CACHE[key] = ivfpq.ivfpq_build(
            spark, _emb(spark, sf_dir), d, n_centroids=8, m=8, ksub=16,
            residual=True)
    return ivfpq.ivfpq_search(_INDEX_CACHE[key], _emb(spark, sf_dir),
                              [0, 1, 2], k=5, nprobe=8, shortlist=1 << 20)


def _q_stream_ann_ingest(spark, sf_dir):
    """Exactly-once streaming ANN ingest (streaming/ann_ingest.py): an
    IVFADC index built on the first 300 vectors, the rest drained
    through the transactional foreachBatch sink (manifest-gated file
    visibility, redelivery no-op) — the post-drain exact-dial search
    must hash-match brute force over the UNION. Crash-window/orphan
    semantics are pytest-gated (tests/test_streaming_ann.py)."""
    import os
    import tempfile

    from easy_solr4files_index_spark.functions import ivfpq
    from easy_solr4files_index_spark.streaming.ann_ingest import (
        stream_ann_append)

    key = (id(spark), sf_dir, "str_ann")
    if key not in _INDEX_CACHE:
        base = tempfile.mkdtemp(prefix="entry_sann_")
        d, src, ckpt = (os.path.join(base, x)
                        for x in ("idx", "src", "ckpt"))
        emb = _emb(spark, sf_dir)
        ivfpq.ivfpq_build(spark, emb.filter(F.col("vec_id") < 300), d,
                          n_centroids=8, m=8, ksub=16, residual=True)
        emb.filter(F.col("vec_id") >= 300).write.mode("append").parquet(src)
        stream_ann_append(spark, src, d, ckpt, pq=True)
        _INDEX_CACHE[key] = d
    idx = ivfpq.ivfpq_open(spark, _INDEX_CACHE[key])
    return ivfpq.ivfpq_search(idx, _emb(spark, sf_dir), [0, 1, 2], k=5,
                              nprobe=8, shortlist=1 << 20)


# ~18 analyzer tokens of cross-document boilerplate planted on every
# doc_id % 7 == 0 doc — the repeated-span shape doc-level dedup cannot
# see (functions/spans.py; Lee et al. 2022)
_BOILER = ("this material is provided as is without warranty of any kind "
           "express or implied including fitness and merchantability")
_PLANT_SQL = ("(SELECT * REPLACE (CASE WHEN doc_id % 7 = 0 "
              f"THEN coalesce(text, '') || ' {_BOILER}' "
              "ELSE text END AS text) FROM documents)")


def _q_dedup_spans(spark, sf_dir):
    """Substring-level span dedup (functions/spans.py): per-doc stats of
    maximal duplicated 15-gram spans over the corpus with planted
    cross-doc boilerplate — gram aggregate → anchor semi-join →
    window interval merge, never all-pairs."""
    from easy_solr4files_index_spark.functions import spans

    planted = _docs_raw(spark, sf_dir).withColumn(
        "text", F.when(F.col("doc_id") % 7 == 0,
                       F.concat_ws(" ", F.coalesce("text", F.lit("")),
                                   F.lit(_BOILER)))
        .otherwise(F.col("text")))
    return spans.dup_span_stats(planted, w=15)


def _q_mm_decode_real(spark, sf_dir):
    """REAL binary image decode (VERDICT r04 #3): generate_bmp_payload
    writes real 24-bit BMPs per doc; decode_bmp parses the actual
    header + padded bottom-up BGR pixel array and sums channels; the
    oracle recomputes dims + sums from the generator's closed-form
    pixel law — no decoder on the oracle side, so any parse slip
    breaks the hash. pdf/docx/png stay documented stubs."""
    return multimodal.decode_bmp(
        multimodal.generate_bmp_payload(_docs_raw(spark, sf_dir)))


_MIX_WEIGHTS = {"src0": 2.0, "src3": 0.2, "src7": 1.4}


def _q_pipe_mix(spark, sf_dir):
    """Domain-mixture sampling (functions/sampling.py domain_mixture —
    the Pile/LLaMA per-source reweighting recipe): per-repo sampled
    counts under weighted per-domain rates; integer cutoffs embedded in
    both engines' plans, composing hash_sample's disjoint-window
    determinism."""
    from easy_solr4files_index_spark.functions import sampling as S

    mix = S.domain_mixture(_docs_raw(spark, sf_dir), rate=0.3,
                           weights=_MIX_WEIGHTS, salt="mix1")
    return (mix.groupBy(F.col("source").alias("repo"))
            .agg(F.count("*").alias("kept")))


def _q_pipe_contamination(spark, sf_dir):
    """Benchmark-contamination detector (functions/contamination.py): the
    eval set is a deterministic carve-out — every 83rd doc's first-15-
    token snippet (the verbatim eval-leak shape) — and the detector must
    recover each snippet's source doc at containment 1.0 plus any other
    doc sharing the prefix. Bench side broadcast; the corpus never
    shuffles (only the (doc, bench) match-count aggregate does)."""
    from easy_solr4files_index_spark.functions import contamination as C

    docs = _docs_raw(spark, sf_dir)
    bench = C.snippet_bench(docs, modulus=83, k_tokens=15)
    return C.contamination_pairs(docs, bench, n=3, threshold=0.5,
                                 exclude_self=False)


def _q_pipe_curate(spark, sf_dir):
    """End-to-end corpus curation (functions/curation.py): quality +
    length + repetition + language gates in ONE map-only pass over a
    shared token projection, exact dedup as ONE min_by hash aggregate,
    snippet-bench decontamination as a broadcast anti-join; the result is
    per-repo survivor counts. The oracle recomputes the WHOLE pipeline by
    composing the standalone operators' own SQL twins."""
    from easy_solr4files_index_spark.functions import contamination as C
    from easy_solr4files_index_spark.functions import curation as CU

    docs = _docs_raw(spark, sf_dir)
    cfg = CU.CurationConfig(min_quality=0.7, min_tokens=15,
                            max_top_bigram=0.08, langs=("en",))
    bench = C.snippet_bench(docs, modulus=83, k_tokens=15)
    kept = CU.curate(docs, cfg, bench=bench)
    return (kept.groupBy(F.col("source").alias("repo"))
            .agg(F.count("*").alias("kept")))


def _q_ts_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    top-bigram fraction + duplicate-trigram fraction as map-only Catalyst
    array expressions (no exchange at any corpus size)."""
    return textstats.repetition_scores(_docs_raw(spark, sf_dir))


def _q_pipe_sample(spark, sf_dir):
    """Deterministic hash-Bernoulli corpus sample (functions/sampling.py)
    — reproducible across runs/partitionings, map-only."""
    from easy_solr4files_index_spark.functions import sampling as S

    return (S.hash_sample(_docs_raw(spark, sf_dir), rate=0.25, salt="s1")
            .select("doc_id", "source", "lang"))


def _q_pipe_cap(spark, sf_dir):
    """Per-repo quota (anti-domination): at most 10 docs per source,
    winners picked by deterministic hash order."""
    from easy_solr4files_index_spark.functions import sampling as S

    return (S.cap_per_key(_docs_raw(spark, sf_dir), key="source", n=10)
            .select("doc_id", "source"))


def _q_build_metrics(spark, sf_dir):
    """A3: the north-rule build metrics persisted at index time
    (operators/postings.py:580-586 `_metrics` — rows indexed, terms,
    postings bytes, skew factor per partition; the reference's feedback
    summary, package.scala:110-118). The SQL-expressible surface: corpus
    size + token mass from globals.json's commit record, vocabulary size
    and posting count aggregated from the per-partition metrics table,
    and the E2 degraded-doc count. postings_bytes/skew_factor depend on
    the physical block encoding — pytest-gated in test_physical_index."""
    from easy_solr4files_index_spark.operators.postings import _read_globals

    idx = _index(spark, sf_dir)
    meta = _read_globals(idx.index_dir)
    return (idx.metrics.agg(
                F.sum("terms").cast("long").alias("n_terms"),
                F.sum("rows_indexed").cast("long").alias("postings_rows"))
            .select(F.lit(int(idx.n_docs)).cast("long").alias("n_docs"),
                    F.lit(int(meta["dl_sum"])).cast("long").alias("dl_sum"),
                    "n_terms", "postings_rows",
                    F.lit(int(idx.degraded_docs)).cast("long")
                     .alias("degraded_docs")))


# The driver's correctness gate records the FIRST 50 queries() entries
# (dict order). Round 3 silently lost coverage when new entries pushed
# old ones past the window, so the dict is now managed as a fixed-size
# canonical set: never/least-recently driver-checked entries come FIRST,
# redundant variants (a strict subset of another entry's code path +
# oracle) live in extra_queries(), which the pytest parity gate
# (tests/test_entry_parity.py) still checks every run.
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # --- NEW round-5 operators (never driver-checked) ---
        "ann_ivfpq_res": _q_ann_ivfpq_res,
        "dedup_spans": _q_dedup_spans,
        "mm_decode_real": _q_mm_decode_real,
        "pipe_mix": _q_pipe_mix,
        "str_ann_ingest": _q_stream_ann_ingest,
        # --- rotated IN from extras (pytest-green, never driver-checked;
        # VERDICT r04 #4) ---
        "mm_resize_stub": _q_mm_resize,
        "mm_frames_stub": _q_mm_frames,
        "pipe_cap_per_repo": _q_pipe_cap,
        # --- first driver-checked r04 ---
        "pipe_contamination": _q_pipe_contamination,
        "pipe_curate": _q_pipe_curate,
        "ts_profile": _q_ts_profile,
        "pipe_sample": _q_pipe_sample,
        "ts_repetition": _q_ts_repetition,
        "fts_build_metrics": _q_build_metrics,
        "fts_cached_topk": _q_cached_topk,
        "str_windowed_agg": _q_windowed_agg,
        "ann_ivfpq_batch": _q_ann_ivfpq_batch,
        "ann_ivf_append": _q_ann_ivf_append,
        "ann_ivf_delete": _q_ann_ivf_delete,
        "mm_extract_text": _q_mm_extract,
        "str_dedup_gate": _q_stream_dedup_gate,
        "ann_ivf_mat_topk": _q_ann_ivf_materialized,
        "ann_pq_rerank": _q_ann_pq_rerank,
        "ann_ivfpq_topk": _q_ann_ivfpq,
        "ann_batch_rerank": _q_ann_batch,
        "fts_budgeted_full": _q_budgeted_full,
        "fts_envelope": _q_envelope,
        "fts_topk_catenate": _q_topk_catenate,
        "ts_fingerprint": _q_ts_fingerprint,
        "dedup_embedding": _q_dedup_embedding,
    }
    q.update({name: _mk_search(p) for name, p in _SEARCHES.items()})
    q.update({
        "fts_termstats": _q_termstats,
        "fts_doc_stats": _q_doc_stats,
        "fts_sha256": _q_sha256,
        "fts_topk_physical": _q_topk_physical,
        "fts_delete_physical": _q_delete_physical,
        "fts_upsert_physical": _q_upsert_physical,
        "fts_topk_synonyms_phrase": _q_topk_synonyms_phrase,
        "fts_numfound_physical": _q_numfound_physical,
        "fts_topk_boolean_mixed": _q_topk_boolean_mixed,
        "fts_phrase_physical": _q_phrase_physical,
        "meta_empty_value_filter": _q_empty_value_filter,
        "fts_path_prefix": _q_path_prefix,
        "fts_topk_access_anon": _q_access_anon,
        "fts_ingest_acl": _q_ingest_acl,
        "fts_auth_join": _q_auth_join,
        "fts_topk_nostop": _q_topk_nostop,
        "dedup_apply": _q_dedup_apply,
        "dedup_simhash_cand": _q_dedup_simhash_cand,
    })
    assert len(q) <= 50, f"driver window is 50; queries() has {len(q)}"
    return q


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Entries retired from the driver's 50-query window because a
    canonical queries() entry covers a strict superset of their code path
    AND oracle (VERDICT r03 'collapse redundant pairs'). They remain
    fully oracle-gated by tests/test_entry_parity.py:

      fts_topk_single/filtered/page/hot  ⊂ fts_topk_multi / _filters2 /
                                           fts_envelope+matchall (T2) / multi
      fts_topk_multi / fts_topk_arrow_tok ⊂ fts_topk_physical+fts_budgeted_full
                                           (same query text) / pytest 4-way
                                           tokenizer parity + fts_topk_catenate
      fts_global_stats                   ⊂ every BM25 oracle (embeds N+avgdl)
                                           + fts_build_metrics (n_docs, dl_sum)
      dedup_ngram_jaccard                ⊂ dedup_apply (same Jaccard verify)
      scan_bags / meta_typed_id          ⊂ scan_stores (same derivation family;
                                           green r01-r03, pytest-gated)
      meta_vocab_join                    ⊂ meta_vocab_join_abr (adds the twin col)
      fts_topk_synonyms                  ⊂ fts_topk_synonyms_phrase
      fts_topk_phrase/must/prohibit      ⊂ fts_topk_boolean_mixed (same
                                           boolean/phrase scorer)
      fts_topk_access_authed             ⊂ fts_auth_join (same access_filter)
      dedup_minhash_lsh / dedup_simhash  ⊂ dedup_apply / dedup_simhash_cand
      ann_ivf_assign / ann_ivf_topk      ⊂ ann_ivf_mat_topk (materialized IVF)
      mm_decode_stub (fake-dim features)  ⊂ mm_extract_text (REAL text
                                           extraction; same payload/mime/
                                           byte_len/gate plumbing)
    """
    out = {name: _mk_search(p) for name, p in _EXTRA_SEARCHES.items()}
    out.update({
        "mm_decode_stub": _q_mm_decode,
        # --- retired round-5 (all green r01-r04; freed slots for the 5
        # new operators + the 3 rotated-in extras) ---
        # ts_langid ⊂ ts_profile (column-identical fused pass)
        "ts_langid": _q_ts_langid,
        # ann_cosine_topk: the brute-force baseline IS the oracle of
        # every in-window ann_* exact-dial row (same Catalyst cos expr)
        "ann_cosine_topk": _q_ann_cosine,
        # ann_signlsh_buckets ⊂ dedup_embedding (its LSH candidate cut)
        "ann_signlsh_buckets": _q_ann_signlsh,
        # dedup_exact_groups ⊂ str_dedup_gate (same md5 grouping) +
        # dedup_apply (exact dups are Jaccard-1 near-dup clusters)
        "dedup_exact_groups": _q_dedup_exact,
        # trivial relational projections/joins, green r01-r04
        "meta_group_count": _q_meta_group_count,
        "meta_vocab_join_abr": _q_meta_vocab_join_abr,
        "meta_range_filter": _q_meta_range_filter,
        "scan_stores": _q_scan_stores,
        # ts_token_count / ts_quality ⊂ ts_profile (column-identical
        # fused pass; green r01-r03)
        "ts_token_count": _q_ts_token_count,
        "ts_quality": _q_ts_quality,
        # fts_numfound_boolean ⊂ fts_phrase_physical (same clause set,
        # same boolean match-set oracle) + fts_numfound_physical (count
        # semantics); meta_date_normalize green r02-r03, trivial
        # projection — both freed slots for pipe_contamination /
        # ts_repetition (new, never driver-checked)
        "fts_numfound_boolean": _q_numfound_boolean,
        "meta_date_normalize": _q_meta_date_normalize,
        # meta_flatten_ws green r01-r03; trivial projection, freed the
        # pipe_curate slot
        "meta_flatten_ws": _q_meta_flatten_ws,
        "fts_topk_arrow_tok": _q_topk_arrow,
        "fts_global_stats": _q_global_stats,
        "dedup_ngram_jaccard": _q_dedup_jaccard,
        "scan_bags": _q_scan_bags,
        "meta_typed_id": _q_meta_typed_id,
        "meta_vocab_join": _q_meta_vocab_join,
        "fts_topk_synonyms": _q_topk_synonyms,
        "fts_topk_phrase": _q_topk_phrase,
        "fts_topk_must": _q_topk_must,
        "fts_topk_prohibit": _q_topk_prohibit,
        "fts_topk_access_authed": _q_access_authed,
        "dedup_minhash_lsh": _q_dedup_minhash,
        "dedup_simhash": _q_dedup_simhash,
        "ann_ivf_assign": _q_ann_ivf,
        "ann_ivf_topk": _q_ann_ivf_topk,
    })
    return out


def oracle_sql() -> dict[str, str]:
    """One SQL twin per queries() AND extra_queries() entry — the driver
    pairs by queries() keys; the extras' twins keep the pytest parity
    gate exact for the retired entries too."""
    out: dict[str, str] = {}
    for name, (text, k, skip, filters) in {**_SEARCHES, **_EXTRA_SEARCHES}.items():
        if text is None:
            out[name] = osql.matchall_sql(k=k, skip=skip, filters=filters)
        else:
            out[name] = osql.bm25_topk_sql(tokenize_py(text), k=k, skip=skip, filters=filters)
    out["fts_budgeted_full"] = osql.bm25_topk_sql(
        tokenize_py("spark join merge"), k=10)
    out["fts_envelope"] = osql.envelope_sql(tokenize_py("spark join"), k=10)
    # catenate chain: query text keeps the SPLIT chain (tokenize_py), the
    # oracle rebuilds tf/df/dl/avgdl under the catenateWords analyzer
    out["fts_topk_catenate"] = osql.bm25_topk_sql(
        tokenize_py("spark docs00000007txt"), k=10, catenate=True)
    out["fts_termstats"] = osql.termstats_sql(["spark", "join", "dup", "customer"])
    out["fts_global_stats"] = osql.global_stats_sql()
    out["fts_build_metrics"] = osql.build_metrics_sql()
    from easy_solr4files_index_spark.functions import contamination as _contam
    from easy_solr4files_index_spark.functions import curation as _cur
    out["pipe_contamination"] = _contam.contamination_pairs_sql(
        n=3, threshold=0.5, bench_where="doc_id % 83 = 0",
        snippet_tokens=15, exclude_self=False)
    out["ts_repetition"] = textstats.repetition_scores_sql()
    from easy_solr4files_index_spark.functions import sampling as _samp
    out["pipe_sample"] = (
        "SELECT doc_id, source, lang FROM ("
        + _samp.hash_sample_sql(rate=0.25, salt="s1") + ")")
    out["pipe_cap_per_repo"] = (
        "SELECT doc_id, source FROM ("
        + _samp.cap_per_key_sql(key="source", n=10) + ")")
    out["pipe_curate"] = _cur.curate_kept_by_repo_sql(
        _cur.CurationConfig(min_quality=0.7, min_tokens=15,
                            max_top_bigram=0.08, langs=("en",)),
        bench_where="doc_id % 83 = 0", snippet_tokens=15)
    out["fts_doc_stats"] = osql.doc_stats_sql("src3")
    out["fts_sha256"] = osql.sha256_sql()
    out["fts_topk_physical"] = osql.bm25_topk_sql(tokenize_py("spark join merge"), k=10)
    out["fts_cached_topk"] = osql.bm25_topk_sql(tokenize_py("spark join merge"), k=10)
    out["fts_topk_arrow_tok"] = osql.bm25_topk_sql(tokenize_py("table scan"), k=10)
    out["fts_delete_physical"] = osql.bm25_all_matches_sql(
        tokenize_py("spark"), ingest_where="source <> 'src0'")
    out["fts_upsert_physical"] = osql.bm25_all_matches_sql(
        tokenize_py("spark updatedmarker"),
        source_table="documents_mod",
        pre_cte=("documents_mod AS (SELECT * REPLACE ("
                 "CASE WHEN source = 'src1' THEN coalesce(text, '') || ' updatedmarker' "
                 "ELSE text END AS text) FROM documents), "))
    out["meta_group_count"] = (
        "SELECT o_orderstatus, count(*) AS cnt FROM orders GROUP BY o_orderstatus")
    out["meta_vocab_join"] = (
        "SELECT n_name, r_name AS region_name FROM nation "
        "JOIN region ON n_regionkey = r_regionkey")
    out["meta_vocab_join_abr"] = (
        "SELECT n_name, r_name AS region_name, "
        "'ABR' || CAST(r_regionkey AS VARCHAR) AS region_abr FROM nation "
        "JOIN region ON n_regionkey = r_regionkey")
    # synonym expansion happens at query-parse time: the oracle scores the
    # EXPANDED disjunction, which is exactly what the engine must produce
    out["fts_topk_synonyms"] = osql.bm25_topk_sql(["join", "merge"], k=10)
    # multi-word synonym: 'Table Scan' analyzes to (table, scan); the
    # oracle scores the fully-expanded disjunction
    out["fts_topk_synonyms_phrase"] = osql.bm25_topk_sql(
        ["join", "table", "scan"], k=10)
    out["fts_numfound_physical"] = osql.numfound_sql(tokenize_py("spark join"))
    # boolean/phrase dismax (Q9/Q10): the oracle parses the SAME query
    # string with the SAME parser, then recomputes phrase tf from the
    # ordered token list (DuckDB list lambdas) and applies the Lucene
    # BooleanQuery match predicate in SQL
    from easy_solr4files_index_spark.operators.dismax import parse_dismax

    def _cl(text: str):
        return [(c.terms, c.occur) for c in parse_dismax(text)]

    out["fts_topk_phrase"] = osql.boolean_topk_sql(_cl('"spark join" merge'), k=10)
    out["fts_topk_must"] = osql.boolean_topk_sql(_cl("+spark join"), k=10)
    out["fts_topk_prohibit"] = osql.boolean_topk_sql(_cl("spark -join"), k=10)
    out["fts_topk_boolean_mixed"] = osql.boolean_topk_sql(
        _cl('+"spark join" merge -parse'), k=10)
    out["fts_numfound_boolean"] = osql.boolean_numfound_sql(
        _cl('+"spark join" merge -parse'))
    out["fts_phrase_physical"] = osql.boolean_topk_sql(
        _cl('+"spark join" merge -parse'), k=10)
    out["meta_date_normalize"] = (
        "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%dT00:00:00Z') AS date_available "
        "FROM orders WHERE o_orderkey <= 100")
    out["meta_range_filter"] = (
        "SELECT o_orderpriority, count(*) AS cnt FROM orders "
        "WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY o_orderpriority")
    out["scan_stores"] = "SELECT DISTINCT source AS repo FROM documents"
    out["scan_bags"] = (
        "SELECT DISTINCT rpad(md5(source || ':' || CAST(doc_id AS VARCHAR)), 40, '0') "
        "AS commit FROM documents WHERE source = 'src5'")
    out["meta_flatten_ws"] = (
        "SELECT doc_id, trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')) "
        "AS flat FROM documents WHERE doc_id <= 20")
    out["meta_typed_id"] = (
        "SELECT doc_id, regexp_replace(source, '^src', '') || ' ' || "
        "CAST(doc_id AS VARCHAR) AS typed_id FROM documents")
    out["meta_empty_value_filter"] = (
        # CAST: DuckDB types integer sum() as HUGEINT (decimal128 in Arrow);
        # Spark emits int64 — cast for schema/hash parity
        "SELECT CAST(sum(CASE WHEN coalesce(text, '') <> '' THEN 1 ELSE 0 END) AS BIGINT) "
        "AS non_empty, count(*) AS total FROM documents")
    out["fts_path_prefix"] = osql.path_prefix_sql("docs/0000001")
    out["fts_topk_access_anon"] = osql.bm25_topk_sql(
        tokenize_py("spark join"), k=10, filters=access_filter(None))
    out["fts_topk_access_authed"] = osql.bm25_topk_sql(
        tokenize_py("spark join"), k=10, filters=access_filter("user3"))
    out["fts_ingest_acl"] = osql.bm25_topk_sql(
        tokenize_py("table scan"), k=10, ingest_where="doc_id % 10 <> 0")
    # J4: auth-join ingest drops NONE files; the authed access filter runs
    # over the JOINED columns (same deterministic doc_id derivations)
    out["fts_auth_join"] = osql.bm25_topk_sql(
        tokenize_py("spark join"), k=10, ingest_where="doc_id % 10 <> 0",
        filters=access_filter("user3"))
    out["fts_topk_nostop"] = osql.bm25_topk_sql(
        tokenize_py("the spark", ()), k=10, stopwords=())
    out["dedup_exact_groups"] = dedup.exact_dup_groups_sql()
    out["dedup_ngram_jaccard"] = dedup.ngram_jaccard_pairs_sql(threshold=0.6)
    out["str_dedup_gate"] = """
WITH docs AS (
  SELECT source AS repo,
         'docs/' || lpad(CAST(doc_id AS VARCHAR), 8, '0') || '.txt' AS path,
         lang, md5(coalesce(text, '')) AS content_md5
  FROM documents),
g AS (SELECT *, row_number() OVER (PARTITION BY content_md5
                                   ORDER BY repo, path) AS rn FROM docs)
SELECT repo, path, lang, content_md5 FROM g WHERE rn = 1
"""
    out["dedup_minhash_lsh"] = dedup.minhash_band_candidates_sql()
    out["dedup_simhash"] = dedup.simhash32_sql()
    out["dedup_apply"] = dedup.dedup_apply_sql(threshold=0.6)
    out["dedup_simhash_cand"] = dedup.simhash_candidates_sql(max_hamming=3)
    out["ts_token_count"] = textstats.token_counts_sql()
    out["ts_profile"] = textstats.text_profile_sql()
    out["ts_quality"] = textstats.quality_scores_sql()
    out["ts_langid"] = textstats.lang_id_sql()
    out["ts_fingerprint"] = textstats.fingerprints_sql()
    out["ann_cosine_topk"] = similarity.cosine_topk_sql([0, 1, 2], k=5)
    out["ann_ivf_assign"] = similarity.ivf_assign_sql(n_centroids=8)
    # nprobe = n_centroids scans every cell => the brute-force oracle IS
    # the expected result (prune-exactness gate)
    out["ann_ivf_topk"] = similarity.cosine_topk_sql([0, 1, 2], k=5)
    out["ann_ivf_mat_topk"] = similarity.cosine_topk_sql([0, 1, 2], k=5)
    out["ann_pq_rerank"] = similarity.cosine_topk_sql([0, 1, 2], k=5)
    out["ann_ivfpq_topk"] = similarity.cosine_topk_sql([0, 1, 2], k=5)
    out["ann_ivfpq_batch"] = similarity.cosine_topk_sql([0, 1, 2], k=5)
    out["ann_ivf_append"] = similarity.cosine_topk_sql([0, 1, 2], k=5)
    out["ann_ivf_delete"] = similarity.cosine_topk_sql(
        [0, 1, 2], k=5, exclude_ids=[11, 12, 13])
    # batch path at shortlist >= corpus == brute force over 100 queries
    out["ann_batch_rerank"] = similarity.cosine_topk_sql(list(range(100)), k=3)
    out["ann_signlsh_buckets"] = similarity.signlsh_buckets_sql(n_planes=4)
    out["dedup_embedding"] = similarity.embedding_near_dups_sql(threshold=0.4)
    out["mm_decode_stub"] = multimodal.decode_features_sql()
    out["mm_resize_stub"] = multimodal.resize_images_sql()
    out["mm_frames_stub"] = multimodal.sample_frames_sql()
    out["mm_extract_text"] = multimodal.extract_text_sql()
    from easy_solr4files_index_spark.streaming.windowed import (
        windowed_event_agg_sql)
    out["str_windowed_agg"] = windowed_event_agg_sql()
    # --- round-5 operators ---
    # residual IVFADC / streaming ANN ingest at exactness dials == brute
    # force (the same convention as every ann_* gate)
    out["ann_ivfpq_res"] = similarity.cosine_topk_sql([0, 1, 2], k=5)
    out["str_ann_ingest"] = similarity.cosine_topk_sql([0, 1, 2], k=5)
    from easy_solr4files_index_spark.functions import spans as _spans
    out["dedup_spans"] = _spans.dup_span_stats_sql(w=15, source=_PLANT_SQL)
    out["mm_decode_real"] = multimodal.decode_bmp_sql()
    out["pipe_mix"] = (
        "SELECT source AS repo, count(*) AS kept FROM ("
        + _samp.domain_mixture_sql(rate=0.3, weights=_MIX_WEIGHTS,
                                   salt="mix1")
        + ") GROUP BY source")
    return out
