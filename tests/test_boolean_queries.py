"""Dismax boolean/phrase queries (Q9/Q10): parser grammar, engine
execution vs the brute-force oracle, and maintenance interplay
(positions survive upsert/delete/compact).

Reachable-surface provenance: SearchServlet.scala:79-88 passes the raw
``text`` into dismax unescaped, so balanced quotes and glued +/- are
user-reachable operators of the reference's /filesearch endpoint.
"""

from __future__ import annotations

import pytest

from easy_solr4files_index_spark.operators.dismax import (
    MUST, MUST_NOT, SHOULD, Clause, is_plain_or, parse_dismax)
from easy_solr4files_index_spark.operators.index_build import IndexConfig
from easy_solr4files_index_spark.operators.postings import open_index, write_index
from easy_solr4files_index_spark.operators.wand import search
from easy_solr4files_index_spark.oracle.bm25_oracle import (
    build_oracle, oracle_search_boolean)
from easy_solr4files_index_spark.sources.docs_source import synth_code_docs

CFG = IndexConfig(bucket_span=64, term_buckets=8)


# ------------------------------------------------------------------ parser

def test_parse_plain_or():
    cl = parse_dismax("spark join")
    assert cl == [Clause(("spark",), SHOULD), Clause(("join",), SHOULD)]
    assert is_plain_or(cl)


def test_parse_operators_and_phrase():
    cl = parse_dismax('+"block max" wand -lucene')
    assert cl == [Clause(("block", "max"), MUST),
                  Clause(("wand",), SHOULD),
                  Clause(("lucene",), MUST_NOT)]
    assert not is_plain_or(cl)


def test_parse_unbalanced_quotes_stripped():
    # SolrPluginUtils.stripUnbalancedQuotes: odd quote count -> no phrases
    assert parse_dismax('spark "join') == [
        Clause(("spark",), SHOULD), Clause(("join",), SHOULD)]


def test_parse_lone_sign_is_not_an_operator():
    # partialEscape: '-' not glued to a term is a literal (then dropped
    # by the tokenizer as a delimiter)
    assert parse_dismax("spark - join") == [
        Clause(("spark",), SHOULD), Clause(("join",), SHOULD)]


def test_parse_multitoken_word_spreads_occur():
    cl = parse_dismax("-fooBar")
    assert cl == [Clause(("foo",), MUST_NOT), Clause(("bar",), MUST_NOT)]


def test_parse_single_token_phrase_degrades():
    assert parse_dismax('"spark"') == [Clause(("spark",), SHOULD)]


def test_parse_all_stopword_phrase_dropped():
    assert parse_dismax('"the of" spark') == [Clause(("spark",), SHOULD)]


def test_parse_dedupes():
    assert parse_dismax("spark spark +spark") == [
        Clause(("spark",), SHOULD), Clause(("spark",), MUST)]


# ------------------------------------------------------- engine vs oracle

@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    docs = synth_code_docs(spark, n_docs=250, seed=23)
    index_dir = str(tmp_path_factory.mktemp("ftsbool") / "index")
    write_index(spark, docs, index_dir, CFG, lineage_groups=1)
    pidx = open_index(spark, index_dir)
    assert pidx.has_positions
    oracle = build_oracle([r.asDict() for r in docs.collect()])
    return pidx, oracle


BOOL_QUERIES = [
    '"parse merge"',
    '"parse merge" token',
    '+parse merge',
    'parse -merge',
    '+"parse merge" token -license',
    '-parse -merge',            # pure negative -> empty (MatchNoDocs)
    '+nonexistentterm parse',   # unsatisfiable MUST -> empty
    '"parse nonexistentterm"',  # phrase with missing term -> empty
    '+parse +merge +token',     # conjunction only
    '"merge parse"',            # reversed order: different phrase
]


@pytest.mark.parametrize("text", BOOL_QUERIES)
def test_physical_boolean_vs_oracle(built, text):
    pidx, oracle = built
    got = search(pidx, text, k=15, round_score=None).page.collect()
    exp = oracle_search_boolean(oracle, text, k=15)
    assert [g["doc_id"] for g in got] == [e["doc_id"] for e in exp], text
    assert [g["score"] for g in got] == pytest.approx(
        [e["score"] for e in exp], rel=1e-9)


def test_boolean_with_filters(built):
    pidx, oracle = built
    flt = {"lang": ["java", "python"]}
    text = '+"parse merge" token'
    exp = oracle_search_boolean(oracle, text, k=10, filters=flt)
    got = search(pidx, text, k=10, filters=flt,
                 round_score=None).page.collect()
    assert [g["doc_id"] for g in got] == [e["doc_id"] for e in exp]


def test_numfound_boolean(built):
    pidx, oracle = built
    text = '+"parse merge" -license'
    exp = len(oracle_search_boolean(oracle, text, k=10 ** 9))
    found = search(pidx, text, found=True).found
    assert found == exp


def test_phrase_pagination(built):
    pidx, oracle = built
    text = '"parse merge" token'
    exp = oracle_search_boolean(oracle, text, k=5, skip=3)
    got = search(pidx, text, k=5, skip=3, round_score=None).page.collect()
    assert [g["doc_id"] for g in got] == [e["doc_id"] for e in exp]


# -------------------------------------------------- maintenance interplay

def test_phrase_after_upsert_matches_fresh_build(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from easy_solr4files_index_spark.operators.maintenance import (
        upsert_repos_physical)

    docs = synth_code_docs(spark, n_docs=120, seed=7)
    repo0 = docs.select("repo").orderBy("repo").limit(1).collect()[0]["repo"]
    mod = (docs.filter(F.col("repo") == repo0)
           .withColumn("content", F.concat(F.col("content"),
                                           F.lit(" parse merge parse merge"))))
    modified = docs.filter(F.col("repo") != repo0).unionByName(mod)

    d_inc = str(tmp_path_factory.mktemp("ph_inc") / "index")
    write_index(spark, docs, d_inc, CFG, lineage_groups=1)
    idx_inc = upsert_repos_physical(spark, d_inc, mod, auto_compact=False)

    d_fresh = str(tmp_path_factory.mktemp("ph_fresh") / "index")
    write_index(spark, modified, d_fresh, CFG, lineage_groups=1)
    idx_fresh = open_index(spark, d_fresh)

    text = '"parse merge"'
    got = search(idx_inc, text, k=100000).page.select(
        "repo", "path", "score").collect()
    exp = search(idx_fresh, text, k=100000).page.select(
        "repo", "path", "score").collect()
    assert sorted((r["repo"], r["path"], r["score"]) for r in got) == \
        sorted((r["repo"], r["path"], r["score"]) for r in exp)

    # ... and after compaction the phrase results are unchanged
    from easy_solr4files_index_spark.operators.maintenance import compact_index
    idx_c = compact_index(spark, d_inc)
    got_c = search(idx_c, text, k=100000).page.select(
        "repo", "path", "score").collect()
    assert sorted((r["repo"], r["path"], r["score"]) for r in got_c) == \
        sorted((r["repo"], r["path"], r["score"]) for r in exp)


def test_phrase_respects_tombstones(spark, tmp_path_factory):
    from easy_solr4files_index_spark.operators.maintenance import (
        delete_repo_physical)

    docs = synth_code_docs(spark, n_docs=120, seed=11)
    repo0 = docs.select("repo").orderBy("repo").limit(1).collect()[0]["repo"]
    d = str(tmp_path_factory.mktemp("ph_del") / "index")
    write_index(spark, docs, d, CFG, lineage_groups=1)
    idx = delete_repo_physical(spark, d, repo0, auto_compact=False)
    got = search(idx, '"parse merge"', k=100000).page.collect()
    assert all(r["repo"] != repo0 for r in got)


def test_positions_optional(spark, tmp_path_factory):
    cfg = IndexConfig(bucket_span=64, term_buckets=8, index_positions=False)
    docs = synth_code_docs(spark, n_docs=60, seed=3)
    d = str(tmp_path_factory.mktemp("nopos") / "index")
    write_index(spark, docs, d, cfg, lineage_groups=1)
    idx = open_index(spark, d)
    assert not idx.has_positions
    # plain OR queries still work; phrase queries fail loudly
    assert search(idx, "parse merge", k=5).page.count() <= 5
    with pytest.raises(ValueError, match="positions"):
        search(idx, '"parse merge"', k=5).page.collect()


def test_idf_cache_skips_termstats_on_repeat(built, monkeypatch):
    """The per-reader idf memo (wand._idf_map_cached): a repeated
    boolean/phrase query must not re-read term statistics (the Arrow df
    read, wand._df_map) — Lucene resolves term statistics once per
    IndexReader. Absent terms are cached as absent too."""
    import easy_solr4files_index_spark.operators.wand as wand_mod
    from easy_solr4files_index_spark.operators.wand import _idf_map_cached

    pidx, _ = built
    pidx.__dict__.pop("_idf_cache", None)
    first = search(pidx, '+"parse merge" token -license',
                   k=15, round_score=None).page.collect()
    cache = pidx.__dict__["_idf_cache"]
    assert {"parse", "merge", "token", "license"} <= set(cache)
    # absent term: looked up once, remembered as absent
    m = _idf_map_cached(pidx, ["parse", "zzznotaterm"])
    assert "zzznotaterm" not in m and cache["zzznotaterm"] is None

    def boom(*_args):
        raise AssertionError("term statistics re-read on warm query")

    monkeypatch.setattr(wand_mod, "_df_map", boom)
    again = search(pidx, '+"parse merge" token -license',
                   k=15, round_score=None).page.collect()
    m2 = _idf_map_cached(pidx, ["parse", "zzznotaterm"])
    assert [(r["doc_id"], r["score"]) for r in again] == \
        [(r["doc_id"], r["score"]) for r in first]
    assert m2 == {"parse": m["parse"]}
