"""End-to-end golden tests (SURVEY.md §5.2.2): engine top-k vs the
brute-force numpy oracle, rank-identical doc keys + scores (rel 1e-9)."""

from __future__ import annotations

import pytest

from easy_solr4files_index_spark.operators.index_build import IndexConfig
from easy_solr4files_index_spark.operators.postings import open_index, write_index
from easy_solr4files_index_spark.operators.wand import envelope, search
from easy_solr4files_index_spark.oracle.bm25_oracle import build_oracle, oracle_search

# query coverage per FIXTURES.md §2: single-term, multi-term OR, path-token
# hit, camelCase-part hit, stopword-only, hot term, filters, match-all,
# pagination, k > corpus
QUERIES = [
    ("parse", 10, 0, None),
    ("parse merge token", 10, 0, None),
    ("src", 10, 0, None),                      # path tokens searchable (schema.xml:310)
    ("buildIndex", 10, 0, None),               # splits to build+index, matches parts
    ("the a an", 10, 0, None),                 # stopword-only ⇒ empty
    ("license", 15, 0, None),                  # hot (Zipf head) term
    ("query score", 10, 0, {"lang": ["java", "python"]}),
    (None, 10, 0, {"repo": ["org0/proj0"]}),   # match-all + filter
    ("merge", 5, 7, None),                     # skip > 0 page
    ("cache", 10_000, 0, None),                # k > corpus
]


def _found(idx, text, **kw) -> int:
    return search(idx, text, found=True, **kw).found


@pytest.fixture(scope="module")
def corpus(code_index):
    docs, idx = code_index
    return idx, docs, build_oracle([r.asDict() for r in docs.collect()])


@pytest.mark.parametrize("text,k,skip,filters", QUERIES)
def test_rank_identical(corpus, text, k, skip, filters):
    idx, _, oracle = corpus
    got = search(idx, text, k=k, skip=skip, filters=filters,
                 round_score=None).page.collect()
    exp = oracle_search(oracle, text, k=k, skip=skip, filters=filters)
    assert len(got) == len(exp), (text, len(got), len(exp))
    for g, e in zip(got, exp):
        assert (g["repo"], g["path"]) == (e["repo"], e["path"]), (text, g, e)
        assert g["score"] == pytest.approx(e["score"], rel=1e-9)
        assert g["doc_id"] == e["doc_id"]


def test_found_count(corpus):
    idx, _, oracle = corpus
    assert _found(idx, "parse merge") == len(oracle_search(oracle, "parse merge", k=10**6))
    assert _found(idx, None) == oracle.n
    assert _found(idx, "the a") == 0
    assert _found(idx, None, filters={"lang": ["go"]}) == sum(
        1 for m in oracle.meta if m["lang"] == "go")


def test_envelope_shape(corpus):
    idx, _, _ = corpus
    env = envelope(idx, "parse", k=3)
    assert set(env) == {"summary", "fileitems"}
    assert set(env["summary"]) == {"text", "skip", "limit", "found", "returned",
                                "time_allowed"}  # Solr.scala:97 echoes timeAllowed
    assert env["summary"]["returned"] == len(env["fileitems"]) <= 3
    assert env["summary"]["found"] >= env["summary"]["returned"]


def test_arrow_tokenizer_same_index(spark, corpus, tmp_path):
    """use_arrow_tokenizer=True (north_star vectorized UDF path) builds a
    rank-identical index to the codegen-expression path."""
    _, docs, oracle = corpus
    write_index(spark, docs, str(tmp_path), lineage_groups=1,
                config=IndexConfig(use_arrow_tokenizer=True, term_buckets=8))
    idx2 = open_index(spark, str(tmp_path))
    got = search(idx2, "parse merge token", k=10,
                 round_score=None).page.collect()
    exp = oracle_search(oracle, "parse merge token", k=10)
    assert [g["doc_id"] for g in got] == [e["doc_id"] for e in exp]
    assert [g["score"] for g in got] == pytest.approx([e["score"] for e in exp], rel=1e-9)


def test_found_count_synonyms(corpus):
    """numFound takes the SAME synonyms map as search: Solr's numFound is
    the count of the very query that produced the page, so a
    synonym-expanded page paired with a synonym-blind count could report
    found < returned."""
    idx, _, _ = corpus
    syn = {"parse": ["merge", "token"]}
    expanded = _found(idx, "parse", synonyms=syn)
    assert expanded == _found(idx, "parse merge token")
    assert expanded >= _found(idx, "parse")
    env = envelope(idx, "parse", k=10**6, synonyms=syn)
    assert env["summary"]["found"] == expanded == env["summary"]["returned"]
