"""Query-surface semantics: typed parse errors (Q8 — the reference maps
Solr parse exceptions to HTTP 400, Solr.scala:116-125) and query-side
synonym expansion (X5 — identity when the synonym set is empty, like the
reference's empty synonyms.txt)."""

from __future__ import annotations

import pytest

from easy_solr4files_index_spark.operators.query import QueryParseError
from easy_solr4files_index_spark.operators.wand import envelope, search


@pytest.fixture(scope="module")
def idx(code_index):
    return code_index[1]


def test_undefined_filter_field_raises(idx):
    with pytest.raises(QueryParseError, match="undefined filter field"):
        search(idx, "parse", filters={"no_such_col": ["x"]}).page.collect()


def test_unknown_filter_op_raises(idx):
    with pytest.raises(QueryParseError, match="unknown filter op"):
        search(idx, "parse", filters=["xor", ["in", "lang", ["java"]]]).page.collect()


def test_invalid_limit_skip_default_like_reference(idx):
    """SearchServlet.scala:76-77: invalid limit/skip silently default to
    10/0 — NOT an error (only parse errors 400)."""
    rows = search(idx, "parse", k=-3, skip=-1).page.collect()
    assert 0 < len(rows) <= 10


def test_empty_synonyms_is_identity(idx):
    a = [(r["doc_id"], r["score"]) for r in search(idx, "parse merge").page.collect()]
    b = [(r["doc_id"], r["score"])
         for r in search(idx, "parse merge", synonyms={}).page.collect()]
    assert a == b


def test_synonyms_expand_the_disjunction(idx):
    """search('parse', {parse: [merge]}) == search('parse merge')."""
    a = [(r["doc_id"], r["score"])
         for r in search(idx, "parse", synonyms={"parse": ["merge"]}).page.collect()]
    b = [(r["doc_id"], r["score"]) for r in search(idx, "parse merge").page.collect()]
    assert a == b


def test_multiword_synonyms_tokenize_through_analyzer(idx):
    """SynonymGraphFilter multi-word entries (schema.xml:520-525): the
    synonym STRING goes through the same analyzer chain — 'Index License'
    contributes BOTH terms (lowercased) to the disjunction."""
    a = [(r["doc_id"], r["score"])
         for r in search(idx, "parse",
                         synonyms={"parse": ["Index License"]}).page.collect()]
    b = [(r["doc_id"], r["score"])
         for r in search(idx, "parse index license").page.collect()]
    assert a == b


def test_multiword_synonym_stopwords_dropped(idx):
    """Stopwords inside a synonym phrase are filtered exactly like query
    text ('the merge' expands to just 'merge')."""
    a = [(r["doc_id"], r["score"])
         for r in search(idx, "parse", synonyms={"parse": ["the merge"]}).page.collect()]
    b = [(r["doc_id"], r["score"])
         for r in search(idx, "parse merge").page.collect()]
    assert a == b


def test_logical_envelope_single_pass_found(idx):
    """The JSON envelope: found == the full match count, page == search
    — from ONE scoring pass (Solr returns both from one query
    execution)."""
    env = envelope(idx, "parse merge", k=5)
    assert env["summary"]["found"] == \
        search(idx, "parse merge", k=10 ** 6).page.count()
    assert env["summary"]["returned"] == len(env["fileitems"]) == 5
    page = search(idx, "parse merge", k=5).page.collect()
    assert [(i["repo"], i["path"], i["score"]) for i in env["fileitems"]] == \
        [(r["repo"], r["path"], r["score"]) for r in page]

    env_all = envelope(idx, None, k=7)
    assert env_all["summary"]["found"] == idx.docs_store.count()
    assert env_all["summary"]["returned"] == 7


def test_fq_pushdown_same_results(idx):
    """fq below the aggregate (round-3 plan change) must not change any
    result: filtered search == unfiltered search restricted to the fq."""
    unfiltered = search(idx, "parse merge", k=10 ** 6).page.collect()
    filtered = search(idx, "parse merge", k=10 ** 6,
                      filters={"lang": ["java", "python"]}).page.collect()
    expect = [(r["doc_id"], r["score"]) for r in unfiltered
              if r["lang"] in ("java", "python")]
    assert [(r["doc_id"], r["score"]) for r in filtered] == expect
