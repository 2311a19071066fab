"""Serving-layer caches (operators/caches.py — the engine's analog of
Solr's filterCache / queryResultCache, solrconfig.xml:465-492): cached
pages are bit-identical to uncached search, pagination shares window
entries, deep pages bypass the cache, filters reuse one persisted
DocSet, maintenance invalidates by searcher key, eviction unpersists."""

from __future__ import annotations

import pytest

from easy_solr4files_index_spark.operators.caches import (
    QUERY_RESULT_MAX_DOCS, SearcherCaches)
from easy_solr4files_index_spark.operators.maintenance import (
    delete_repo_physical)
from easy_solr4files_index_spark.operators.postings import (
    open_index, write_index)
from easy_solr4files_index_spark.operators.index_build import IndexConfig
from easy_solr4files_index_spark.operators.wand import search
from easy_solr4files_index_spark.sources.docs_source import synth_code_docs

CFG = IndexConfig(bucket_span=64, term_buckets=8)


@pytest.fixture(scope="module")
def pidx(spark, tmp_path_factory):
    docs = synth_code_docs(spark, n_docs=250, seed=31)
    index_dir = str(tmp_path_factory.mktemp("fts_cache") / "index")
    write_index(spark, docs, index_dir, CFG, lineage_groups=1)
    return open_index(spark, index_dir)


QUERIES = [
    ("parse", 10, 0, None),
    ("parse merge token", 10, 0, None),
    ("query score", 10, 0, {"lang": ["java", "python"]}),
    ("merge", 5, 7, None),
    (None, 10, 2, {"lang": ["go"]}),
    ("zzz_nonexistent_term", 10, 0, None),
]


@pytest.mark.parametrize("text,k,skip,filters", QUERIES)
def test_cached_equals_uncached(pidx, text, k, skip, filters):
    caches = SearcherCaches(pidx)
    want = search(pidx, text, k=k, skip=skip,
                  filters=filters).page.collect()
    cold, _ = caches.search(text, k=k, skip=skip, filters=filters)
    warm, _ = caches.search(text, k=k, skip=skip, filters=filters)
    assert cold == want == warm
    assert caches.results.hits >= 1  # second call was a cache hit


def test_pagination_shares_window(pidx):
    """page 1 (k=10,skip=0) and page 2 (k=5,skip=10) round to the same
    20-row window (queryResultWindowSize, solrconfig.xml:588): one miss,
    then hits — and both slices match direct offset/limit search."""
    caches = SearcherCaches(pidx)
    p1, _ = caches.search("parse merge", k=10, skip=0)
    assert (caches.results.misses, caches.results.hits) == (1, 0)
    p2, _ = caches.search("parse merge", k=5, skip=10)
    assert (caches.results.misses, caches.results.hits) == (1, 1)
    assert p1 == search(pidx, "parse merge", k=10).page.collect()
    assert p2 == search(pidx, "parse merge", k=5, skip=10).page.collect()


def test_deep_pages_bypass(pidx):
    """skip+k beyond queryResultMaxDocsCached=200 (solrconfig.xml:593)
    is answered but never cached."""
    caches = SearcherCaches(pidx)
    got, _ = caches.search("parse", k=10, skip=QUERY_RESULT_MAX_DOCS)
    assert got == search(pidx, "parse", k=10,
                         skip=QUERY_RESULT_MAX_DOCS).page.collect()
    assert len(caches.results) == 0


def test_filter_docset_reused(pidx):
    """two different queries with the same fq hit ONE persisted DocSet
    (Solr filterCache: fq sets cached independently of q)."""
    caches = SearcherCaches(pidx)
    f = {"lang": ["java", "python"]}
    caches.search("parse", k=10, filters=f)
    caches.search("merge token", k=10, filters=f)
    assert len(caches.filters) == 1
    assert caches.filters.hits == 1  # second query reused the DocSet
    ds = caches.filter_docset(f)
    assert ds.storageLevel.useMemory  # persisted, the DocSet analog


def test_maintenance_invalidates(spark, tmp_path_factory):
    """a delete returns a new searcher state; the same cache object
    keyed on (generation, n_docs, tombstones) can never serve the old
    page for the new state."""
    docs = synth_code_docs(spark, n_docs=200, seed=32)
    index_dir = str(tmp_path_factory.mktemp("fts_cache_inv") / "index")
    write_index(spark, docs, index_dir, CFG, lineage_groups=1)
    idx = open_index(spark, index_dir)
    caches = SearcherCaches(idx)
    before, _ = caches.search("parse", k=10)
    repo = before[0]["repo"]
    idx2 = delete_repo_physical(spark, index_dir, repo, auto_compact=False)
    caches.rebind(idx2)
    after, _ = caches.search("parse", k=10)
    assert caches.results.misses == 2  # new searcher key -> cold
    assert all(r["repo"] != repo for r in after)
    assert after == search(idx2, "parse", k=10).page.collect()


def test_search_found_cached_envelope(pidx):
    """Solr's DocList carries numFound: the cached envelope returns the
    exact (page, found) of search(found=True), the repeat is a pure cache
    hit, and the miss seeds the plain page cache (a later search() with
    the same query re-scores nothing)."""
    caches = SearcherCaches(pidx)
    want_res = search(pidx, "parse merge", k=10, found=True)
    want = want_res.page.collect()
    rows1, found1 = caches.search("parse merge", k=10, found=True)
    rows2, found2 = caches.search("parse merge", k=10, found=True)
    assert rows1 == want == rows2
    assert found1 == want_res.found == found2
    assert caches.results.hits >= 1
    # the envelope miss seeded the page cache: plain search() is a hit
    hits_before = caches.results.hits
    page, found = caches.search("parse merge", k=10)
    assert caches.results.hits == hits_before + 1
    assert page == search(pidx, "parse merge", k=10).page.collect()
    assert found is None  # not asked for
    # filtered + paginated envelope, same contracts
    f = {"lang": ["java", "python"]}
    w = search(pidx, "parse", k=5, skip=5, filters=f, found=True)
    rows3, found3 = caches.search("parse", k=5, skip=5, filters=f, found=True)
    assert rows3 == w.page.collect() and found3 == w.found


def test_concurrent_requests_share_one_docset(pidx):
    """Solr searchers serve many request threads against one cache; the
    LRU is locked and the DocSet build is double-checked, so a burst of
    identical filtered queries produces identical pages and exactly one
    persisted DocSet."""
    import concurrent.futures as cf

    caches = SearcherCaches(pidx)
    f = {"lang": ["java"]}
    with cf.ThreadPoolExecutor(8) as ex:
        pages = list(ex.map(
            lambda _: caches.search("parse merge", k=10, filters=f)[0],
            range(16)))
    assert all(p == pages[0] for p in pages)
    assert len(caches.filters) == 1
    assert pages[0] == search(pidx, "parse merge", k=10,
                              filters=f).page.collect()


def test_round_half_up_matches_catalyst(spark):
    """_round_half_up must reproduce F.round on doubles bit-for-bit —
    it is what makes a cached unrounded-window slice identical to the
    direct page (including page-boundary rounding collisions)."""
    from easy_solr4files_index_spark.operators.wand import _round_half_up

    vals = [0.12345, 0.123449999999, 2.675, 0.00005, 1.0, 0.0,
            5.19625, 0.99995, 3.00004999999, 123.456789, 7e-05,
            0.1234500000000001, 1.5e-300]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    from pyspark.sql import functions as F
    want = [r["r"] for r in df.select(F.round("x", 4).alias("r")).collect()]
    got = [_round_half_up(v, 4) for v in vals]
    assert got == want


def test_rebind_unpersists_old_docsets(spark, tmp_path_factory):
    """rebind drops the old searcher's entries outright (autowarm=0
    cold-start) — persisted DocSets must not survive as unreachable
    executor-storage leaks."""
    docs = synth_code_docs(spark, n_docs=120, seed=33)
    index_dir = str(tmp_path_factory.mktemp("fts_cache_rb") / "index")
    write_index(spark, docs, index_dir, CFG, lineage_groups=1)
    idx = open_index(spark, index_dir)
    caches = SearcherCaches(idx)
    ds = caches.filter_docset({"lang": ["java"]})
    assert ds.storageLevel.useMemory
    caches.rebind(open_index(spark, index_dir))
    assert len(caches.filters) == 0 and len(caches.results) == 0
    assert not ds.storageLevel.useMemory  # unpersisted on rebind


def test_eviction_unpersists(pidx):
    caches = SearcherCaches(pidx, filter_size=1)
    ds1 = caches.filter_docset({"lang": ["java"]})
    ds2 = caches.filter_docset({"lang": ["go"]})
    assert len(caches.filters) == 1
    assert not ds1.storageLevel.useMemory  # evicted -> unpersisted
    assert ds2.storageLevel.useMemory


def test_warm_searcher_identical_results_and_release(pidx):
    """caches.warm() (firstSearcher block warming): every query family
    returns IDENTICAL rows over the persisted datasets, and clear()
    releases the executor storage (no leaked cached relations)."""
    queries = [("spark join", 10, 0, None),
               ('+"spark merge" -dup join', 10, 0, None),
               (None, 5, 2, {"lang": ["en"]})]
    cold = [search(pidx, t, k=k, skip=s, filters=f).page.collect()
            for t, k, s, f in queries]

    spark = pidx.spark
    base_persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    caches = SearcherCaches(pidx)
    caches.warm()
    assert caches._warmed  # datasets actually persisted
    assert (spark.sparkContext._jsc.getPersistentRDDs().size()
            > base_persisted)
    warm = [search(pidx, t, k=k, skip=s, filters=f).page.collect()
            for t, k, s, f in queries]
    assert warm == cold

    caches.clear()
    assert not caches._warmed
    # every warmed relation released — executor storage back to the
    # pre-warm baseline (earlier tests' DocSets may still be live in
    # this shared module session, hence delta not absolute zero)
    assert (spark.sparkContext._jsc.getPersistentRDDs().size()
            == base_persisted)
    # warming twice is idempotent (second call is a no-op)
    caches.warm()
    n1 = len(caches._warmed)
    caches.warm()
    assert len(caches._warmed) == n1
    caches.clear()


def test_warm_failure_releases_persisted_frames(pidx, monkeypatch):
    """A count that raises inside warm() must not strand the frames warm()
    already persisted: after clear() nothing of the index is cached."""
    names = ("postings", "docs_store", "termstats", "positions")
    caches = SearcherCaches(pidx)
    termstats = pidx._read("termstats")
    real_count = type(termstats).count

    def count(self):
        if self is termstats:
            raise RuntimeError("injected warm-up failure")
        return real_count(self)

    monkeypatch.setattr(type(termstats), "count", count)
    with pytest.raises(RuntimeError, match="injected warm-up failure"):
        caches.warm()
    monkeypatch.undo()
    caches.clear()
    for name in names:
        assert not pidx._read(name).storageLevel.useMemory, name

