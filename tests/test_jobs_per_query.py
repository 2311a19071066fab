"""Spark jobs per query, pinned per family on a many-bucket index with a
warm reader (idf memoized, plans compiled once): a plan change that adds
a job — a broadcast, an exchange, a range sort, a second pass — fails
here before it shows up as latency. A scored query collects its scoring
pass once and finishes the page on the driver, so its jobs are the
scoring pass's own. The same counter pins a freshly opened reader's
first query, and a one-repo delete and upsert, each on its own copy of
the index."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from easy_solr4files_index_spark.operators.index_build import IndexConfig
from easy_solr4files_index_spark.operators.maintenance import (
    delete_repo_physical, upsert_repos_physical)
from easy_solr4files_index_spark.operators.postings import open_index, write_index
from easy_solr4files_index_spark.operators.wand import search
from easy_solr4files_index_spark.sources.docs_source import synth_code_docs

# (family, text, k, skip, filters, max jobs)
FAMILIES = [
    ("or1", "parse", 10, 0, None, 1),
    ("or3", "parse merge token", 10, 0, None, 2),
    ("fq", "license merge", 10, 0, {"lang": ["java", "python"]}, 2),
    ("page", "merge parse", 10, 40, None, 2),
    ("bool", "+parse -merge token", 10, 0, None, 2),
    ("phrase", '"parse merge" token', 10, 0, None, 3),
    ("all", None, 10, 0, {"lang": ["go"]}, 1),
]


def _docs(spark):
    return synth_code_docs(spark, n_docs=600, seed=41)


@pytest.fixture(scope="module")
def many_buckets(spark, tmp_path_factory):
    """600 docs at bucket_span=8: 75 doc-range buckets."""
    docs = _docs(spark)
    d = str(tmp_path_factory.mktemp("jobs") / "index")
    write_index(spark, docs, d, IndexConfig(bucket_span=8, term_buckets=4),
                lineage_groups=1)
    idx = open_index(spark, d)
    assert idx.n_buckets == 75
    return idx


def _jobs(spark, group, run):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("family,text,k,skip,filters,limit", FAMILIES,
                         ids=[f[0] for f in FAMILIES])
def test_jobs_per_query(spark, many_buckets, family, text, k, skip, filters,
                        limit):
    def run():
        rows = search(many_buckets, text, k=k, skip=skip,
                      filters=filters).page.collect()
        assert rows, family

    run()  # warm the reader
    jobs = _jobs(spark, f"jobs-per-query-{family}", run)
    assert jobs <= limit, f"{family}: {jobs} jobs > {limit}"
    if family == "all":
        assert jobs == 1


# found=True: the same families with an exact count. Plain OR reads the
# count from the page's own collect (each kernel partition reports its
# matches beside its winners), so it costs no job; a boolean query
# persists the combiner's output and counts it before the page, and
# match-all counts the filtered store.
FOUND_JOBS = {"or1": 1, "or3": 2, "fq": 2, "page": 2, "bool": 5,
              "phrase": 6, "all": 3}
FOUND_FAMILIES = [f[:5] + (FOUND_JOBS[f[0]],) for f in FAMILIES]


@pytest.mark.parametrize("family,text,k,skip,filters,limit", FOUND_FAMILIES,
                         ids=[f[0] for f in FOUND_FAMILIES])
def test_jobs_per_query_found(spark, many_buckets, family, text, k, skip,
                              filters, limit):
    def run():
        res = search(many_buckets, text, k=k, skip=skip, filters=filters,
                     found=True)
        assert res.page.collect() and res.found, family

    run()  # warm the reader
    jobs = _jobs(spark, f"jobs-per-query-found-{family}", run)
    assert jobs <= limit, f"{family}: {jobs} jobs > {limit}"


def test_jobs_per_query_budgeted(spark, many_buckets):
    """A multi-term OR under a budget it never exhausts runs every phase
    of the block-max plan: 75 buckets exceed the hot set P=40 of k=10, so
    the UB job, phase A and phase B all run, each phase collected once
    and merged on the driver."""
    def run():
        res = search(many_buckets, "parse merge token", k=10,
                     time_allowed_ms=1e9)
        assert res.page.collect() and res.partial is False

    run()  # warm the reader
    jobs = _jobs(spark, "jobs-per-query-budgeted", run)
    assert jobs <= 8, f"budgeted: {jobs} jobs > 8"


def test_cold_reader_first_query(spark, many_buckets):
    """A freshly opened reader's first multi-term query runs only its
    scoring pass: the terms' df is read by key with Arrow (no termstats
    job) and every dataset's schema comes from its parquet footer (no
    schema-inference job)."""
    idx = open_index(spark, many_buckets.index_dir)

    def run():
        assert search(idx, "parse merge token").page.collect()

    jobs = _jobs(spark, "jobs-cold-reader", run)
    assert jobs <= 2, f"cold reader: {jobs} jobs > 2"


def test_page_order_rounded_then_doc_id(many_buckets):
    """The page set is cut on the unrounded score, then ordered by
    (rounded score desc, doc_id asc): docs 34 and 95 both round to
    0.1278 here (34 scores lower unrounded), so 34 comes first."""
    rows = search(many_buckets, "license merge",
                  filters={"lang": ["java", "python"]}).page.collect()
    assert (rows[2]["doc_id"], rows[2]["score"]) == (34, 0.1278)
    assert (rows[3]["doc_id"], rows[3]["score"]) == (95, 0.1278)
    raw = {r["doc_id"]: r["score"] for r in search(
        many_buckets, "license merge", filters={"lang": ["java", "python"]},
        round_score=None).page.collect()}
    assert raw[95] > raw[34]


def test_found_with_budget_rejected(spark, many_buckets):
    """An exact count visits every match, so it cannot honour a time
    budget: asking for both fails before any Spark job."""
    def run():
        with pytest.raises(ValueError, match="time_allowed_ms"):
            search(many_buckets, "parse", found=True, time_allowed_ms=1e9)

    assert _jobs(spark, "jobs-found-with-budget", run) == 0


# (op, max jobs): a one-repo delete, and a one-repo upsert with repo
# discovery (no repos= hint). The limits are the counts measured while
# delete and upsert still had separate implementations; the concurrent
# phases' jobs run in the caller's job group, so the counter sees them.
MUTATIONS = [("delete", 7), ("upsert", 27)]


@pytest.mark.parametrize("op,limit", MUTATIONS, ids=[m[0] for m in MUTATIONS])
def test_jobs_per_mutation(spark, many_buckets, tmp_path, op, limit):
    import shutil

    d = str(tmp_path / "index")
    shutil.copytree(many_buckets.index_dir, d)
    repo = "org1/proj0"
    if op == "delete":
        def run():
            delete_repo_physical(spark, d, repo)
    else:
        batch = (_docs(spark).filter(F.col("repo") == repo)
                 .withColumn("content", F.concat("content", F.lit(" zz"))))

        def run():
            upsert_repos_physical(spark, d, batch)

    jobs = _jobs(spark, f"jobs-per-mutation-{op}", run)
    assert jobs <= limit, f"{op}: {jobs} jobs > {limit}"
