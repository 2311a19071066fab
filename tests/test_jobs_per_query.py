"""Spark jobs per query, pinned per family on a many-bucket index with a
warm reader (idf memoized, plans compiled once): a plan change that adds
a job — a broadcast, an exchange, a range sort, a second pass — fails
here before it shows up as latency."""

from __future__ import annotations

import pytest

from easy_solr4files_index_spark.operators.index_build import IndexConfig
from easy_solr4files_index_spark.operators.postings import open_index, write_index
from easy_solr4files_index_spark.operators.wand import search_blockmax
from easy_solr4files_index_spark.sources.docs_source import synth_code_docs

# (family, text, k, skip, filters, max jobs)
FAMILIES = [
    ("or1", "parse", 10, 0, None, 2),
    ("or3", "parse merge token", 10, 0, None, 3),
    ("fq", "license merge", 10, 0, {"lang": ["java", "python"]}, 3),
    ("page", "merge parse", 10, 40, None, 3),
    ("bool", "+parse -merge token", 10, 0, None, 3),
    ("phrase", '"parse merge" token', 10, 0, None, 4),
    ("all", None, 10, 0, {"lang": ["go"]}, 1),
]


@pytest.fixture(scope="module")
def many_buckets(spark, tmp_path_factory):
    """600 docs at bucket_span=8: 75 doc-range buckets."""
    docs = synth_code_docs(spark, n_docs=600, seed=41)
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
        rows = search_blockmax(many_buckets, text, k=k, skip=skip,
                               filters=filters).collect()
        assert rows, family

    run()  # warm the reader
    jobs = _jobs(spark, f"jobs-per-query-{family}", run)
    assert jobs <= limit, f"{family}: {jobs} jobs > {limit}"
    if family == "all":
        assert jobs == 1
