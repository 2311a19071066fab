from __future__ import annotations

import pytest

from easy_solr4files_index_spark.operators.index_build import IndexConfig
from easy_solr4files_index_spark.operators.postings import open_index, write_index
from easy_solr4files_index_spark.session import get_spark
from easy_solr4files_index_spark.sources.docs_source import synth_code_docs


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fts-tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def code_index(spark, tmp_path_factory):
    """(docs, opened index) of the 300-doc synthetic code corpus, written
    once per session and shared by the read-only query-level modules."""
    docs = synth_code_docs(spark, n_docs=300, seed=11)
    d = str(tmp_path_factory.mktemp("code_index") / "index")
    # these modules check analysis and scoring, not the layout: 8 term
    # buckets write a quarter of the default partition dirs
    write_index(spark, docs, d, IndexConfig(term_buckets=8), lineage_groups=1)
    return docs, open_index(spark, d)
