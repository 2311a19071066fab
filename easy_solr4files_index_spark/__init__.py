"""pyspark-fulltext-index: a from-scratch PySpark-native full-text
indexing + BM25 query engine with the capabilities of
DANS-KNAW/easy-solr4files-index (see SURVEY.md for the reference map).

The reference is a Scala HTTP facade delegating index/query execution to
Solr/Lucene (reference: src/main/scala/nl.knaw.dans.easy.solr4files/,
schema.xml, solrconfig.xml). This package re-expresses every capability
Spark-first: DataFrame/Catalyst for scans, filters, aggregation and joins;
Arrow-vectorized kernels only for posting-list encoding and bucket-local
top-k scoring.
"""

__version__ = "0.1.0"

# skip the per-task zip directory re-reads in PySpark workers (zipguard.py)
from . import zipguard as _zipguard

if _zipguard.in_pyspark_worker():
    _zipguard.install_zip_guard()
