"""Structured Streaming ingest (streaming/ingest.py) and the k-means IVF
centroid fit (functions/similarity.kmeans_fit)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from easy_solr4files_index_spark.functions import similarity
from easy_solr4files_index_spark.operators.postings import open_index, write_index
from easy_solr4files_index_spark.operators.wand import search
from easy_solr4files_index_spark.sources.docs_source import synth_code_docs
from easy_solr4files_index_spark.streaming.ingest import stream_upsert


def _listing(idx, text="parse index"):
    rows = (search(idx, text, k=10 ** 6).page
            .select("repo", "path", "score").collect())
    return sorted((r["repo"], r["path"], r["score"]) for r in rows)


def test_stream_upsert_applies_batches_incrementally(spark, tmp_path):
    corpus = synth_code_docs(spark, n_docs=150, seed=51).persist()
    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    d_inc = str(tmp_path / "idx")
    write_index(spark, corpus, d_inc, lineage_groups=1)

    # batch 1: one repo's content changes
    repo = "org1/proj0"
    mod = (corpus.filter(F.col("repo") == repo)
           .withColumn("content", F.concat("content", F.lit(" streamedEdit"))))
    mod.write.mode("append").parquet(src)
    stream_upsert(spark, src, d_inc, ckpt)

    d_fresh = str(tmp_path / "fresh1")
    merged = corpus.filter(F.col("repo") != repo).unionByName(mod)
    write_index(spark, merged, d_fresh, lineage_groups=1)
    assert _listing(open_index(spark, d_inc)) == _listing(open_index(spark, d_fresh))

    # batch 2: a brand-new repo arrives; the checkpoint must skip batch 1's
    # files (re-upserting them would still converge, but the file source
    # must only deliver the NEW files)
    new = (corpus.filter(F.col("repo") == "org2/proj1")
           .withColumn("repo", F.lit("zzz/streamed")))
    new.write.mode("append").parquet(src)
    stream_upsert(spark, src, d_inc, ckpt)

    d_fresh2 = str(tmp_path / "fresh2")
    write_index(spark, merged.unionByName(new), d_fresh2, lineage_groups=1)
    assert _listing(open_index(spark, d_inc)) == _listing(open_index(spark, d_fresh2))
    corpus.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").persist()


def _inertia(emb, cent):
    corpus = emb.select(F.col("vec_id").alias("vid"),
                        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    d2 = F.aggregate(F.zip_with(F.col("cv"), F.col("v"),
                                lambda a, b: (a - b) * (a - b)),
                     F.lit(0.0), lambda acc, x: acc + x)
    per_vid = (corpus.crossJoin(F.broadcast(cent)).withColumn("d2", d2)
               .groupBy("vid").agg(F.min("d2").alias("m")))
    return per_vid.agg(F.sum("m")).collect()[0][0]


def test_kmeans_inertia_improves_over_init(emb):
    init = (emb.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").cast("int").alias("centroid_id"),
                    F.transform("embedding", lambda x: x.cast("double")).alias("cv")))
    fitted = similarity.kmeans_fit(emb, k=8, iters=4)
    assert fitted.count() == 8
    assert _inertia(emb, fitted) < _inertia(emb, init)


def test_ivf_topk_with_fitted_centroids_exact_at_full_probe(emb):
    fitted = similarity.kmeans_fit(emb, k=8, iters=3)
    brute = similarity.cosine_topk(emb, [0, 1, 5], k=5)
    ivf = similarity.ivf_topk(emb, [0, 1, 5], k=5, nprobe=8, centroids=fitted)
    a = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in ivf.collect()}
    b = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in brute.collect()}
    assert a == b
