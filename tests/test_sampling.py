"""Deterministic sampling invariants: partition-invariance (the property
DataFrame.sample lacks), salt independence, quota semantics."""

import pytest
from pyspark.sql import functions as F

from easy_solr4files_index_spark.functions import sampling as S

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_hash_sample_partition_invariant(spark, docs):
    a = {r["doc_id"] for r in S.hash_sample(docs, 0.3).select("doc_id").collect()}
    b = {r["doc_id"] for r in
         S.hash_sample(docs.repartition(17), 0.3).select("doc_id").collect()}
    assert a == b and 0 < len(a) < docs.count()


def test_hash_sample_rate_monotone_nested(spark, docs):
    """A lower-rate sample is a SUBSET of a higher-rate one (same salt) —
    the property that makes hash windows usable as stable splits."""
    s10 = {r["doc_id"] for r in S.hash_sample(docs, 0.1).select("doc_id").collect()}
    s40 = {r["doc_id"] for r in S.hash_sample(docs, 0.4).select("doc_id").collect()}
    assert s10 <= s40


def test_hash_sample_salts_differ(spark, docs):
    a = {r["doc_id"] for r in
         S.hash_sample(docs, 0.3, salt="train").select("doc_id").collect()}
    b = {r["doc_id"] for r in
         S.hash_sample(docs, 0.3, salt="valid").select("doc_id").collect()}
    assert a != b  # independent decisions per salt


def test_cap_per_key_quota_and_determinism(spark, docs):
    capped = S.cap_per_key(docs, key="source", n=5)
    per = {r["source"]: r["c"] for r in
           capped.groupBy("source").agg(F.count("*").alias("c")).collect()}
    assert max(per.values()) <= 5
    assert set(per) == {r["source"] for r in docs.select("source").distinct().collect()}
    again = S.cap_per_key(docs.repartition(13), key="source", n=5)
    assert ({r["doc_id"] for r in capped.collect()}
            == {r["doc_id"] for r in again.collect()})


def test_cap_per_key_preserves_small_groups(spark):
    rows = [(i, "only") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    assert S.cap_per_key(docs, key="source", n=10).count() == 3


def test_domain_mixture_parity_and_weighting(spark, docs):
    """domain_mixture vs its DuckDB twin (identical integer cutoffs
    embedded in both plans), and the weighting actually biases: an
    upweighted domain keeps more than a downweighted one relative to
    the plain sample."""
    import duckdb
    duck = duckdb.connect()
    duck.execute("CREATE VIEW documents AS SELECT * FROM "
                 f"read_parquet('{SF}/documents.parquet')")
    weights = {"src0": 2.0, "src3": 0.2}
    mix = S.domain_mixture(docs, rate=0.3, weights=weights, salt="m1")
    got = sorted(r["doc_id"] for r in mix.select("doc_id").collect())
    exp = sorted(r[0] for r in duck.execute(
        "SELECT doc_id FROM (" + S.domain_mixture_sql(
            rate=0.3, weights=weights, salt="m1") + ")").fetchall())
    assert got == exp and len(got) > 0

    by_src = {r["source"]: r["cnt"] for r in
              mix.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    base = {r["source"]: r["cnt"] for r in
            docs.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert by_src.get("src0", 0) / base["src0"] > by_src.get("src3", 0) / base["src3"]


def test_domain_mixture_windows_nest_and_salts_differ(spark, docs):
    """Same salt: rate 0.15 ⊂ rate 0.4 per domain (disjoint-window
    nesting — reproducible curriculum growth). Different salt: a
    genuinely different draw."""
    w = {"src0": 1.5, "src2": 0.5}
    small = {r["doc_id"] for r in
             S.domain_mixture(docs, 0.15, w, salt="s").select("doc_id").collect()}
    big = {r["doc_id"] for r in
           S.domain_mixture(docs, 0.40, w, salt="s").select("doc_id").collect()}
    other = {r["doc_id"] for r in
             S.domain_mixture(docs, 0.15, w, salt="t").select("doc_id").collect()}
    assert small < big
    assert other != small


def test_domain_mixture_composes_with_cap_per_key(spark, docs):
    """Mixture -> per-repo quota: the composed pipeline is deterministic
    under repartitioning and the cap holds inside the mixture's
    survivors (the anti-domination rule applied after reweighting)."""
    w = {"src1": 3.0}
    capped = S.cap_per_key(
        S.domain_mixture(docs, 0.5, w, salt="c"), key="source", n=5)
    a = sorted(r["doc_id"] for r in capped.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in S.cap_per_key(
        S.domain_mixture(docs.repartition(13), 0.5, w, salt="c"),
        key="source", n=5).select("doc_id").collect())
    assert a == b
    per = capped.groupBy("source").agg(F.count("*").alias("c")).collect()
    assert all(r["c"] <= 5 for r in per)


def test_temperature_weights():
    """T=1 is identity; T<1 upweights small domains; the expected
    overall rate is preserved (Σ n_d · w_d == N)."""
    from easy_solr4files_index_spark.functions.sampling import (
        temperature_weights)

    counts = {"a": 1000, "b": 100, "c": 10}
    assert temperature_weights(counts, 1.0) == {"a": 1.0, "b": 1.0, "c": 1.0}
    w = temperature_weights(counts, 0.5)
    assert w["c"] > w["b"] > w["a"]
    n = sum(counts.values())
    assert abs(sum(counts[k] * w[k] for k in counts) - n) < 1e-6 * n


def test_domain_mixture_unit_weights_equal_hash_sample(spark):
    """Both samplers share one cutoff rule. At rate 0.1234565 the product
    rate * 1e6 is exactly 123456.5, where round-half-even and round-half-
    up disagree; doc 2022795 (salt "tie") hashes to bucket 123456, right
    on that boundary. With all weights 1.0 domain_mixture must keep
    exactly hash_sample's rows."""
    rate, salt, tie_doc = 0.1234565, "tie", 2022795
    assert rate * 1_000_000 == 123456.5
    docs = spark.createDataFrame(
        [(tie_doc, "a")] + [(i, "ab"[i % 2]) for i in range(400)],
        "doc_id long, source string")
    bucket = docs.filter(F.col("doc_id") == tie_doc).select(
        F.pmod(S._hash_col(("doc_id",), salt), F.lit(1_000_000))).first()[0]
    assert bucket == 123456
    sample = {r["doc_id"] for r in
              S.hash_sample(docs, rate, salt=salt).select("doc_id").collect()}
    mix = {r["doc_id"] for r in
           S.domain_mixture(docs, rate, {"a": 1.0, "b": 1.0},
                            salt=salt).select("doc_id").collect()}
    assert mix == sample and tie_doc in sample

