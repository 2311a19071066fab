"""Physical index: encode/write/load roundtrip, bucket-local top-k ==
budgeted block-max == numpy oracle, metrics/lineage invariants, kill/resume
(SURVEY.md §5.2.3-5.2.4)."""

from __future__ import annotations

import numpy as np
import pytest

from easy_solr4files_index_spark.functions.codec import decode_postings
from easy_solr4files_index_spark.operators.index_build import IndexConfig
from easy_solr4files_index_spark.operators.postings import open_index, write_index
from easy_solr4files_index_spark.operators.wand import envelope, search
from easy_solr4files_index_spark.oracle.bm25_oracle import build_oracle, oracle_search
from easy_solr4files_index_spark.sources.docs_source import synth_code_docs

CFG = IndexConfig(bucket_span=64, term_buckets=8)  # small span => many blocks


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    docs = synth_code_docs(spark, n_docs=250, seed=23)
    index_dir = str(tmp_path_factory.mktemp("fts") / "index")
    report = write_index(spark, docs, index_dir, CFG, lineage_groups=4)
    pidx = open_index(spark, index_dir)
    oracle = build_oracle([r.asDict() for r in docs.collect()])
    return pidx, docs, oracle, report


QUERIES = [
    ("parse", 10, 0, None),
    ("parse merge token", 10, 0, None),
    ("license", 20, 0, None),                 # hot term: many blocks, prune path
    ("buildIndex cache", 10, 0, None),
    ("query score", 10, 0, {"lang": ["java", "python"]}),
    ("merge", 5, 7, None),
    (None, 10, 2, {"lang": ["go"]}),
    ("the a an", 10, 0, None),
    ("zzz_nonexistent_term", 10, 0, None),
]


@pytest.mark.parametrize("text,k,skip,filters", QUERIES)
def test_wand_rank_identical(built, text, k, skip, filters):
    pidx, _, oracle, _ = built
    got = search(pidx, text, k=k, skip=skip, filters=filters,
                 round_score=None).page.collect()
    exp = oracle_search(oracle, text, k=k, skip=skip, filters=filters)
    assert [g["doc_id"] for g in got] == [e["doc_id"] for e in exp], text
    assert [g["score"] for g in got] == pytest.approx([e["score"] for e in exp], rel=1e-9)


def _budgeted(pidx, text, k, skip=0):
    """The block-max plan (UB job, phase A, phase B) with a budget it
    never exhausts: it must return the one-pass page exactly."""
    res = search(pidx, text, k=k, skip=skip, time_allowed_ms=1e9,
                 round_score=None)
    assert res.partial is False
    return res.page.collect()


@pytest.mark.parametrize("text,k", [("parse merge token", 10), ("license", 25)])
def test_prune_equals_exhaustive(built, text, k):
    pidx, *_ = built
    a = _budgeted(pidx, text, k)
    b = search(pidx, text, k=k, round_score=None).page.collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [(r["doc_id"], r["score"]) for r in b]


@pytest.fixture(scope="module")
def built_many_buckets(spark, tmp_path_factory):
    """bucket_span=8 over 600 docs -> 75 buckets: with k<=5 the hot set
    P=32 < 75, so the budgeted plan's phase-B pruning GENUINELY engages
    (its every-bucket-is-hot shortcut must not swallow these cases)."""
    cfg = IndexConfig(bucket_span=8, term_buckets=8)
    docs = synth_code_docs(spark, n_docs=600, seed=41)
    index_dir = str(tmp_path_factory.mktemp("ftsmb") / "index")
    write_index(spark, docs, index_dir, cfg, lineage_groups=1)
    pidx = open_index(spark, index_dir)
    assert pidx.n_buckets > 32  # guard: pruning must be reachable
    oracle = build_oracle([r.asDict() for r in docs.collect()])
    return pidx, oracle


@pytest.mark.parametrize("text,k,skip", [
    ("parse", 5, 0), ("license", 5, 0), ("parse merge token", 3, 0),
    ("buildIndex cache", 5, 2), ("license merge", 4, 0),
])
def test_real_pruning_rank_identical(built_many_buckets, text, k, skip):
    pidx, oracle = built_many_buckets
    a = _budgeted(pidx, text, k, skip)
    b = search(pidx, text, k=k, skip=skip, round_score=None).page.collect()
    assert [(r["doc_id"], r["score"]) for r in a] == \
        [(r["doc_id"], r["score"]) for r in b], text
    exp = oracle_search(oracle, text, k=k, skip=skip)
    assert [r["doc_id"] for r in a] == [e["doc_id"] for e in exp], text


def test_prune_tie_at_tau_keeps_lower_docid(spark, tmp_path):
    """Regression for the ub >= tau fix: docs with IDENTICAL (tf, dl)
    tie exactly on score; a tied doc in a pruned bucket whose doc_id is
    lower than the k-th hot-phase doc must still win the tie-break."""
    from easy_solr4files_index_spark.sources.docs_source import DOCS_SCHEMA
    rows = []
    for i in range(200):
        # every 3rd doc is byte-identical content => exact score ties
        body = "alpha beta gamma" if i % 3 == 0 else f"filler{i} unique{i} text{i}"
        rows.append(("r0", f"p{i:04d}", f"c{i:04d}", "java", body))
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    cfg = IndexConfig(bucket_span=4, term_buckets=4, include_path_tokens=False)
    d = str(tmp_path / "ties")
    write_index(spark, docs, d, cfg, lineage_groups=1)
    pidx = open_index(spark, d)
    assert pidx.n_buckets > 32
    a = _budgeted(pidx, "alpha", 4)
    b = search(pidx, "alpha", k=4, round_score=None).page.collect()
    assert [(r["doc_id"], r["score"]) for r in a] == \
        [(r["doc_id"], r["score"]) for r in b]
    # tie-break is doc_id asc among equal scores
    assert [r["doc_id"] for r in a] == sorted(r["doc_id"] for r in a)


def test_postings_invariants(built):
    """docID-sortedness inside blocks; df == Σ block n per term;
    sha256 invariant vs source (input_hint)."""
    pidx, docs, _, _ = built
    rows = pidx.postings.collect()
    assert rows
    for r in rows[:200]:
        ids, tfs, dls = decode_postings(r["doc_ids"], r["tfs"], r["dls"], r["n"])
        assert np.all(np.diff(ids.astype(np.int64)) > 0), "doc_ids must be strictly sorted"
        assert tfs.min() >= 1
        span_lo = r["bucket"] * pidx.config.bucket_span
        assert span_lo <= ids.min() and ids.max() < span_lo + pidx.config.bucket_span
    # df consistency
    import pyspark.sql.functions as F
    per_term = pidx.postings.groupBy("term").agg(F.sum("n").alias("n")).collect()
    df_map = {r["term"]: r["df"] for r in pidx.termstats.collect()}
    for r in per_term:
        assert df_map[r["term"]] == r["n"], r["term"]
    # sha256 equality between the stored fields and the source content
    key = ["repo", "path", "commit"]
    src = docs.select(*key, F.sha2("content", 256).alias("s2"))
    stored = pidx.docs_store.select(*key, "sha256")
    assert stored.join(src, key).filter("sha256 <=> s2").count() \
        == src.count() == stored.count()


def test_metrics_and_lineage(built):
    pidx, _, oracle, report = built
    import pyspark.sql.functions as F
    m = pidx.metrics
    assert m.count() > 0
    total_postings = m.agg(F.sum("rows_indexed")).collect()[0][0]
    assert total_postings == sum(oracle.df.values())
    assert m.filter("skew_factor >= 1.0").count() == m.count()
    stages = {(r["stage"], r["partition_id"]) for r in pidx.lineage.collect()}
    assert ("docs_store", 0) in stages and ("termstats", 0) in stages
    assert {s for s, _ in stages} == {"docs_store", "termstats", "postings", "positions"}


def test_kill_resume_identical(spark, tmp_path):
    """kill after 2 postings groups; resume; final index equals an
    uninterrupted build (checkpoint-resume, north_rule)."""
    docs = synth_code_docs(spark, n_docs=120, seed=31)
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    with pytest.raises(RuntimeError, match="injected failure"):
        write_index(spark, docs, d1, CFG, lineage_groups=4, fail_after_group=2)
    report = write_index(spark, docs, d1, CFG, lineage_groups=4)  # resume
    assert report.stages_skipped  # completed work was not redone
    assert any(s.startswith("postings") for s in report.stages_skipped)
    write_index(spark, docs, d2, CFG, lineage_groups=4)
    a, b = open_index(spark, d1), open_index(spark, d2)

    def canon(pidx):
        return sorted(
            (r["term"], r["bucket"], r["n"], bytes(r["doc_ids"]), bytes(r["tfs"]),
             bytes(r["dls"]), round(r["max_tfnorm"], 12))
            for r in pidx.postings.collect())

    assert canon(a) == canon(b)
    assert a.n_docs == b.n_docs and a.avgdl == b.avgdl
    got = search(a, "parse merge", k=10, round_score=None).page.collect()
    exp = search(b, "parse merge", k=10, round_score=None).page.collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [(r["doc_id"], r["score"]) for r in exp]


@pytest.fixture(scope="module")
def upserted(spark, tmp_path_factory):
    """The ``built`` corpus written, then one repo upserted with content
    that ranks its docs high: docs_store holds the base files and a
    segment file, and the repo's old rows stay on disk under tombstoned
    ids."""
    from pyspark.sql import functions as F

    from easy_solr4files_index_spark.operators.maintenance import (
        upsert_repos_physical)

    docs = synth_code_docs(spark, n_docs=250, seed=23)
    d = str(tmp_path_factory.mktemp("fetch") / "index")
    write_index(spark, docs, d, CFG, lineage_groups=4)
    repo = "org1/proj0"
    mod = (docs.filter(F.col("repo") == repo)
           .withColumn("content", F.concat(
               "content", F.lit(" parse merge license query score"))))
    pidx = upsert_repos_physical(spark, d, mod)
    assert pidx.tombstones
    merged = docs.filter(F.col("repo") != repo).unionByName(mod)
    oracle = build_oracle([r.asDict() for r in merged.collect()])
    return pidx, oracle


@pytest.mark.parametrize("text,k,skip,filters", QUERIES)
def test_fetch_by_id_page_identical(upserted, text, k, skip, filters):
    """Stored fields fetched by doc_id from a docs_store of several
    files: every page row carries its own doc's live stored fields, no
    tombstoned doc appears, and the page equals the oracle's over the
    live corpus (its ids differ from the index's after the upsert, so
    rows compare by (repo, path, lang) and score)."""
    pidx, oracle = upserted
    got = search(pidx, text, k=k, skip=skip, filters=filters,
                 round_score=None).page.collect()
    exp = oracle_search(oracle, text, k=k, skip=skip, filters=filters)
    assert len(got) == len(exp), text
    assert [g["score"] for g in got] == \
        pytest.approx([e["score"] for e in exp], rel=1e-9), text
    truth = {(e["repo"], e["path"], e["lang"]): e["score"] for e in
             oracle_search(oracle, text, k=10 ** 9, skip=0, filters=filters)}
    live = {r["doc_id"]: (r["repo"], r["path"], r["lang"])
            for r in pidx.docs_store.collect()}
    for g in got:
        assert not any(lo <= g["doc_id"] <= hi for lo, hi in pidx.tombstones)
        assert live[g["doc_id"]] == (g["repo"], g["path"], g["lang"])
        assert g["score"] == pytest.approx(
            truth[(g["repo"], g["path"], g["lang"])], rel=1e-9)
    if text in ("parse", "license"):
        assert any(g["repo"] == "org1/proj0" for g in got), text


def test_fresh_reader_concurrent_queries(spark, built):
    """Eight threads (more than the local Spark master's cores) query one
    freshly opened reader at once, so they race to fill its memoized
    Spark frames, Arrow datasets and idf map: every page equals the one
    a second fresh reader returns serially."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    pidx, *_ = built
    texts = ["parse", "parse merge token", "license", "buildIndex cache",
             "query score", "merge", '"parse merge" token', "+parse -merge"]

    def page(idx, text):
        return [tuple(r) for r in search(idx, text, k=10).page.collect()]

    serial = open_index(spark, pidx.index_dir)
    want = [page(serial, t) for t in texts]
    fresh = open_index(spark, pidx.index_dir)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=len(texts)) as ex:
            futs = [ex.submit(page, fresh, t) for t in texts]
            got = [f.result(timeout=300) for f in futs]
    finally:
        sys.setswitchinterval(old)
    assert got == want


def test_driver_idf_bit_identical(spark, built):
    """The driver's idf (wand._idf: StrictMath.log over the same double
    operations) equals the Spark plan's _idf_expr bit for bit for every
    df from 1 to n_docs."""
    from pyspark.sql import functions as F

    from easy_solr4files_index_spark.operators.query import _idf_expr
    from easy_solr4files_index_spark.operators.wand import _idf

    pidx, *_ = built
    n = pidx.n_docs
    want = {r["df"]: r["idf"] for r in spark.range(1, n + 1)
            .select(F.col("id").alias("df"))
            .withColumn("idf", _idf_expr(n)).collect()}
    got = {df: _idf(pidx, df) for df in range(1, n + 1)}
    assert len(want) == n
    assert all(got[df] == want[df] for df in want), \
        [df for df in want if got[df] != want[df]][:5]


@pytest.mark.parametrize("text,k,skip,filters", QUERIES)
def test_search_with_found_page_and_count(built, text, k, skip, filters):
    """Single-pass physical numFound: the found=True page matches the
    plain page and found matches the oracle's full match count (with fq
    applied)."""
    pidx, _, oracle, _ = built
    res = search(pidx, text, k=k, skip=skip, filters=filters,
                 round_score=None, found=True)
    assert res.partial is False
    found = res.found
    got = res.page.collect()
    exp_page = search(pidx, text, k=k, skip=skip, filters=filters,
                      round_score=None).page.collect()
    assert [(r["doc_id"], r["score"]) for r in got] == \
        [(r["doc_id"], r["score"]) for r in exp_page], text
    exp_all = oracle_search(oracle, text, k=10 ** 9, skip=0, filters=filters)
    assert found == len(exp_all), text


def test_search_envelope_physical_shape(built):
    pidx, *_ = built
    env = envelope(pidx, "parse merge", k=5)
    # reference summary shape: Solr.scala:91-103 / api.yml:172-256
    assert set(env["summary"]) == {"text", "skip", "limit", "time_allowed",
                                   "found", "returned"}
    assert env["summary"]["found"] >= env["summary"]["returned"] == \
        len(env["fileitems"]) == 5


def test_search_budgeted_partial_and_complete(built_many_buckets):
    """T3 timeAllowed (SearchServlet.scala:97): a zero budget skips the
    completion pass and flags partial=True with the exact top-k over the
    hot subset; an ample budget returns the normal exact answer with
    partial=False."""
    pidx, oracle = built_many_buckets
    text, k = "license merge", 4

    full = search(pidx, text, k=k, time_allowed_ms=1e9, round_score=None)
    assert full.partial is False and full.found is None
    exp = oracle_search(oracle, text, k=k, skip=0)
    assert [r["doc_id"] for r in full.page.collect()] == [e["doc_id"] for e in exp]

    res = search(pidx, text, k=k, time_allowed_ms=0.0, round_score=None)
    rows = res.page.collect()
    assert res.partial is True
    assert 0 < len(rows) <= k
    # partial results are a SUBSET of real matches with exact scores
    truth = {e["doc_id"]: e["score"] for e in
             oracle_search(oracle, text, k=10 ** 9, skip=0)}
    for r in rows:
        assert r["doc_id"] in truth
        assert r["score"] == pytest.approx(truth[r["doc_id"]], rel=1e-9)


def test_search_budgeted_small_index_completes(built):
    """Below the hot-set size the plan is exhaustive in one pass — the
    budget can never split it, so partial is always False."""
    pidx, *_ = built
    res = search(pidx, "parse", k=5, time_allowed_ms=0.0, round_score=None)
    assert res.partial is False
    assert len(res.page.collect()) == 5


def test_degraded_docs_counted_and_metadata_only(spark, tmp_path):
    """E2 graceful degradation (reference Solr.scala:65-68,
    package.scala:110-118): a doc whose content contributes no text
    (null / whitespace-only — the post-extraction shape of a broken
    file) still indexes its metadata + path tokens AND is counted in
    the build's feedback summary (BuildReport.degraded_docs,
    globals.json, PhysicalIndex)."""
    from pyspark.sql import functions as F

    from easy_solr4files_index_spark.operators.maintenance import (
        upsert_repos_physical)

    docs = synth_code_docs(spark, n_docs=60, seed=5)
    broken = spark.createDataFrame(
        [("org0/broken", "bin/Corrupt0001.pdf", "c0", "text", None),
         ("org0/broken", "bin/Corrupt0002.pdf", "c1", "text", "   ")],
        "repo string, path string, commit string, lang string, content string")
    index_dir = str(tmp_path / "idx")
    report = write_index(spark, docs.unionByName(broken), index_dir,
                         CFG, lineage_groups=1)
    assert report.degraded_docs == 2

    pidx = open_index(spark, index_dir)
    assert pidx.degraded_docs == 2
    # metadata-only: reachable by match-all + metadata filter and by its
    # PATH tokens (copyField path -> text), invisible to content terms
    rows = search(pidx, None, k=10,
                  filters={"repo": ["org0/broken"]}).page.collect()
    assert {r["path"] for r in rows} == {"bin/Corrupt0001.pdf",
                                         "bin/Corrupt0002.pdf"}
    hits = search(pidx, "corrupt0001", k=5).page.collect()
    assert [r["path"] for r in hits] == ["bin/Corrupt0001.pdf"]
    # the flag is an ordinary filterable docs_store column
    assert pidx.docs_store.filter(F.col("meta_only")).count() == 2

    # an appended segment's degradation events ACCUMULATE (per-ingest
    # feedback, like the reference's summary — deletes don't decrement)
    more = spark.createDataFrame(
        [("org0/broken", "bin/Corrupt0003.pdf", "c2", "text", "")],
        "repo string, path string, commit string, lang string, content string")
    upsert_repos_physical(spark, index_dir, more, auto_compact=False)
    assert open_index(spark, index_dir).degraded_docs == 3
