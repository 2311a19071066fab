"""Benchmark core, importable from the packaged zip (`fts bench` must
work under `spark-submit --py-files easy_solr4files_index_spark.zip`,
where no repo-root bench.py exists). The repo-root ``bench.py`` is the
driver-contract wrapper around this module.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

QUERY_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

# the reference query set (mirrors __spark_entry__._SEARCHES: single /
# multi / hot-term / filtered / paginated / match-all — SearchServlet
# semantics, SURVEY.md §2.6/2.9)
BENCH_QUERIES: dict[str, tuple[str | None, int, int, dict | None]] = {
    "q1_single": ("dup", 10, 0, None),
    "q2_multi": ("spark join merge", 10, 0, None),
    "q3_hot": ("join", 15, 0, None),
    "q4_filtered": ("table scan", 10, 0, {"lang": ["en"]}),
    "q5_filters2": ("query window", 10, 0,
                    {"lang": ["de", "fr"],
                     "repo": ["src0", "src1", "src2", "src3", "src4", "src5"]}),
    "q6_page": ("spark", 5, 3, None),
    "q7_matchall": (None, 10, 5, {"lang": ["de"]}),
    # round-3 dismax operators: phrase reads the positions/ dataset
    # (term-bucket-pruned), boolean folds MUST/MUST_NOT into one agg
    "q8_phrase": ('"spark join" merge', 10, 0, None),
    "q9_boolean": ("+join -parse spark", 10, 0, None),
}


# the round-1/2 reference query set — query_p95_core7_sec is computed
# over exactly these names so the metric stays comparable across rounds
# (an explicit set, not a name-ordering rule: "q10_..." sorts before
# "q7_..." lexicographically)
_CORE7 = frozenset(["q1_single", "q2_multi", "q3_hot", "q4_filtered",
                    "q5_filters2", "q6_page", "q7_matchall"])


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def run_suite(sf_dir: str, cpus: int) -> dict:
    from .operators.postings import open_index, write_index
    from .operators.wand import search
    from .session import get_spark
    from .sources.docs_source import load_docs

    spark = get_spark("bench", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_docs(spark, sf_dir)
    n_files = docs.count()  # warms the parquet read; excluded from build time

    index_dir = tempfile.mkdtemp(prefix="fts_bench_idx_")
    try:
        # min-of-trials: this VM's throughput swings >2x between windows
        # (documented in BENCH/BASELINE.md); a single-shot build time is
        # as likely to measure the hypervisor as the engine
        build_trials = []
        for ti in range(int(os.environ.get("SPARK_GRAFT_BUILD_TRIALS", "2"))):
            if ti > 0:
                shutil.rmtree(index_dir, ignore_errors=True)
            t0 = time.perf_counter()
            write_index(spark, docs, index_dir, lineage_groups=1)
            build_trials.append(time.perf_counter() - t0)
        build_s = min(build_trials)
        files_per_sec = n_files / build_s if build_s > 0 else float("inf")

        idx = open_index(spark, index_dir)
        # warm-up: JVM/codegen/Arrow paths, not measured — one query per
        # execution family (OR/WAND, and the boolean/phrase path whose
        # first run compiles the positions-scan + combiner plan)
        search(idx, "spark", k=5).page.collect()
        search(idx, '+"spark merge" -dup join', k=5).page.collect()

        per_query: dict[str, float] = {}
        all_times: list[float] = []
        core7_times: list[float] = []
        for name, (text, k, skip, filters) in BENCH_QUERIES.items():
            times = []
            for _ in range(QUERY_REPS):
                t0 = time.perf_counter()
                search(idx, text, k=k, skip=skip, filters=filters).page.collect()
                times.append(time.perf_counter() - t0)
            # min, not median: on this contended VM the distribution is
            # one-sided (true cost + random co-tenant stalls), so min is
            # the consistent estimator of engine latency (BENCH/BASELINE.md)
            per_query[name] = round(min(times), 4)
            all_times += times
            if name in _CORE7:  # the round-1/2 query set
                core7_times += times
        all_times.sort()
        core7_times.sort()
        p95 = all_times[min(len(all_times) - 1, int(0.95 * len(all_times)))]
        p95_core7 = core7_times[min(len(core7_times) - 1,
                                    int(0.95 * len(core7_times)))]

        # serving-layer caches (operators/caches.py — Solr's
        # filterCache/queryResultCache analog): a populate pass, then the
        # measured pass answers every query from the LRU'd window rows
        # (no Spark job), and one filtered query re-runs against the
        # persisted fq DocSet (filterCache hit, result cache bypassed)
        from .operators.caches import SearcherCaches
        caches = SearcherCaches(idx)
        for text, k, skip, filters in BENCH_QUERIES.values():
            caches.search(text, k=k, skip=skip, filters=filters)
        cached_times = []
        for text, k, skip, filters in BENCH_QUERIES.values():
            t0 = time.perf_counter()
            caches.search(text, k=k, skip=skip, filters=filters)
            cached_times.append(time.perf_counter() - t0)
        cached_times.sort()
        cached_p95 = cached_times[min(len(cached_times) - 1,
                                      int(0.95 * len(cached_times)))]
        fq_text, fq_k, fq_skip, fq_filters = BENCH_QUERIES["q4_filtered"]
        fq_ds = caches.filter_docset(fq_filters)
        fq_times = []
        for _ in range(QUERY_REPS):
            t0 = time.perf_counter()
            search(idx, fq_text, k=fq_k, skip=fq_skip,
                   filters=fq_filters, fq_docset=fq_ds).page.collect()
            fq_times.append(time.perf_counter() - t0)

        # warm searcher (caches.warm — the Solr firstSearcher analog):
        # postings/positions/termstats/docs_store persisted + materialized
        # in executor storage, then the SAME query set re-measured
        # through the full WAND path (result cache bypassed). What's
        # left after the scan cost is the per-job scheduling floor.
        caches.warm()
        warm_all: list[float] = []
        for text, k, skip, filters in BENCH_QUERIES.values():
            for _ in range(QUERY_REPS):
                t0 = time.perf_counter()
                search(idx, text, k=k, skip=skip,
                       filters=filters).page.collect()
                warm_all.append(time.perf_counter() - t0)
        warm_all.sort()
        warm_p95 = warm_all[min(len(warm_all) - 1,
                                int(0.95 * len(warm_all)))]
        caches.clear()

        qps = run_concurrent_queries(idx)

        upsert = run_incremental(spark, docs, index_dir, build_s)
        # at this tiny SF the upsert ratio is fixed-job-overhead-bound
        # (a 250-file bag costs ~6s of Spark job latency no matter what);
        # the at-scale ratio comes from the committed 200k-doc cost curve
        # (BENCH/MAINTENANCE.md, bench.py --maintenance-curve)
        try:
            import json as _json
            with open("bench_maintenance.json") as fh:
                curve = _json.load(fh)
            big = curve["sizes"][max(curve["sizes"], key=int)]
            upsert["upsert_vs_full_build_at_200k"] = (
                big["fixed_bag"]["upsert_vs_full_build"])
        except (OSError, KeyError, ValueError):
            pass

        # training-data pipeline timings (dedup/ANN at 200k docs) ride the
        # headline JSON when a `bench.py --pipeline` run exists, same
        # pattern as the maintenance curve above
        pipeline = {}
        try:
            import json as _json
            with open("bench_pipeline.json") as fh:
                pipeline = {"pipeline": _json.load(fh)}
        except (OSError, ValueError):
            pass

        return {
            "metric": ("index-build throughput (files/sec) + query p95 latency, "
                       "block-max WAND BM25 over term-partitioned varbyte postings"),
            "value": round(build_s + sum(per_query.values()), 3),
            "unit": "sec",
            "queries": per_query,
            "sf": _sf_of(sf_dir),
            "n_files": n_files,
            "build_sec": round(build_s, 3),
            "build_sec_trials": [round(t, 3) for t in build_trials],
            "files_per_sec": round(files_per_sec, 1),
            "query_p95_sec": round(p95, 4),
            # p95 over q1-q7 only — the round-1/2 query set, for
            # round-over-round comparability (q8/q9 are NEW round-3
            # operators: exact-scoring phrase/boolean, a different
            # execution family, not a regression of the WAND path)
            "query_p95_core7_sec": round(p95_core7, 4),
            # repeated-query serving path: queryResultCache hit (rows
            # from the driver LRU, no Spark job) / fq re-run against the
            # persisted filterCache DocSet
            "query_cached_p95_ms": round(cached_p95 * 1000, 3),
            "q4_fqcache_sec": round(min(fq_times), 4),
            # full WAND path over executor-persisted block datasets
            # (caches.warm — firstSearcher warming): the residual is
            # the per-job scheduling floor, not scan/decode
            "query_p95_warm_sec": round(warm_p95, 4),
            "cpus": cpus,
            **qps,
            **upsert,
            **pipeline,
        }
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
        spark.stop()


def run_concurrent_queries(idx) -> dict:
    """Sustained concurrent-query throughput (QPS) — the reference is a
    Solr SERVER answering overlapping requests (SearchServlet), while the
    per-query numbers above measure one query at a time. Spark's
    scheduler accepts jobs from many driver threads; each worker here
    submits independent search jobs against the shared reader,
    round-robin over the core query set. Per-query latency on a local[N]
    box underuses the cluster (a selective query schedules far fewer
    tasks than there are cores); QPS is the serving-facing metric that
    shows those idle cores absorbing concurrent queries."""
    import concurrent.futures as _fut

    from .operators.wand import search

    workers = int(os.environ.get("SPARK_GRAFT_QPS_WORKERS", "8"))
    total = int(os.environ.get("SPARK_GRAFT_QPS_QUERIES", "48"))
    core = [BENCH_QUERIES[n] for n in sorted(_CORE7)]

    def one(i: int) -> None:
        text, k, skip, filters = core[i % len(core)]
        search(idx, text, k=k, skip=skip, filters=filters).page.collect()

    one(0)  # warm the thread-pool path before timing
    t0 = time.perf_counter()
    with _fut.ThreadPoolExecutor(max_workers=workers) as ex:
        list(ex.map(one, range(total)))
    wall = time.perf_counter() - t0
    return {
        "qps_concurrent": round(total / wall, 2) if wall > 0 else None,
        "qps_workers": workers,
        "qps_queries": total,
        "qps_wall_sec": round(wall, 3),
    }


def run_incremental(spark, docs, index_dir: str, full_build_s: float) -> dict:
    """Incremental-maintenance cycle on the already-built index — the
    O(bag) vs O(corpus) claim of operators/maintenance.py, measured by
    the same harness that catches query regressions: upsert one repo,
    delete another, drain a streaming micro-batch, compact.

    State accumulates through the cycle (each trial's upsert tombstones
    the previous segment), so delete/stream/compact each time an index
    carrying the preceding ops' tombstones — deterministic given
    maint_trials, comparable across rounds at the same setting."""
    import tempfile as _tmp

    from pyspark.sql import functions as F

    from .operators.maintenance import (compact_index, delete_repo_physical,
                                        upsert_repos_physical)
    from .streaming.ingest import stream_upsert

    repos = [r["repo"] for r in
             docs.select("repo").distinct().orderBy("repo").limit(3).collect()]
    up_repo = repos[0]
    del_repo = repos[1] if len(repos) > 1 else repos[0]
    st_repo = repos[2] if len(repos) > 2 else repos[0]

    one = docs.filter(F.col("repo") == up_repo)
    n_one = one.count()
    # upsert/stream are idempotent (delete-the-repo's-docs + append a
    # fresh segment, same work every time), so they get the same
    # min-of-trials discipline as the build — a single-shot number on
    # this VM is as likely to measure the hypervisor window as the
    # engine. delete/compact mutate state irreversibly (a second run
    # would measure a no-op) and stay single-shot.
    maint_trials = int(os.environ.get("SPARK_GRAFT_MAINT_TRIALS", "2"))
    upsert_trials = []
    for _ in range(maint_trials):
        t0 = time.perf_counter()
        # repos= is the reference's own calling convention (one bag per
        # update cycle, bag id known) — skips the repo-discovery job
        upsert_repos_physical(spark, index_dir, one, auto_compact=False,
                              repos=[up_repo])
        upsert_trials.append(time.perf_counter() - t0)
    upsert_s = min(upsert_trials)

    t0 = time.perf_counter()
    delete_repo_physical(spark, index_dir, del_repo, auto_compact=False)
    delete_s = time.perf_counter() - t0

    # streaming drain: one docs-shaped micro-batch through the
    # foreachBatch upsert path (availableNow), checkpoint included
    src = _tmp.mkdtemp(prefix="fts_bench_stream_src_")
    (docs.filter(F.col("repo") == st_repo)
     .withColumn("content", F.concat(F.col("content"), F.lit(" streamed")))
     .write.mode("overwrite").parquet(src))
    stream_trials = []
    for _ in range(maint_trials):
        ckpt = _tmp.mkdtemp(prefix="fts_bench_stream_ckpt_")
        t0 = time.perf_counter()
        # schema=docs.schema: the source batch carries the ACL columns the
        # base index was built with; reading it through the narrower default
        # DOCS_SCHEMA would append docs_store files missing those columns.
        # auto_compact=False: accumulated tombstones from earlier trials
        # must not trip a full compaction INSIDE a timed stream trial —
        # compaction is timed separately below, on a known state.
        stream_upsert(spark, src, index_dir, ckpt, schema=docs.schema,
                      auto_compact=False)
        stream_trials.append(time.perf_counter() - t0)
        shutil.rmtree(ckpt, ignore_errors=True)
    stream_s = min(stream_trials)
    shutil.rmtree(src, ignore_errors=True)

    t0 = time.perf_counter()
    compact_index(spark, index_dir)
    compact_s = time.perf_counter() - t0

    return {
        "upsert_repo": up_repo,
        "upsert_files": n_one,
        "upsert_sec": round(upsert_s, 3),
        "upsert_sec_trials": [round(t, 3) for t in upsert_trials],
        "upsert_vs_full_build": round(upsert_s / full_build_s, 3) if full_build_s else None,
        "delete_sec": round(delete_s, 3),
        "stream_upsert_sec": round(stream_s, 3),
        "compact_sec": round(compact_s, 3),
    }


def run_maintenance_curve(cpus: int,
                          corpus_sizes=(50_000, 100_000, 200_000),
                          bag_repo_counts=(1, 2, 4, 8)) -> dict:
    """The O(bag) maintenance evidence (round-2 verdict #3), two sweeps
    over the deterministic scale corpus (64 repos, so one repo = 1.56%):

    1. fixed corpus (largest size): upsert + delete wall-time for bags of
       1/2/4/8 repos — cost should grow with the BAG, staying ≪ a full
       rebuild;
    2. fixed bag (~largest-size single-repo file count, assembled from
       4/2/1 repos at 50k/100k/200k): upsert wall-time across corpus
       sizes — cost should be ~FLAT in corpus size.

    auto_compact is disabled so each datapoint times exactly one op; a
    single compact per corpus size is timed separately.
    """
    from pyspark.sql import functions as F

    from .operators.maintenance import (compact_index, delete_where_physical,
                                        upsert_repos_physical)
    from .operators.postings import write_index
    from .session import get_spark
    from .sources.scale_corpus import materialize_scale_corpus

    spark = get_spark("bench-maint", cpus=cpus, shuffle_partitions=cpus * 2)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"cpus": cpus, "sizes": {}}
    largest = max(corpus_sizes)
    try:
        # warm-up build (untimed): the first write_index in a session pays
        # JVM codegen + Arrow + Python-worker spawn; without this the
        # SMALLEST corpus (first in the loop) absorbed all of it and the
        # curve showed 50k builds slower than 200k in absolute time —
        # systematic across runs, diagnosed round 3
        warm_path = materialize_scale_corpus(
            spark, 5_000, "/tmp/fts_scale_corpus_v2_5000")
        warm_dir = tempfile.mkdtemp(prefix="fts_maint_warm_")
        warm_docs = spark.read.parquet(warm_path)
        write_index(spark, warm_docs, warm_dir, lineage_groups=1)
        # ... and the maintenance paths: the first upsert/delete/compact
        # of a session compiles their own plans (delta kernels, tombstone
        # scan) — without this the smallest corpus's first bag absorbed
        # ~15s of one-time cost in every run
        upsert_repos_physical(spark, warm_dir,
                              warm_docs.filter(F.col("repo") == "repo00"),
                              auto_compact=False)
        delete_where_physical(spark, warm_dir, F.col("repo") == "repo01",
                              "repo01", auto_compact=False)
        compact_index(spark, warm_dir)
        shutil.rmtree(warm_dir, ignore_errors=True)
        for n in corpus_sizes:
            path = materialize_scale_corpus(spark, n, f"/tmp/fts_scale_corpus_v2_{n}")
            docs = spark.read.parquet(path)
            index_dir = tempfile.mkdtemp(prefix=f"fts_maint_{n}_")
            t0 = time.perf_counter()
            write_index(spark, docs, index_dir, lineage_groups=1)
            build_s = time.perf_counter() - t0
            entry: dict = {"build_sec": round(build_s, 2),
                           "files_per_sec": round(n / build_s, 1),
                           "bags": {}}

            # sweep 1 only at the largest corpus; sweep 2 needs one
            # fixed-file-count bag per size
            counts = bag_repo_counts if n == largest else ()
            # fixed bag ≈ largest/64 files: 4 repos at 50k, 2 at 100k, 1 at 200k
            fixed_repos = max(1, largest // 64 // max(n // 64, 1))
            for bag in sorted(set(counts) | {fixed_repos}):
                repos = [f"repo{i:02d}" for i in range(bag)]
                bag_docs = docs.filter(F.col("repo").isin(repos))
                nb = bag_docs.count()
                t0 = time.perf_counter()
                upsert_repos_physical(spark, index_dir, bag_docs,
                                      auto_compact=False)
                up_s = time.perf_counter() - t0
                # disjoint delete bags from the top end (repo63 downward)
                del_repos = [f"repo{63 - i:02d}" for i in range(bag)]
                t0 = time.perf_counter()
                delete_where_physical(spark, index_dir,
                                      F.col("repo").isin(del_repos),
                                      ",".join(del_repos), auto_compact=False)
                del_s = time.perf_counter() - t0
                entry["bags"][bag] = {
                    "files": nb, "pct_of_corpus": round(100.0 * nb / n, 2),
                    "upsert_sec": round(up_s, 3),
                    "delete_sec": round(del_s, 3),
                    "upsert_vs_full_build": round(up_s / build_s, 3),
                }
                if bag == fixed_repos:
                    entry["fixed_bag"] = dict(entry["bags"][bag], repos=bag)
            t0 = time.perf_counter()
            compact_index(spark, index_dir)
            entry["compact_sec"] = round(time.perf_counter() - t0, 2)
            out["sizes"][n] = entry
            shutil.rmtree(index_dir, ignore_errors=True)
    finally:
        spark.stop()
    return out


def write_maintenance_report(m: dict, path: str = "BENCH/MAINTENANCE.md") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    sizes = sorted(m["sizes"])
    largest = sizes[-1]
    lines = [
        "# Maintenance cost curve — O(bag), not O(corpus)\n",
        "\nRegenerate with `python bench.py --maintenance-curve` "
        f"(local[{m['cpus']}], deterministic 64-repo scale corpus; "
        "auto-compact off so each cell times exactly one op; delete bags "
        "are disjoint from upsert bags; an untimed 5k-doc "
        "build+upsert+delete+compact warm-up precedes the sweep so the "
        "first timed cell doesn't absorb session plan-compile costs)."
        + (f" Cells are per-cell minima over {m['trials']} independent "
           "full runs (tools/merge_maintenance_runs.py) — this VM's "
           "window-to-window throughput swings >2x, the same discipline "
           "the scaling bench uses." if m.get("trials") else "")
        + "\n",
        f"\n## Sweep 1 — cost vs bag size (corpus fixed at {largest} docs)\n",
        "\n| bag (repos) | files | % corpus | upsert (s) | delete (s) | "
        "upsert / full build |\n|---|---|---|---|---|---|\n",
    ]
    big = m["sizes"][largest]
    for bag in sorted(big["bags"]):
        b = big["bags"][bag]
        lines.append(f"| {bag} | {b['files']} | {b['pct_of_corpus']}% | "
                     f"{b['upsert_sec']} | {b['delete_sec']} | "
                     f"{b['upsert_vs_full_build']} |\n")
    lines.append(f"\nFull build at {largest}: {big['build_sec']} s "
                 f"({big['files_per_sec']} files/s); compact after the "
                 f"sweep: {big['compact_sec']} s.\n")
    lines.append("\n## Sweep 2 — cost vs corpus size (bag fixed at "
                 f"~{m['sizes'][largest]['fixed_bag']['files']} files)\n")
    lines.append("\n| corpus docs | build (s) | bag files | upsert (s) | "
                 "delete (s) | upsert / full build |\n|---|---|---|---|---|---|\n")
    for n in sizes:
        e = m["sizes"][n]
        fb = e["fixed_bag"]
        lines.append(f"| {n} | {e['build_sec']} | {fb['files']} | "
                     f"{fb['upsert_sec']} | {fb['delete_sec']} | "
                     f"{fb['upsert_vs_full_build']} |\n")
    lines.append(
        "\nReading: sweep 1 shows cost growing with the bag while staying "
        "well under the full rebuild; sweep 2 shows a ~constant-size bag "
        "costing ~the same against a 4x larger corpus — the scans under "
        "delete/upsert are pruned to the bag's doc-range buckets "
        "(operators/maintenance.py), so corpus size only enters through "
        "parquet footer/listing overhead.\n")
    with open(path, "w") as fh:
        fh.write("".join(lines))


# The corpus-size curve's query set — identical to bench.py's scaling
# legs (bench.py imports THIS definition) so every harness exercises the
# same reference queries: hot keyword, hot identifier, multi-term,
# tail terms, filtered.
SCALE_QUERIES: dict[str, tuple[str | None, int, int, dict | None]] = {
    "s1_hot_kw": ("def", 10, 0, None),
    "s2_hot_ident": ("parseBuild", 10, 0, None),
    "s3_multi": ("merge block scan", 10, 0, None),
    "s4_tail": ("swapRing allocHeap", 10, 0, None),
    "s5_filtered": ("token score", 10, 0, {"lang": ["python", "go"]}),
    # round-4: the positions-dataset path (phrase tf) in the scaling and
    # corpus-curve evidence, not just the sf0.1 headline bench
    "s6_phrase": ('"merge block" scan', 10, 0, None),
}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def run_corpus_curve(cpus: int,
                     sizes=(50_000, 100_000, 200_000, 500_000),
                     build_trials: int = 2, query_reps: int = 3) -> dict:
    """Corpus-SIZE scaling evidence (complement of the core-count
    scaling in bench.py --scaling): the same build + query suite at
    growing corpus sizes, one pinned parallelism.

    What the 100 TB design predicts — and this curve checks:
      * build files/sec ~FLAT in corpus size: the build is one linear
        pass (tokenize → bucketed tf aggregate → per-bucket encode →
        parquet), no stage is super-linear in n_docs;
      * index bytes/doc ~flat: varbyte postings + zstd parquet don't
        degrade with corpus growth;
      * query latency SUBLINEAR in corpus size: the postings scan is
        term/tbucket partition-pruned, so a query's cost tracks its
        terms' posting mass (∝ corpus for a hot term, ≪ corpus for
        tail terms) plus a fixed planning overhead — NOT a full-corpus
        scan. s4_tail should stay near-flat while the corpus grows 10x.

    Methodology per the VM discipline: min over ``build_trials`` builds
    and ``query_reps`` query reps within one session; corpus
    materialization and a small warm-up build precede the timed region.
    """
    from pyspark.sql import functions as F  # noqa: F401 (parity with peers)

    from .operators.postings import open_index, write_index
    from .operators.wand import search
    from .session import get_spark
    from .sources.scale_corpus import materialize_scale_corpus

    spark = get_spark("bench-corpus-curve", cpus=cpus,
                      shuffle_partitions=cpus * 2)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"cpus": cpus, "build_trials": build_trials,
                 "query_reps": query_reps, "sizes": {}}
    tmp_dirs: list[str] = []
    try:
        warm_path = materialize_scale_corpus(
            spark, 5_000, "/tmp/fts_scale_corpus_v2_5000")
        warm_dir = tempfile.mkdtemp(prefix="fts_curve_warm_")
        tmp_dirs.append(warm_dir)
        write_index(spark, spark.read.parquet(warm_path), warm_dir,
                    lineage_groups=1)
        widx = open_index(spark, warm_dir)
        search(widx, "def", k=5).page.collect()

        for n in sizes:
            path = materialize_scale_corpus(
                spark, n, f"/tmp/fts_scale_corpus_v2_{n}")
            docs = spark.read.parquet(path)
            build_secs = []
            index_dir = None
            for _ in range(build_trials):
                index_dir = tempfile.mkdtemp(prefix=f"fts_curve_{n}_")
                tmp_dirs.append(index_dir)
                t0 = time.perf_counter()
                write_index(spark, docs, index_dir, lineage_groups=1)
                build_secs.append(time.perf_counter() - t0)
            build_s = min(build_secs)

            idx = open_index(spark, index_dir)
            search(idx, "def", k=5).page.collect()  # warm, unmeasured
            per_query = {}
            for name, (text, k, skip, filters) in SCALE_QUERIES.items():
                times = []
                for _ in range(query_reps):
                    t0 = time.perf_counter()
                    search(idx, text, k=k, skip=skip,
                           filters=filters).page.collect()
                    times.append(time.perf_counter() - t0)
                per_query[name] = round(min(times), 3)
            worst = max(per_query.values())
            index_bytes = _dir_bytes(index_dir)
            out["sizes"][n] = {
                "build_sec": round(build_s, 2),
                "build_sec_trials": [round(s, 2) for s in build_secs],
                "files_per_sec": round(n / build_s, 1),
                "index_bytes": index_bytes,
                "bytes_per_doc": round(index_bytes / n, 1),
                "queries": per_query,
                "query_worst_sec": worst,
            }
    finally:
        spark.stop()
        for d in tmp_dirs:
            shutil.rmtree(d, ignore_errors=True)
    return out


def write_corpus_report(c: dict, path: str = "BENCH/CORPUS.md") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    sizes = sorted(c["sizes"])
    lines = [
        "# Corpus-size scaling curve — build ~linear, queries sublinear\n",
        f"\nRegenerate with `python bench.py --corpus-curve` "
        f"(local[{c['cpus']}], deterministic scale corpus, min of "
        f"{c['build_trials']} builds / {c['query_reps']} query reps per "
        "cell within one session; same VM-noise caveats as every other "
        "harness here — compare cells within a run, not across runs)."
        + (f" Cells are per-cell minima over {c['merged_from_runs']} "
           "independent full runs (tools/merge_corpus_runs.py), each "
           "cell at its least-contended observation; index_bytes agreed "
           "byte-for-byte across runs (deterministic builds)."
           if c.get("merged_from_runs") else "") + "\n",
        "\n| corpus docs | build (s) | files/s | index bytes/doc | "
        + " | ".join(SCALE_QUERIES) + " (s) |\n",
        "|---" * (4 + len(SCALE_QUERIES)) + "|\n",
    ]
    for n in sizes:
        e = c["sizes"][n]
        # "—" = query not measured in that cell (set drift across merged
        # rounds, e.g. s6_phrase added in r4)
        qs = " | ".join(str(e["queries"].get(q, "—")) for q in SCALE_QUERIES)
        lines.append(f"| {n} | {e['build_sec']} | {e['files_per_sec']} | "
                     f"{e['bytes_per_doc']} | {qs} |\n")
    lo, hi = c["sizes"][sizes[0]], c["sizes"][sizes[-1]]
    growth = sizes[-1] / sizes[0]
    bt_growth = hi["build_sec"] / max(lo["build_sec"], 1e-9)
    qgrow = {q: round(hi["queries"][q] / max(lo["queries"][q], 1e-9), 2)
             for q in SCALE_QUERIES
             if q in hi["queries"] and q in lo["queries"]}
    lines.append(
        f"\nReading: corpus grows {growth:.0f}x "
        f"({sizes[0]} → {sizes[-1]} docs). Build wall-time grows only "
        f"{bt_growth:.1f}x ({lo['build_sec']} → {hi['build_sec']} s, "
        f"{lo['files_per_sec']} → {hi['files_per_sec']} files/s): "
        "sub-linear in this range because fixed per-job costs (scheduling, "
        "Arrow setup, parquet footers) amortize; the asymptote is the "
        "linear single pass, never super-linear — no stage sorts or joins "
        "the corpus against itself. Index bytes/doc "
        f"{lo['bytes_per_doc']} → {hi['bytes_per_doc']} (compression does "
        "not degrade). Per-query latency growth factors over the same "
        f"{growth:.0f}x: {qgrow} — hot-term queries track their posting "
        "mass, tail-term and filtered queries stay well under the corpus "
        "growth because the postings scan is term/tbucket-pruned and the "
        "per-doc work is bounded by block-max pruning (operators/wand.py)."
        "\n")
    with open(path, "w") as fh:
        fh.write("".join(lines))


# ---------------------------------------------------------------------------
# Training-data pipeline bench (VERDICT r03 #9): the dedup/ANN operators
# timed at 200k-doc / 200k-vector scale — none of them appeared in any
# harness before round 4.
# ---------------------------------------------------------------------------

def _synth_embeddings(spark, n_vecs: int, dim: int, path: str):
    """Deterministic synthetic (vec_id, embedding array<double>) corpus,
    materialized to parquet once per (n, dim) so search trials never time
    generation. All JVM-side (xxhash64 over (id, j, seed)) — no driver
    data, any n_vecs; components uniform in [-1, 1)."""
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        from pyspark.sql import functions as F
        emb = spark.range(n_vecs).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: (F.pmod(F.xxhash64(F.col("id"), j, F.lit(7)),
                                  F.lit(2_000_000)).cast("double")
                           - 1_000_000.0) / 1_000_000.0,
            ).alias("embedding"))
        emb.write.mode("overwrite").parquet(path)
        with open(done, "w") as fh:
            fh.write(str(n_vecs))
    return spark.read.parquet(path)


def run_pipeline(cpus: int, n_docs: int = 200_000, dim: int = 32,
                 n_queries: int = 100, search_reps: int = 2) -> dict:
    """Time the composed training-data operators at scale-corpus size:

      * dedup_apply — MinHash-LSH → Jaccard verify → connected
        components → keep, over the 200k-doc scale corpus salted with 2%
        exact-text duplicates (different repo/path, same content) so the
        verifier and the label-propagation loop do real work;
      * ivf_build + ivf_search — materialized centroid-partitioned ANN
        over 200k deterministic synthetic vectors, 100-query batch,
        nprobe = n_centroids/8 (the pruned scan path);
      * ivfpq_build + ivfpq_search — the compressed-code variant
        (IVFADC + exact re-rank);
      * pq_search_rerank_batch — the batch-DataFrame ADC path over the
        SAME codes table (the 10^5-query corpus-vs-corpus shape, here at
        100 queries).

    Searches take min over ``search_reps``; builds are single-shot
    (mutating a fresh tmpdir each trial would time mkdir/rm churn more
    than the engine — the corpus/build sizes dominate instead).
    """
    from pyspark.sql import functions as F

    from .functions.dedup import dedup_apply
    from .functions.ivf import ivf_build, ivf_search, queries_from_emb
    from .functions.ivfpq import ivfpq_build, ivfpq_search
    from .functions.pq import pq_search_rerank_batch, queries_df_of
    from .session import get_spark
    from .sources.scale_corpus import materialize_scale_corpus

    spark = get_spark("bench-pipeline", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"cpus": cpus, "n_docs": n_docs, "n_vecs": n_docs,
                 "dim": dim, "n_queries": n_queries,
                 "search_reps": search_reps}
    tmp_dirs: list[str] = []
    try:
        # --- dedup over the salted scale corpus -------------------------
        corpus = spark.read.parquet(materialize_scale_corpus(
            spark, n_docs, f"/tmp/fts_scale_corpus_v2_{n_docs}"))
        dupes = (corpus.orderBy("path").limit(max(1, n_docs // 50))
                 .withColumn("repo", F.concat(F.lit("dup-"), F.col("repo")))
                 .withColumn("path", F.concat(F.lit("dup/"), F.col("path"))))
        docs = (corpus.unionByName(dupes)
                .withColumn("doc_id", F.xxhash64("repo", "path"))
                .select("doc_id", F.col("content").alias("text")))
        # min-of-reps like every other harness here (verify SKILL.md: this
        # VM's timings swing 2-10×; the first trial additionally pays the
        # cold parquet/page-cache read that is not the operator's cost)
        times = []
        for _ in range(search_reps):
            t0 = time.perf_counter()
            dd = dedup_apply(docs, threshold=0.6)
            n_total = dd.count()
            n_dropped = dd.filter(F.col("keep_doc_id") != F.col("doc_id")).count()
            times.append(time.perf_counter() - t0)
        out["dedup_apply_sec"] = round(min(times), 2)
        out["dedup_docs"] = n_total
        out["dedup_dropped"] = n_dropped
        out["dedup_docs_per_sec"] = round(n_total / out["dedup_apply_sec"], 1)

        # --- corpus hygiene: contamination screen + repetition signals --
        from .functions.contamination import contamination_pairs, snippet_bench
        from .functions.textstats import repetition_scores
        # ~n/997 eval items (xxhash64 ids: the modulus carves a pseudo-
        # random slice); the salted exact dups guarantee real cross-doc
        # hits beyond self-recovery
        bench_df = snippet_bench(docs, modulus=997, k_tokens=15)
        times = []
        for _ in range(search_reps):
            t0 = time.perf_counter()
            n_cont = contamination_pairs(docs, bench_df, n=3, threshold=0.8,
                                         exclude_self=False).count()
            times.append(time.perf_counter() - t0)
        out["contamination_sec"] = round(min(times), 2)
        out["contamination_hits"] = n_cont
        out["contamination_docs_per_sec"] = round(
            n_total / out["contamination_sec"], 1)

        times = []
        for _ in range(search_reps):
            t0 = time.perf_counter()
            # aggregate over the computed columns so column pruning can't
            # skip the map-only gram fold
            repetition_scores(docs).agg(
                F.sum("n_bigrams"), F.avg("top_bigram_frac"),
                F.avg("dup_trigram_frac")).collect()
            times.append(time.perf_counter() - t0)
        out["repetition_sec"] = round(min(times), 2)
        out["repetition_docs_per_sec"] = round(
            n_total / out["repetition_sec"], 1)

        # fused one-pass profile: all four signal families per doc
        from .functions.textstats import text_profile
        times = []
        for _ in range(search_reps):
            t0 = time.perf_counter()
            text_profile(docs).agg(
                F.sum("n_tokens"), F.avg("quality"),
                F.avg("top_bigram_frac"), F.count("lang_pred")).collect()
            times.append(time.perf_counter() - t0)
        out["profile_sec"] = round(min(times), 2)
        out["profile_docs_per_sec"] = round(n_total / out["profile_sec"], 1)

        # end-to-end curation: gates (one map pass) + min_by exact dedup
        # + snippet decontamination — the full pretraining-corpus prep
        from .functions.curation import CurationConfig, curate
        cur_cfg = CurationConfig(min_tokens=10, max_top_bigram=0.5,
                                 max_dup_trigram=0.9)
        times = []
        for _ in range(search_reps):
            t0 = time.perf_counter()
            n_kept = curate(docs, cur_cfg, bench=bench_df).count()
            times.append(time.perf_counter() - t0)
        out["curate_sec"] = round(min(times), 2)
        out["curate_kept"] = n_kept
        out["curate_docs_per_sec"] = round(n_total / out["curate_sec"], 1)

        # substring-level span dedup: gram aggregate → anchor semi-join →
        # interval merge; the 2% salted exact dups guarantee real
        # cross-doc spans (their whole token stream is one span)
        from .functions.spans import dup_span_stats
        times = []
        for _ in range(search_reps):
            t0 = time.perf_counter()
            n_flagged = (dup_span_stats(docs, w=25)
                         .filter(F.col("n_spans") > 0).count())
            times.append(time.perf_counter() - t0)
        out["spans_sec"] = round(min(times), 2)
        out["spans_docs_flagged"] = n_flagged
        out["spans_docs_per_sec"] = round(n_total / out["spans_sec"], 1)
        # the pure-Spark production hasher (xxhash64 — no DuckDB twin,
        # so the oracle-parity mode above stays md5): same flagged set,
        # cheaper gram hashing
        times = []
        for _ in range(search_reps):
            t0 = time.perf_counter()
            n_flagged_xx = (dup_span_stats(docs, w=25, hasher="xx64")
                            .filter(F.col("n_spans") > 0).count())
            times.append(time.perf_counter() - t0)
        assert n_flagged_xx == n_flagged, "hasher changed the flagged set"
        out["spans_xx64_sec"] = round(min(times), 2)
        out["spans_xx64_docs_per_sec"] = round(
            n_total / out["spans_xx64_sec"], 1)

        # --- ANN over deterministic synthetic vectors -------------------
        emb = _synth_embeddings(
            spark, n_docs, dim, f"/tmp/fts_scale_emb_{n_docs}_{dim}")
        qids = list(range(0, n_queries * 7, 7))  # spread across cells
        n_cent = 64

        # exact brute-force top-k once — the recall denominator for every
        # ANN variant below (100 queries × k pairs, driver-tiny)
        from .functions.similarity import cosine_topk
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in cosine_topk(emb, qids, k=10).collect()}

        def _recall(df) -> float:
            got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
            return round(len(got & exact) / len(exact), 3)

        ivf_dir = tempfile.mkdtemp(prefix="fts_bench_ivf_")
        tmp_dirs.append(ivf_dir)
        t0 = time.perf_counter()
        ivf = ivf_build(spark, emb, ivf_dir, n_centroids=n_cent,
                        kmeans_iters=2)
        out["ivf_build_sec"] = round(time.perf_counter() - t0, 2)
        q = queries_from_emb(emb, qids)
        times = []
        for _ in range(search_reps):
            t0 = time.perf_counter()
            n_ivf = ivf_search(ivf, q, k=10, nprobe=8).count()
            times.append(time.perf_counter() - t0)
        out["ivf_search_sec"] = round(min(times), 2)
        out["ivf_search_rows"] = n_ivf
        out["ivf_search_qps"] = round(n_queries / out["ivf_search_sec"], 1)
        out["ivf_recall_at10"] = _recall(ivf_search(ivf, q, k=10, nprobe=8))

        pq_dir = tempfile.mkdtemp(prefix="fts_bench_ivfpq_")
        tmp_dirs.append(pq_dir)
        t0 = time.perf_counter()
        ivfpq = ivfpq_build(spark, emb, pq_dir, n_centroids=n_cent,
                            m=4, ksub=64, kmeans_iters=2, train_iters=2)
        out["ivfpq_build_sec"] = round(time.perf_counter() - t0, 2)
        times = []
        for _ in range(search_reps):
            t0 = time.perf_counter()
            n_ipq = ivfpq_search(ivfpq, emb, qids, k=10, nprobe=8,
                                 shortlist=50).count()
            times.append(time.perf_counter() - t0)
        out["ivfpq_search_sec"] = round(min(times), 2)
        out["ivfpq_search_rows"] = n_ipq
        out["ivfpq_search_qps"] = round(n_queries / out["ivfpq_search_sec"], 1)
        out["ivfpq_recall_at10"] = _recall(
            ivfpq_search(ivfpq, emb, qids, k=10, nprobe=8, shortlist=50))
        # quality operating point: wider probe + shortlist — the recall
        # dial the ADC scan trades against scan fraction
        times = []
        for _ in range(search_reps):
            t0 = time.perf_counter()
            q_res = ivfpq_search(ivfpq, emb, qids, k=10, nprobe=24,
                                 shortlist=300)
            q_res.count()
            times.append(time.perf_counter() - t0)
        out["ivfpq_hq_search_sec"] = round(min(times), 2)
        out["ivfpq_hq_qps"] = round(n_queries / out["ivfpq_hq_search_sec"], 1)
        out["ivfpq_hq_recall_at10"] = _recall(
            ivfpq_search(ivfpq, emb, qids, k=10, nprobe=24, shortlist=300))

        # batch-DataFrame ADC + re-rank over the SAME codes table
        codes = ivfpq.cells_codes.select("vec_id", "codes")
        qdf = queries_df_of(emb, qids)
        times = []
        for _ in range(search_reps):
            t0 = time.perf_counter()
            n_b = pq_search_rerank_batch(codes, emb, qdf, ivfpq.books,
                                         k=10, shortlist=50).count()
            times.append(time.perf_counter() - t0)
        out["pq_batch_rerank_sec"] = round(min(times), 2)
        out["pq_batch_rerank_rows"] = n_b
        out["pq_batch_qps"] = round(n_queries / out["pq_batch_rerank_sec"], 1)
        out["pq_batch_recall_at10"] = _recall(pq_search_rerank_batch(
            codes, emb, qdf, ivfpq.books, k=10, shortlist=50))

        # batch-DataFrame IVFADC: cell-pruned scan + in-kernel probe/LUTs
        from .functions.ivfpq import ivfpq_search_batch
        times = []
        for _ in range(search_reps):
            t0 = time.perf_counter()
            n_ib = ivfpq_search_batch(ivfpq, emb, qdf, k=10, nprobe=8,
                                      shortlist=50).count()
            times.append(time.perf_counter() - t0)
        out["ivfpq_batch_sec"] = round(min(times), 2)
        out["ivfpq_batch_rows"] = n_ib
        out["ivfpq_batch_qps"] = round(n_queries / out["ivfpq_batch_sec"], 1)
        out["ivfpq_batch_recall_at10"] = _recall(ivfpq_search_batch(
            ivfpq, emb, qdf, k=10, nprobe=8, shortlist=50))

        # --- residual IVFADC (FAISS-standard: quantize x_n − c_n) ------
        # the recall fix for the weak non-residual default dial (m=8 +
        # residual encoding at the SAME nprobe/shortlist)
        res_dir = tempfile.mkdtemp(prefix="fts_bench_ivfpqres_")
        tmp_dirs.append(res_dir)
        t0 = time.perf_counter()
        ivfpq_res = ivfpq_build(spark, emb, res_dir, n_centroids=n_cent,
                                m=8, ksub=64, kmeans_iters=2,
                                train_iters=2, residual=True)
        out["ivfpq_res_build_sec"] = round(time.perf_counter() - t0, 2)
        times = []
        for _ in range(search_reps):
            t0 = time.perf_counter()
            n_r = ivfpq_search(ivfpq_res, emb, qids, k=10, nprobe=8,
                               shortlist=50).count()
            times.append(time.perf_counter() - t0)
        out["ivfpq_res_search_sec"] = round(min(times), 2)
        out["ivfpq_res_search_rows"] = n_r
        out["ivfpq_res_qps"] = round(n_queries / out["ivfpq_res_search_sec"], 1)
        out["ivfpq_res_recall_at10"] = _recall(
            ivfpq_search(ivfpq_res, emb, qids, k=10, nprobe=8, shortlist=50))
        times = []
        for _ in range(search_reps):
            t0 = time.perf_counter()
            n_rb = ivfpq_search_batch(ivfpq_res, emb, qdf, k=10, nprobe=8,
                                      shortlist=50).count()
            times.append(time.perf_counter() - t0)
        out["ivfpq_res_batch_sec"] = round(min(times), 2)
        out["ivfpq_res_batch_rows"] = n_rb
        out["ivfpq_res_batch_qps"] = round(
            n_queries / out["ivfpq_res_batch_sec"], 1)
        out["ivfpq_res_batch_recall_at10"] = _recall(ivfpq_search_batch(
            ivfpq_res, emb, qdf, k=10, nprobe=8, shortlist=50))
        # residual at the quality point — the top of the recall ladder
        times = []
        for _ in range(search_reps):
            t0 = time.perf_counter()
            ivfpq_search(ivfpq_res, emb, qids, k=10, nprobe=24,
                         shortlist=300).count()
            times.append(time.perf_counter() - t0)
        out["ivfpq_res_hq_sec"] = round(min(times), 2)
        out["ivfpq_res_hq_qps"] = round(n_queries / out["ivfpq_res_hq_sec"], 1)
        out["ivfpq_res_hq_recall_at10"] = _recall(
            ivfpq_search(ivfpq_res, emb, qids, k=10, nprobe=24,
                         shortlist=300))

        # --- ANN incremental maintenance: O(new) append vs full build,
        # O(touched-cells) delete+compact ------------------------------
        from .functions.ivfpq import ivfpq_append, ivfpq_compact, ivfpq_delete
        new_vecs = emb.limit(10_000).select(
            (F.col("vec_id") + n_docs).alias("vec_id"), "embedding")
        t0 = time.perf_counter()
        ivfpq_append(ivfpq, new_vecs)
        out["ivfpq_append_10k_sec"] = round(time.perf_counter() - t0, 2)
        out["ivfpq_append_vs_build"] = round(
            out["ivfpq_append_10k_sec"] / out["ivfpq_build_sec"], 3)
        t0 = time.perf_counter()
        ivfpq_delete(ivfpq, [int(n_docs + i) for i in range(0, 1000)])
        ivfpq_compact(ivfpq)
        out["ivfpq_delete_compact_sec"] = round(time.perf_counter() - t0, 2)
    finally:
        spark.stop()
        for d in tmp_dirs:
            shutil.rmtree(d, ignore_errors=True)
    return out


def write_pipeline_report(p: dict, path: str = "BENCH/PIPELINE.md") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(f"""# Training-data pipeline bench — dedup + ANN at scale

Regenerate with `python bench.py --pipeline` (local[{p['cpus']}],
{p['n_docs']} docs / {p['n_vecs']} vectors dim={p['dim']},
{p['n_queries']}-query batches, searches min of {p['search_reps']} reps;
same VM-noise caveats as every harness here).

| operator | wall (s) | throughput | recall@10 vs brute force |
|---|---|---|---|
| dedup_apply (LSH→verify→components→keep), {p['dedup_docs']} docs, {p['dedup_dropped']} dropped | {p['dedup_apply_sec']} | {p['dedup_docs_per_sec']} docs/s | — |
| contamination_pairs (3-gram containment ≥0.8, ~{p['n_docs'] // 997} snippet eval items, {p.get('contamination_hits', '—')} hits) | {p.get('contamination_sec', '—')} | {p.get('contamination_docs_per_sec', '—')} docs/s | — |
| repetition_scores (map-only Gopher top-bigram/dup-trigram fold) | {p.get('repetition_sec', '—')} | {p.get('repetition_docs_per_sec', '—')} docs/s | — |
| text_profile (ALL 12 signal columns, one fused map pass) | {p.get('profile_sec', '—')} | {p.get('profile_docs_per_sec', '—')} docs/s | — |
| curate end-to-end (gates + min_by dedup + decontaminate, kept {p.get('curate_kept', '—')}) | {p.get('curate_sec', '—')} | {p.get('curate_docs_per_sec', '—')} docs/s | — |
| dup_span_stats (substring-level span dedup, w=25, {p.get('spans_docs_flagged', '—')} docs flagged) | {p.get('spans_sec', '—')} | {p.get('spans_docs_per_sec', '—')} docs/s | — |
| dup_span_stats with the xxhash64 production hasher (same flagged set) | {p.get('spans_xx64_sec', '—')} | {p.get('spans_xx64_docs_per_sec', '—')} docs/s | — |
| ivf_build (64 cells, 2 kmeans iters) | {p['ivf_build_sec']} | — | — |
| ivf_search (k=10, nprobe=8, {p['n_queries']} queries) | {p['ivf_search_sec']} | {p['ivf_search_qps']} q/s | {p.get('ivf_recall_at10', '—')} |
| ivfpq_build (64 cells, m=4, ksub=64, parallel sub-space fits) | {p['ivfpq_build_sec']} | — | — |
| ivfpq_search (ADC shortlist 50 + exact re-rank) | {p['ivfpq_search_sec']} | {p['ivfpq_search_qps']} q/s | {p.get('ivfpq_recall_at10', '—')} |
| ivfpq_search quality point (nprobe 24, shortlist 300) | {p.get('ivfpq_hq_search_sec', '—')} | {p.get('ivfpq_hq_qps', '—')} q/s | {p.get('ivfpq_hq_recall_at10', '—')} |
| pq_search_rerank_batch (batch-DataFrame ADC path) | {p['pq_batch_rerank_sec']} | {p['pq_batch_qps']} q/s | {p.get('pq_batch_recall_at10', '—')} |
| ivfpq_search_batch (batch-DataFrame IVFADC: pruned cells + in-kernel probe/LUTs) | {p.get('ivfpq_batch_sec', '—')} | {p.get('ivfpq_batch_qps', '—')} q/s | {p.get('ivfpq_batch_recall_at10', '—')} |
| ivfpq_res_build (RESIDUAL x_n−c_n, m=8, ksub=64) | {p.get('ivfpq_res_build_sec', '—')} | — | — |
| ivfpq_res_search (residual ADC, SAME dials: nprobe 8, shortlist 50) | {p.get('ivfpq_res_search_sec', '—')} | {p.get('ivfpq_res_qps', '—')} q/s | {p.get('ivfpq_res_recall_at10', '—')} |
| ivfpq_res_search_batch (residual batch kernel, same dials) | {p.get('ivfpq_res_batch_sec', '—')} | {p.get('ivfpq_res_batch_qps', '—')} q/s | {p.get('ivfpq_res_batch_recall_at10', '—')} |
| ivfpq_res_search quality point (nprobe 24, shortlist 300) | {p.get('ivfpq_res_hq_sec', '—')} | {p.get('ivfpq_res_hq_qps', '—')} q/s | {p.get('ivfpq_res_hq_recall_at10', '—')} |
| ivfpq_append 10k vectors (frozen centroids/books, {p.get('ivfpq_append_vs_build', '—')}× of a full build) | {p.get('ivfpq_append_10k_sec', '—')} | — | — |
| ivfpq_delete 1k + compact (touched-cell rewrite only) | {p.get('ivfpq_delete_compact_sec', '—')} | — | — |

Recall@10 is measured against the exact cosine top-10 of the same
100-query batch. The synthetic vectors are deterministic pseudo-random
(no cluster structure — the WORST case for quantization; real embedding
spaces cluster and recover much higher recall at the same dials). The
dials are explicit and swept in tests/test_pq.py /
test_similarity_dedup.py; nprobe=all / shortlist ≥ corpus snaps every
variant back to rank-identical-with-brute-force (the driver's
hash-matched oracles), and the quality row shows the same index at a
wider probe/shortlist point — recall is a query-time knob, no rebuild.

The residual rows (ivfpq_res_*) are the FAISS-standard fix for the weak
non-residual default dial: codes quantize x_n − c_n (m=8), and at the
IDENTICAL nprobe/shortlist the measured recall@10 rises
{p.get('ivfpq_recall_at10', '—')} → {p.get('ivfpq_res_recall_at10', '—')}
at the default dial and {p.get('ivfpq_hq_recall_at10', '—')} →
{p.get('ivfpq_res_hq_recall_at10', '—')} at the quality point, at
comparable q/s — on this worst-case structureless corpus; clustered
real embeddings gain more because residuals shrink further. The
exactness gates are unchanged (driver row `ann_ivfpq_res`).

The span-dedup row is two bucketed passes over the corpus (gram
aggregate, anchor semi-join) + one per-doc window — never all-pairs;
the {p.get('spans_docs_flagged', '—')} flagged docs are exactly the
salted duplicate pairs (both sides of each exact dup), a built-in
correctness check on the bench itself.

The maintenance rows are fixed-job-latency-bound at this batch size
(a 10k-vector append is ~6 small Spark jobs across two partitioned
datasets — the same regime as the text index's small-bag upsert,
BENCH/MAINTENANCE.md): the work scales with |new| and |touched cells|,
the floor does not, so the ratio improves with batch size exactly as
the text side's did.

Scale shape (why these numbers survive 100 TB): dedup verifies only
LSH-candidate pairs and propagates labels over candidate edges (never
all-pairs); both ANN searches scan only probed `centroid_id` partitions
(parquet partition pruning, PLANS.md) and the batch path broadcasts the
query table once, computing ADC LUTs in-kernel — no per-query driver
work on the scoring path.
""")
