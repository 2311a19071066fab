"""Per-stage build-scaling profiler: run the SAME physical index build at
two pinned core counts and print the per-stage wall-clock
(BuildReport.stage_sec) so non-scaling (Amdahl) stages are visible.

Usage:
    python tools/profile_scaling.py gen <n_docs>      # materialize corpus
    python tools/profile_scaling.py run <cpus>        # one pinned build
(the caller wraps `run` in taskset -c 0..cpus-1)
"""
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    mode = sys.argv[1]
    if mode == "gen":
        n = int(sys.argv[2])
        path = f"/tmp/fts_scale_corpus_v2_{n}"
        from easy_solr4files_index_spark.session import get_spark
        from easy_solr4files_index_spark.sources.scale_corpus import materialize_scale_corpus
        spark = get_spark("prof-gen", cpus=16)
        spark.sparkContext.setLogLevel("ERROR")
        materialize_scale_corpus(spark, n, path)
        spark.stop()
        print(path)
        return

    cpus = int(sys.argv[2])
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 200000
    corpus = f"/tmp/fts_scale_corpus_v2_{n}"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    from easy_solr4files_index_spark.session import get_spark
    from easy_solr4files_index_spark.operators.postings import write_index

    spark = get_spark("prof-scale", cpus=cpus, shuffle_partitions=cpus * 4)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(corpus)

    warm = tempfile.mkdtemp(prefix="fts_prof_warm_")
    write_index(spark, docs.limit(2000), warm, lineage_groups=1)
    shutil.rmtree(warm, ignore_errors=True)
    print(f"=== warm done, timed build at cpus={cpus} n={n} ===", file=sys.stderr, flush=True)

    idx = tempfile.mkdtemp(prefix="fts_prof_idx_")
    try:
        t0 = time.perf_counter()
        report = write_index(spark, docs, idx, lineage_groups=1)
        for stage, sec in report.stage_sec.items():
            print(f"[write_index] {stage:24s} {sec:7.2f}s", file=sys.stderr, flush=True)
        print(f"TOTAL build_sec={time.perf_counter() - t0:.2f} cpus={cpus}", file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(idx, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
