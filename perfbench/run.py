"""Benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Everything the run writes (corpus, index,
Spark scratch, event log) lives under ``.bench_work/`` in that checkout and
is removed at the end. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is the run context (commit, seed, versions, host calibration,
sample counts).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import threading
import time
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("search", "maintain"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt-pages", type=int, default=0,
                   help="alter this many returned pages before the oracle check "
                        "(shows that a wrong page counts as a failed operation)")
    return p.parse_args(argv)


def prepare_env(work: Path, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, put
    the engine on the Python workers' path, and enable the event log for
    the traced run. Must run before the Spark JVM starts."""
    for sub in ("tmp", "spark-local", "events", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    args = [f"--driver-java-options -Djava.io.tmpdir={work / 'tmp'}",
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'}"]
    if trace:
        args += ["--conf spark.eventLog.enabled=true",
                 "--conf spark.eventLog.rolling.enabled=false",
                 "--conf spark.eventLog.compress=false",
                 f"--conf spark.eventLog.dir=file://{work / 'events'}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def end_to_end(run, wl, rss_mb: float) -> dict:
    from workload import hd_median
    lat = run.lat
    return {
        "setup_s": (median(lat["setup"]), "s"),
        "build_files_per_s": (wl.n_docs / median(lat["build"]), "1/s"),
        "index_bytes_per_doc": (run.index_bytes / wl.n_docs, "bytes"),
        "query_p50_s": (hd_median(lat["query"]), "s"),
        "qps_c4": (median(lat["qps_c4"]), "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(run, events: list[dict]) -> dict:
    from spark_trace import job_stats_by_span
    from workload import FAMILIES, hd_median

    tr = run.tracer
    out = {k: (v, unit_of(k)) for k, v in run.layer.items()}
    out["postings.open_index_s"] = (median(run.lat["open_index"]), "s")
    for fam in FAMILIES:
        for part in ("call", "collect"):
            out[f"wand.{fam}.{part}_s"] = (median(tr.seconds(f"wand.{fam}.{part}") or [0.0]), "s")

    roots = [s for s in tr.roots() if s.name.startswith("op:")]
    stats = job_stats_by_span(events, roots)
    by_op: dict[str, list] = {}
    for s in roots:
        by_op.setdefault(s.name[3:], []).append(stats[id(s)])
    for op in ("build", *FAMILIES, "upsert", "delete", "stream_upsert", "compact"):
        per = by_op.get(op, [])
        for field, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                            ("task_s", "s"), ("input_bytes", "bytes"),
                            ("shuffle_bytes", "bytes")):
            vals = [getattr(st, field) for st in per]
            out[f"spark.{op}.{field}"] = (median(vals) if vals else 0, unit)
    out["spark.build.task_skew"] = (by_op["build"][0].worst_stage_skew, "ratio")
    c4 = by_op["c4"][0]
    out["spark.search.task_wait_s"] = (c4.task_wait_s / max(1, c4.jobs), "s")

    lat = run.lat
    # index writes run in the maintain workload only; elsewhere their
    # figures read 0
    for op in ("upsert", "delete", "stream_upsert", "compact"):
        out[f"maintenance.{op}_s"] = (median(lat.get(op, [0.0])), "s")
    for op in ("upsert", "delete", "compact"):
        out[f"maintenance.{op}.bytes_written"] = (
            median(lat.get(f"{op}.bytes_written", [0])), "bytes")
    amps = [w / c for w, c in zip(lat.get("upsert.bytes_written", []),
                                  lat.get("upsert.content_bytes", []))]
    out["maintenance.write_amp"] = (median(amps) if amps else 0.0, "ratio")
    out.setdefault("maintenance.tombstoned_frac", (0.0, "ratio"))
    # the traced run's query p50: its excess over an untraced run's
    # query_p50_s is the tracing overhead; the probe tells how fast the
    # host was meanwhile
    out["trace.query_p50_s"] = (hd_median(lat["query"]), "s")
    out["trace.cpu_probe_s"] = (min(lat["cpu_probe"]), "s")
    return out


def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.startswith("postings.bytes."):
        return "bytes"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import easy_solr4files_index_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    prepare_env(work, bool(args.trace))

    import host
    from easy_solr4files_index_spark.session import get_spark
    from spark_trace import Tracer, read_event_log
    from workload import WORKLOADS, Run

    wl = WORKLOADS[args.workload]
    nproc = os.cpu_count() or 1
    t0, jiffies0 = time.perf_counter(), host.cpu_jiffies()
    calib = {"cpu_probe_s": host.cpu_probe(), "mem_copy_gb_s": host.mem_copy_gb_s()}
    run = Run(work, wl, args.seed, args.seconds, Tracer(bool(args.trace)),
              corrupt=args.corrupt_pages)
    # the JVM starts while this process generates the corpus and tokenizes
    # it for the oracle
    started: dict = {}

    def start() -> None:
        try:
            started["spark"] = get_spark("perfbench", cpus=nproc)
        except Exception as e:  # re-raised on the main thread below
            started["error"] = e

    starter = threading.Thread(target=start)
    starter.start()
    try:
        run.timed(run.make_corpus)
    finally:
        t = time.perf_counter()
        starter.join()
        run.step_s["jvm_wait"] = round(time.perf_counter() - t, 2)
    if "error" in started:
        raise started["error"]
    spark = run.spark = started["spark"]
    spark.sparkContext.setLogLevel("ERROR")
    # the oracle holds every document's tokens: keep the cyclic collector
    # from rescanning them while queries are timed
    gc.freeze()
    try:
        try:
            run.run()
            rss_mb = host.tree_peak_rss_mb()
        finally:
            t = time.perf_counter()
            stop_spark(spark)
            run.step_s["stop"] = round(time.perf_counter() - t, 2)
        if args.trace:
            metrics = per_layer(run, read_event_log(str(work / "events")))
        else:
            metrics = end_to_end(run, wl, rss_mb)
    finally:
        run.cleanup()

    context = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": host.source_digest(ROOT), "nproc": nproc,
        "master": f"local[{nproc}]", "clients": 4, "n_docs": wl.n_docs,
        "bucket_span": wl.bucket_span, "corpus_bytes": run.corpus_bytes,
        "versions": host.versions(), "calibration": calib,
        "samples": {k: len(v) for k, v in sorted(run.lat.items())},
        "cpu_probes_s": run.lat["cpu_probe"],
        "cpu_steal_frac": host.steal_frac(jiffies0, host.cpu_jiffies()),
        "failed_ops_frac": run.failed / max(1, run.attempted),
        "step_s": run.step_s, "family_s": run.family_s, "failures": run.failures, "wall_s": round(time.perf_counter() - t0, 1),
    }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
