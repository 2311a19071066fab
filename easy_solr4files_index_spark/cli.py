"""spark-submit entrypoints (north_rule: "launched via spark-submit
--py-files on multi-executor clusters").

The reference ships a CLI (`easy-solr4files-index {init,update,delete,
run-service}`, Command.scala:30-56 / CommandLineOptions.scala) plus HTTP
servlets; our operational surface is the same verbs as Spark jobs:

    spark-submit --py-files easy_solr4files_index_spark.zip -m ... \
        cli.py build  --input <docs parquet/iceberg> --index <dir>
    ...             query  --index <dir> --text "spark join" [--k 10]
    ...             delete --index <dir> --repo <repo> [--path-prefix p]
    ...             upsert --index <dir> --input <docs>
    ...             compact --index <dir>
    ...             bench  --input <docs> [--cpus N]

On a real cluster, spark-submit provides the SparkSession (master,
executors, dynamic allocation); `get_spark` only fills in local defaults
when none exists. Everything else — partitioning, salting, lineage,
resume — is inside write_index/wand.search and is cluster-size
independent by construction.

Zip the package for --py-files with:
    python -m zipfile -c easy_solr4files_index_spark.zip easy_solr4files_index_spark
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def _spark(app: str, cpus: int | None) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    from .session import get_spark
    return get_spark(app, cpus=cpus)


def _load_docs_any(spark: SparkSession, path: str):
    """docs-shaped parquet dir, a testdata sf dir, or a saved table name."""
    import os
    if os.path.isdir(path) and os.path.exists(os.path.join(path, "documents.parquet")):
        from .sources.docs_source import load_docs
        return load_docs(spark, path)
    if os.path.exists(path):
        return spark.read.parquet(path)
    return spark.read.table(path)


def cmd_build(args: argparse.Namespace) -> int:
    from .operators.postings import write_index

    spark = _spark("fts-build", args.cpus)
    docs = _load_docs_any(spark, args.input)
    t0 = time.perf_counter()
    report = write_index(spark, docs, args.index, lineage_groups=args.lineage_groups)
    dt = time.perf_counter() - t0
    print(json.dumps({
        "index_dir": report.index_dir, "n_docs": report.n_docs,
        "avgdl": report.avgdl, "fingerprint": report.fingerprint,
        "stages_run": report.stages_run, "stages_skipped": report.stages_skipped,
        "build_sec": round(dt, 2),
        "files_per_sec": round(report.n_docs / dt, 1) if dt > 0 else None,
        # E2 feedback summary (reference package.scala:110-118): docs
        # indexed metadata-only because content contributed no text
        "degraded_docs": report.degraded_docs,
    }))
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    """One scoring pass returns the page AND numFound — the reference's
    envelope always carries `found` (Solr.scala:91-103, api.yml:181)."""
    from .operators.postings import open_index
    from .operators.wand import envelope

    spark = _spark("fts-query", args.cpus)
    idx = open_index(spark, args.index)
    filters = json.loads(args.filters) if args.filters else None
    print(json.dumps(envelope(idx, args.text, k=args.k, skip=args.skip,
                              filters=filters)))
    return 0


def cmd_delete(args: argparse.Namespace) -> int:
    """DURABLE delete on the on-disk physical index (tombstone + df
    deltas + globals update; O(repo), operators/maintenance.py) — the
    reference's delete-by-query verb (EasySolr4filesIndexApp.scala:49,
    CommandLineOptions.scala:39-45). A subsequent `fts query` no longer
    returns the deleted docs."""
    from .operators.maintenance import (delete_path_prefix_physical,
                                        delete_repo_physical)

    spark = _spark("fts-delete", args.cpus)
    if args.path_prefix:
        idx = delete_path_prefix_physical(spark, args.index, args.repo,
                                          args.path_prefix)
    else:
        idx = delete_repo_physical(spark, args.index, args.repo)
    print(json.dumps({"index_dir": args.index, "n_docs_after": idx.n_docs,
                      "avgdl_after": round(idx.avgdl, 6),
                      "tombstone_ranges": len(idx.tombstones)}))
    return 0


def cmd_upsert(args: argparse.Namespace) -> int:
    """Delete-before-insert of every repo present in --input (the
    reference's one-bag update cycle, EasySolr4filesIndexApp.scala:48-51;
    UpdateServlet.scala:59-63) — O(touched repos), not O(corpus)."""
    from .operators.maintenance import upsert_repos_physical

    spark = _spark("fts-upsert", args.cpus)
    docs = _load_docs_any(spark, args.input)
    idx = upsert_repos_physical(spark, args.index, docs)
    print(json.dumps({"index_dir": args.index, "n_docs_after": idx.n_docs,
                      "avgdl_after": round(idx.avgdl, 6)}))
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    """Fold tombstones/deltas into the base files (Solr optimize analog)."""
    from .operators.maintenance import compact_index

    spark = _spark("fts-compact", args.cpus)
    idx = compact_index(spark, args.index)
    print(json.dumps({"index_dir": args.index, "n_docs": idx.n_docs,
                      "tombstone_ranges": len(idx.tombstones)}))
    return 0


def _docs_input(spark, path: str):
    """Resolve --input: a documents parquet file/dir, an sf testdata
    dir (containing documents.parquet), or a catalog table name."""
    import os

    if os.path.isdir(path) and os.path.exists(
            os.path.join(path, "documents.parquet")):
        path = os.path.join(path, "documents.parquet")
    return (spark.read.parquet(path) if os.path.exists(path)
            else spark.read.table(path))


def cmd_curate(args: argparse.Namespace) -> int:
    """Training-corpus curation over a raw documents table: quality /
    length / repetition / language gates (one map pass), exact dedup
    (deterministic min-doc_id winner), optional substring-span gate,
    optional benchmark decontamination; writes the curated corpus as
    parquet and prints a JSON report of what survived."""
    from .functions.curation import CurationConfig, curate

    spark = _spark("fts-curate", args.cpus)
    docs = _docs_input(spark, args.input)
    cfg = CurationConfig(
        min_quality=args.min_quality, min_tokens=args.min_tokens,
        max_top_bigram=args.max_top_bigram,
        max_dup_trigram=args.max_dup_trigram,
        langs=tuple(args.langs.split(",")) if args.langs else None,
        exact_dedup=not args.no_exact_dedup,
        contamination_n=args.contamination_n,
        contamination_threshold=args.contamination_threshold,
        max_dup_span_fraction=args.max_dup_span_fraction,
        span_w=args.span_w)
    bench = spark.read.parquet(args.bench) if args.bench else None
    n_in = docs.count()
    t0 = time.perf_counter()
    kept = curate(docs, cfg, bench=bench)
    kept.write.mode("overwrite").parquet(args.output)
    dt = time.perf_counter() - t0
    n_kept = spark.read.parquet(args.output).count()
    print(json.dumps({
        "output": args.output, "n_in": n_in, "n_kept": n_kept,
        "n_dropped": n_in - n_kept, "curate_sec": round(dt, 2),
        "docs_per_sec": round(n_in / dt, 1) if dt > 0 else None,
    }))
    return 0


def cmd_spans(args: argparse.Namespace) -> int:
    """Substring-level span dedup (functions/spans.py, Lee et al. 2022):
    write per-doc duplicated-span stats, or (--strip) the corpus with
    every duplicated span removed; prints a JSON report."""
    from pyspark.sql import functions as F

    from .functions.spans import dup_span_stats, strip_dup_spans

    spark = _spark("fts-spans", args.cpus)
    docs = _docs_input(spark, args.input)
    n_in = docs.count()
    t0 = time.perf_counter()
    if args.strip:
        out_df = strip_dup_spans(docs, w=args.w, min_count=args.min_count,
                                 cross_doc=args.cross_doc,
                                 hasher=args.hasher)
    else:
        out_df = dup_span_stats(docs, w=args.w, min_count=args.min_count,
                                cross_doc=args.cross_doc,
                                hasher=args.hasher)
    out_df.write.mode("overwrite").parquet(args.output)
    dt = time.perf_counter() - t0
    report = {"output": args.output, "mode": "strip" if args.strip else "stats",
              "n_docs": n_in, "w": args.w, "spans_sec": round(dt, 2),
              "docs_per_sec": round(n_in / dt, 1) if dt > 0 else None}
    if not args.strip:
        st = spark.read.parquet(args.output)
        report["docs_flagged"] = st.filter(F.col("n_spans") > 0).count()
        report["dup_tokens"] = int(
            st.agg(F.sum("dup_tokens")).first()[0] or 0)
    print(json.dumps(report))
    return 0


def cmd_bench(args: argparse.Namespace) -> int:
    # packaged module — works from a --py-files zip with no repo checkout
    from .benchmark import run_suite
    print(json.dumps(run_suite(args.input, args.cpus or 32)))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="fts", description=__doc__)
    p.add_argument("--cpus", type=int, default=None,
                   help="local[N] when no session exists (spark-submit provides one)")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build/resume the physical index")
    b.add_argument("--input", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--lineage-groups", type=int, default=4)
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query", help="top-k BM25 over a built index")
    q.add_argument("--index", required=True)
    q.add_argument("--text", default=None)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--skip", type=int, default=0)
    q.add_argument("--filters", default=None, help='JSON, e.g. {"lang": ["java"]}')
    q.set_defaults(fn=cmd_query)

    d = sub.add_parser("delete", help="durable delete by repo / path prefix on a built index")
    d.add_argument("--index", required=True)
    d.add_argument("--repo", required=True)
    d.add_argument("--path-prefix", default=None)
    d.set_defaults(fn=cmd_delete)

    u = sub.add_parser("upsert", help="delete-before-insert the repos in --input")
    u.add_argument("--index", required=True)
    u.add_argument("--input", required=True)
    u.set_defaults(fn=cmd_upsert)

    c = sub.add_parser("compact", help="fold tombstones/deltas into the base index")
    c.add_argument("--index", required=True)
    c.set_defaults(fn=cmd_compact)

    cu = sub.add_parser(
        "curate", help="training-corpus curation: gates + exact dedup + "
        "decontamination; writes curated parquet")
    cu.add_argument("--input", required=True,
                    help="raw documents parquet (doc_id, text, ...) / sf dir / table")
    cu.add_argument("--output", required=True)
    cu.add_argument("--min-quality", type=float, default=None)
    cu.add_argument("--min-tokens", type=int, default=None)
    cu.add_argument("--max-top-bigram", type=float, default=None)
    cu.add_argument("--max-dup-trigram", type=float, default=None)
    cu.add_argument("--langs", default=None,
                    help="comma list of predicted languages to keep")
    cu.add_argument("--no-exact-dedup", action="store_true")
    cu.add_argument("--bench", default=None,
                    help="parquet of (bench_id, text) eval items to screen against")
    cu.add_argument("--contamination-n", type=int, default=3)
    cu.add_argument("--contamination-threshold", type=float, default=0.5)
    cu.add_argument("--max-dup-span-fraction", type=float, default=None,
                    help="drop docs whose duplicated-span token fraction "
                         "exceeds this (substring-level dedup gate)")
    cu.add_argument("--span-w", type=int, default=15)
    cu.set_defaults(fn=cmd_curate)

    sp = sub.add_parser(
        "spans", help="substring-level span dedup: per-doc duplicated-"
        "span stats, or --strip to remove every duplicated span")
    sp.add_argument("--input", required=True,
                    help="raw documents parquet (doc_id, text, ...) / sf dir / table")
    sp.add_argument("--output", required=True)
    sp.add_argument("--w", type=int, default=15, help="gram width (tokens)")
    sp.add_argument("--min-count", type=int, default=2)
    sp.add_argument("--cross-doc", action="store_true",
                    help="require grams in >= 2 distinct docs (ignore "
                         "within-doc repetition)")
    sp.add_argument("--strip", action="store_true")
    sp.add_argument("--hasher", choices=["md5", "xx64"], default="xx64",
                    help="gram hash (xx64 = Spark-native production dial)")
    sp.set_defaults(fn=cmd_spans)

    be = sub.add_parser("bench", help="run the benchmark suite")
    be.add_argument("--input", default="/root/testdata/sf0.1")
    be.set_defaults(fn=cmd_bench)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
