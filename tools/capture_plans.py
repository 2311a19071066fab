"""Regenerate PLANS.md: formatted physical plans proving pushdown /
pruning / broadcast shapes for the headline operators.

    python tools/capture_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def scoring_pass(idx, text, k, filters=None):
    """The one plan ``search`` collects for a scored query (its page is
    then finished on the driver): the bucket-local top-k kernel for plain
    OR, the boolean combiner's top k otherwise."""
    from easy_solr4files_index_spark.operators import wand

    q = wand._prepare(idx, text, k, 0, filters, None, None)
    if q.kind == "bool":
        return wand._top(wand._score_boolean_physical(idx, q.clauses,
                                                      q.fq_ids), k)
    return wand._bucket_topk(idx, q, wand._idf_map_cached(idx, q.terms), k)


def main() -> None:
    from pyspark.sql import functions as F

    from easy_solr4files_index_spark.operators.postings import open_index, write_index
    from easy_solr4files_index_spark.operators.wand import search
    from easy_solr4files_index_spark.functions.similarity import ivf_topk
    from easy_solr4files_index_spark.session import get_spark
    from easy_solr4files_index_spark.sources.docs_source import load_docs

    spark = get_spark("plans", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp(prefix="planidx_")
    write_index(spark, load_docs(spark, "/root/testdata/sf0.001"), d,
                lineage_groups=1)
    idx = open_index(spark, d)

    sections = []

    sections.append((
        "Top-k BM25 over the physical index",
        "The scoring pass `search(idx, 'spark join', k=5)` collects — the "
        "one-pass bucket-local top-k of a plain OR query.\n"
        "Look for: `PartitionFilters` with `tbucket` (term-bucket partition "
        "pruning) and `PushedFilters: In(term, ...)` (parquet row-group "
        "pruning) on the postings scan, and NO termstats scan or join — idf "
        "is a literal `CASE` column from the reader's memoized idf map "
        "(df read by term with Arrow on the driver); ONE "
        "`Exchange hashpartitioning(bucket)` (the `repartition(\"bucket\")`) "
        "feeding ONE `MapInPandas` (the top-k kernel: decode, tombstone "
        "mask, per-doc sum and local top `k+skip` in one pass, each "
        "partition's match count beside its winners — no `HashAggregate` "
        "over doc_id); and nothing above it: no `TakeOrderedAndProject`, "
        "no `BroadcastExchange`, no docs_store scan. The winners are "
        "collected once and the driver cuts the page and reads their "
        "stored fields by doc_id with Arrow.",
        fmt(scoring_pass(idx, "spark join", 5)),
    ))

    sections.append((
        "The returned page",
        "`search(idx, 'spark join', k=5).page` — the page itself.\n"
        "Look for: a lone `LocalTableScan` of the k rows with stored "
        "fields: the page was finished on the driver, so collecting it "
        "runs no Spark job.",
        fmt(search(idx, "spark join", k=5).page),
    ))

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sections.append((
        "IVF-pruned ANN top-k (inline assignment)",
        "`ivf_topk(emb, [0,1,2], k=5, n_centroids=8, nprobe=2)`.\n"
        "Look for: the probe set (queries × nprobe cells) built from "
        "broadcast centroids, then `BroadcastHashJoin` of the corpus "
        "assignment against the probe cells on `centroid_id` — the cell "
        "restriction that becomes partition pruning when the corpus is "
        "stored partitioned by centroid_id (next section). No shuffle of "
        "the corpus: the only exchanges are broadcasts and the final "
        "per-query rank.",
        fmt(ivf_topk(emb, [0, 1, 2], k=5, n_centroids=8, nprobe=2)),
    ))

    from easy_solr4files_index_spark.functions import ivf as ivfmod
    ivf_dir = tempfile.mkdtemp(prefix="planivf_")
    ivf_idx = ivfmod.ivf_build(spark, emb, ivf_dir, n_centroids=8)
    q = ivfmod.queries_from_emb(emb, [0])
    sections.append((
        "Materialized IVF ANN query (round-3: the at-rest layout)",
        "`ivf_search(ivf_open(dir), q, k=5, nprobe=2)` over a corpus "
        "written ONCE partitioned by centroid_id (`ivf_build`).\n"
        "Look for: `PartitionFilters: [centroid_id IN (...)]` on the "
        "cells scan — the query reads ONLY the probed cell directories "
        "(nprobe × queries of them, independent of corpus size), exactly "
        "like the text index's `tbucket IN (...)` term-bucket pruning. "
        "The assignment crossJoin from the previous section is GONE from "
        "the query path — it ran once at build.",
        fmt(ivfmod.ivf_search(ivf_idx, q, k=5, nprobe=2)),
    ))

    from easy_solr4files_index_spark.functions import ivfpq as ivfpqmod
    ivfpq_dir = tempfile.mkdtemp(prefix="planivfpq_")
    ivfpq_idx = ivfpqmod.ivfpq_build(spark, emb, ivfpq_dir,
                                     n_centroids=8, m=4, ksub=16)
    sections.append((
        "IVF+PQ composed ANN query (round-3: compressed pruned scan)",
        "`ivfpq_search(idx, emb, [0], k=5, nprobe=2, shortlist=20)` over "
        "the cells_codes table (PQ codes partitioned by centroid_id, "
        "`ivfpq_build`).\n"
        "Look for: `PartitionFilters: [centroid_id IN (...)]` on the "
        "cells_codes scan whose data columns are just (vec_id, codes) — "
        "the pruned scan reads m smallints per vector, not the raw "
        "embedding; the ADC kernel (`MapInPandas`) emits only "
        "per-partition shortlists; raw vectors appear ONLY in the "
        "re-rank join fed by the shortlist (pushed-id fetch).",
        fmt(ivfpqmod.ivfpq_search(ivfpq_idx, emb, [0], k=5, nprobe=2,
                                  shortlist=20)),
    ))

    sections.append((
        "Filter query applied INSIDE the scoring kernel",
        "The scoring pass of "
        "`search(idx, 'parse merge', k=5, filters={lang:[java]})`.\n"
        "Look for: the fq's docs_store scan (`lang` pushed as a parquet "
        "filter) projected to empty block rows keyed by "
        "`bucket = doc_id DIV bucket_span` and `Union`ed with the pruned "
        "postings blocks, both under the same `Exchange "
        "hashpartitioning(bucket)` into the one `MapInPandas` kernel, which "
        "masks the decoded postings by the fq ids — scores are never summed "
        "for docs the fq excludes, and the fq adds no join and no second "
        "exchange. The page is finished on the driver as above.",
        fmt(scoring_pass(idx, "parse merge", 5, {"lang": ["java"]})),
    ))

    sections.append((
        "Boolean/phrase dismax query over the physical index (round-3)",
        "The scoring pass of "
        "`search(idx, '+\\\"spark join\\\" merge -parse', k=5)` — "
        "required phrase + optional term + prohibited term.\n"
        "Look for: the positions/ scan pruned by `PartitionFilters` on "
        "`tbucket` and `PushedFilters: In(term, ...)` (the phrase reads "
        "only its own terms' partition dirs — Lucene .prx analog, same "
        "layout discipline as the postings scan above it); NO broadcast "
        "exchanges for query-sized metadata — per-term idf and the "
        "clause tag map are literal CASE projections (idf from the "
        "driver's Arrow df read; ≤|query terms| rows at any corpus "
        "size), and the phrase Σidf is a literal multiplier; the phrase "
        "tf computed as a Catalyst array expression (no Python in that "
        "branch), each phrase clause grouping its own positions in an "
        "`ObjectHashAggregate` → `Exchange` → `ObjectHashAggregate` "
        "below the union, so every phrase clause adds one shuffle; then "
        "ONE `HashAggregate(keys=[doc_id])` computing the score and the "
        "MUST/MUST_NOT match predicate together (a plain count over the "
        "unique-by-construction (doc_id, cid) rows — no count_distinct "
        "double-aggregate) and a `TakeOrderedAndProject` of the top k, "
        "the rows the driver collects to finish the page.",
        fmt(scoring_pass(idx, '+"spark join" merge -parse', 5)),
    ))

    from easy_solr4files_index_spark.operators.docids import assign_doc_ids
    from easy_solr4files_index_spark.operators.index_build import (
        IndexConfig, enrich_docs)
    from easy_solr4files_index_spark.operators.postings import positions_rows
    enriched = enrich_docs(assign_doc_ids(load_docs(spark, "/root/testdata/sf0.001")),
                           IndexConfig())
    sections.append((
        "Build-side positions dataset — zero-shuffle map kernel (round-3)",
        "`positions_rows(enriched, term_buckets)` — the plan the physical "
        "build writes `positions/` (and derives postings tf) from.\n"
        "Look for: NO `Exchange` anywhere — the per-doc term→positions "
        "grouping runs inside `MapInPandas` (a factorize+lexsort numpy "
        "kernel, postings.py:_positions_kernel), and `tbucket` is a "
        "Catalyst `xxhash64` projection on top. The posexplode + "
        "collect_list formulation this replaced shuffled one row per "
        "TOKEN (~dl × n_docs rows); this shuffles nothing — at 10^12 "
        "docs the token stream never leaves the mapper.",
        fmt(positions_rows(enriched, 32)),
    ))

    from easy_solr4files_index_spark.functions import contamination as contam
    from easy_solr4files_index_spark.functions import textstats
    raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = contam.snippet_bench(raw, modulus=83, k_tokens=15)
    sections.append((
        "Benchmark-contamination detection (round-4)",
        "`contamination_pairs(docs, snippet_bench(docs), n=3, "
        "threshold=0.5, exclude_self=False)`.\n"
        "Look for: the bench side's n-gram explode feeding "
        "`BroadcastExchange` → `BroadcastHashJoin [sh]` — the corpus-side "
        "shingle stream joins map-side with NO corpus shuffle; the only "
        "`Exchange hashpartitioning` in the plan keys the "
        "(doc_id, bench_id) match-count `HashAggregate` (partial agg "
        "above it combines map-side), bounded by docs-sharing-a-shingle, "
        "never corpus size. bench_total joins back as a second broadcast.",
        fmt(contam.contamination_pairs(raw, bench, n=3, threshold=0.5,
                                       exclude_self=False)),
    ))

    from easy_solr4files_index_spark.functions.curation import (
        CurationConfig, curate)
    sections.append((
        "Curation gate + min_by dedup (round-4)",
        "`curate(docs, CurationConfig(min_quality=.5, min_tokens=5, "
        "max_top_bigram=.5, langs=('en',)))`.\n"
        "Look for: in the `Filter`, the tokenizer chain "
        "(`regexp_replace`/`split`/`filter`) appears EXACTLY ONCE — inside "
        "`transform(array(...), lambdafunction(...))` — with every gate "
        "term reading the bound `lambda` variable (the naive "
        "withColumn+filter formulation lets filter-through-project "
        "pushdown inline the chain into all ~10 references; SURVEY.md "
        "§10.3). Above it, ONE `HashAggregate(keys=[_h], min_by(...))` "
        "(partial_min_by below the exchange = map-side-combined winner "
        "selection), and NO other Exchange.",
        fmt(curate(raw, CurationConfig(min_quality=0.5, min_tokens=5,
                                       max_top_bigram=0.5, langs=("en",)))),
    ))

    sections.append((
        "Repetition quality signals — map-only (round-4)",
        "`repetition_scores(docs)` (Gopher top-bigram / dup-trigram "
        "fractions).\n"
        "Look for: NO `Exchange` anywhere and a single `Project` over the "
        "parquet scan inside `WholeStageCodegen` — the most-frequent-"
        "bigram count is an `aggregate()` fold over the SORTED per-row "
        "gram array (equal grams adjacent ⇒ top frequency == longest "
        "equal-run), so the operator never explodes grams into rows; at "
        "any corpus size it pipelines inside the scan.",
        fmt(textstats.repetition_scores(raw)),
    ))

    delta = (idx.postings
             .filter((F.col("bucket") >= 0) & (F.col("bucket") <= 0))
             .select("term", "tbucket", "n", "doc_ids"))
    sections.append((
        "Incremental delete: affected-bucket scan",
        "`delete_repo_physical` reads ONLY the deleted repo's doc-range "
        "buckets to compute df deltas. Look for: "
        "`PushedFilters: [GreaterThanOrEqual(bucket,..), LessThanOrEqual(bucket,..)]` "
        "— parquet row-group stats skip every other bucket's blocks; "
        "column pruning to (term, tbucket, n, doc_ids) — tfs/dls/"
        "max_tfnorm are never read.",
        fmt(delta),
    ))

    out = ["# Physical plans — evidence of pruning/pushdown\n"]
    out.append("Regenerate with `python tools/capture_plans.py` "
               "(sf0.001 testdata).\n")
    for title, blurb, plan in sections:
        out.append(f"\n## {title}\n\n{blurb}\n\n```\n{plan.rstrip()}\n```\n")
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo_root, "PLANS.md"), "w") as fh:
        fh.write("".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
