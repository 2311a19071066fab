"""The benchmark's workloads: a seeded code corpus, a seeded query stream,
and the closed-loop phases that drive the engine through its public
functions only.

Every run generates its corpus, builds one index, opens it, runs four
concurrent clients, and then times rounds of the eight query families
with one client. The first queries after a build run about a third
slower while the JVM compiles the query paths, by how much depending on
the host's load at that moment; so each client's first query is untimed,
and the single-client rounds follow the four clients' queries. The
workloads differ in index shape and in what they do besides:

* ``search``: a small ``bucket_span`` gives the index enough doc-range
  buckets for the k=10 OR families to take the block-max pruned plan (UB
  job, phase A, phase B), while ``page`` and ``bool`` take the one-job
  exhaustive and boolean plans. Queries only.
* ``maintain``: the default span gives one bucket, so only the
  exhaustive plan runs. It churns the index (one-repo upsert, one-repo
  delete), runs both query phases on the tombstoned index, streams one
  more upsert batch, compacts, and checks a query on the compacted
  index.

Every returned page is checked against the oracle for the documents live
at that moment; the check runs outside the timed regions.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time
from collections import Counter
from dataclasses import dataclass
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from easy_solr4files_index_spark.functions.codec import decode_postings, encode_postings
from easy_solr4files_index_spark.operators.dismax import parse_dismax
from easy_solr4files_index_spark.operators.docids import assign_doc_ids
from easy_solr4files_index_spark.operators.index_build import IndexConfig, tokens_df
from easy_solr4files_index_spark.operators.maintenance import (
    compact_index, delete_repo_physical, upsert_repos_physical)
from easy_solr4files_index_spark.operators.postings import open_index, write_index
from easy_solr4files_index_spark.operators.wand import search_blockmax
from easy_solr4files_index_spark.sources.scale_corpus import generate_scale_corpus
from easy_solr4files_index_spark.streaming.ingest import stream_upsert

from host import cpu_probe
from oracle_pages import LiveOracle, page_mismatch
from spark_trace import Tracer

FAMILIES = ("hot1", "tail2", "or3", "fq", "phrase", "bool", "page", "all")
CLIENTS = 4
# ranks, by frequency in the sampled documents, of the phrase pairs drawn
PHRASE_RANKS = slice(256, 512)
SETUP_REPS = 3
# the file count Spark's own write of the generated corpus would produce
CORPUS_FILES = 8
# partition dirs per dataset, sized to this corpus (IndexConfig defaults to 32)
TERM_BUCKETS = 2


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    bucket_span: int
    # shares of --seconds given to the serial and 4-client query phases;
    # each runs its smallest unit (one round of the families) at least
    serial: float
    concurrent: float
    # upsert/delete cycles for the rest of --seconds (at least one) before
    # the query phases, and one stream_upsert batch and a compact_index
    # after them
    writes: bool


WORKLOADS = {
    # 4000 / 16 = 250 buckets, past the pruned plan's cutover for k=10
    # (4 x P, P = 40 for k + skip = 10; wand._PRUNE_MIN_BUCKET_FACTOR)
    "search": Workload("search", n_docs=4000, bucket_span=16, serial=0.6,
                       concurrent=0.4, writes=False),
    "maintain": Workload("maintain", n_docs=3000,
                         bucket_span=IndexConfig().bucket_span, serial=0.2,
                         concurrent=0.4, writes=True),
}


@dataclass(frozen=True)
class Query:
    family: str
    text: str | None
    k: int = 10
    skip: int = 0
    filters: dict | None = None
    boolean: bool = False

    def filters_key(self) -> tuple:
        return tuple(sorted((k, tuple(v)) for k, v in (self.filters or {}).items()))


def query_stream(rng: random.Random, term_df: dict[str, int], n_docs: int,
                 toks: list[list[str]], langs: list[str], repos: list[str],
                 count: int) -> list[Query]:
    """``count`` queries cycling through FAMILIES; terms are drawn by df rank
    from the index's own termstats. Each family draws the same shape of
    query every time (which df classes, which filter), so a family's cost
    varies little from seed to seed: a run times one query per family."""
    ranked = sorted(term_df.items(), key=lambda kv: (-kv[1], kv[0]))
    hot = [t for t, d in ranked if d > n_docs / 2]
    tail = [t for t, d in ranked if d <= max(2, n_docs // 100)]
    edge = set(hot) | set(tail)
    mid = [t for t, _ in ranked if t not in edge] or hot
    # phrases are adjacent pairs of hot terms from the sampled documents,
    # from one band of pair frequency (about a tenth of the documents hold
    # each), so their cost does not swing with how many documents a seed's
    # pair happens to match
    hots = set(hot)
    pair_n = Counter((a, b) for doc in toks for a, b in zip(doc, doc[1:])
                     if a in hots and b in hots)
    pairs = sorted(pair_n, key=lambda p: (-pair_n[p], p))[PHRASE_RANKS]
    out = []
    for i in range(count):
        fam = FAMILIES[i % len(FAMILIES)]
        if fam == "hot1":
            q = Query(fam, rng.choice(hot[:16]))
        elif fam == "tail2":
            q = Query(fam, " ".join(rng.sample(tail, 2)))
        elif fam == "or3":
            q = Query(fam, " ".join(rng.sample(hot, 2) + [rng.choice(mid)]))
        elif fam == "fq":
            q = Query(fam, " ".join(rng.sample(hot, 2)),
                      filters={"repo": rng.sample(repos, 4)})
        elif fam == "phrase":
            q = Query(fam, '"{} {}"'.format(*rng.choice(pairs)), boolean=True)
        elif fam == "bool":
            a, c = rng.sample(hot, 2)
            q = Query(fam, f"+{a} -{rng.choice(mid)} {c}", boolean=True)
        elif fam == "page":
            q = Query(fam, " ".join(rng.sample(hot, 2)), skip=40)
        else:
            q = Query(fam, None, filters={"lang": [rng.choice(langs)]})
        out.append(q)
    return out


def page(idx, q: Query) -> list[dict]:
    """One untraced query: its result page, scores unrounded."""
    df = search_blockmax(idx, q.text, k=q.k, skip=q.skip, filters=q.filters,
                         round_score=None)
    return [r.asDict() for r in df.collect()]


class _GeneratorCapture:
    """Stands in for the SparkSession ``generate_scale_corpus`` takes, and
    keeps the per-batch generator function it builds."""

    sparkContext = SimpleNamespace(defaultParallelism=1)

    def range(self, *_args):
        return self

    def mapInPandas(self, fn, _schema):
        self.fn = fn
        return self


def generate_in_process(n_docs: int, seed: int) -> pa.Table:
    """The ``generate_scale_corpus`` corpus, made by its own generator in
    this process instead of a Spark job. Every row is a pure function of
    (doc id, seed), so the table equals what Spark would write."""
    cap = _GeneratorCapture()
    generate_scale_corpus(cap, n_docs, seed)
    ids = pd.DataFrame({"id": np.arange(n_docs, dtype=np.int64)})
    return pa.Table.from_pandas(pd.concat(cap.fn(iter([ids]))), preserve_index=False)


def rewrite_content(rows: list[dict]) -> list[dict]:
    """A new version of a repo's files: same keys, different text (every
    other word, then the first quarter again), so tf, dl and df change."""
    out = []
    for r in rows:
        w = r["content"].split()
        out.append({**r, "content": " ".join(w[1::2] + w[: len(w) // 4])})
    return out


def _file_sizes(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    return sum(_file_sizes(path).values())


def bytes_written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files an operation created or rewrote."""
    return sum(s for p, s in after.items() if before.get(p) != s)


class Run:
    """One benchmark run: its Spark session, work directory, oracle and the
    samples it records."""

    def __init__(self, work: Path, wl: Workload, seed: int, seconds: float,
                 tracer: Tracer, corrupt: int = 0):
        self.spark = None  # set once the session is up (see run.py)
        self.work, self.wl, self.seed = work, wl, seed
        self.seconds, self.tracer = seconds, tracer
        self.rng = random.Random(f"{wl.name}:{wl.n_docs}:{seed}")
        self.attempted = self.failed = 0
        self.corrupt = corrupt  # pages deliberately altered before checking
        self.failures: list[str] = []
        self.lat: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}
        self.step_s: dict[str, float] = {}  # wall time per step, for the context line
        self.family_s: dict[str, list[float]] = {}  # query latencies by family, likewise
        self.index_dir = str(work / "index")
        self._lock = threading.Lock()

    # ---------------------------------------------------------------- helpers
    def sample(self, name: str, value: float) -> None:
        with self._lock:
            self.lat.setdefault(name, []).append(value)

    def fail(self, what: str) -> None:
        with self._lock:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def check(self, q: Query, rows: list) -> None:
        if self.corrupt > 0 and rows:
            self.corrupt -= 1
            rows = [{**rows[0], "score": float(rows[0]["score"]) + 1e-3}] + rows[1:]
        t = time.perf_counter()
        why = page_mismatch(self.oracle.expected(q), q, rows)
        self.step_s["oracle"] = self.step_s.get("oracle", 0.0) + time.perf_counter() - t
        if why is not None:
            self.fail(f"{q.family} {q.text!r} {q.filters}: {why}")

    # ----------------------------------------------------------------- corpus
    def make_corpus(self) -> None:
        path = self.work / f"corpus-n{self.wl.n_docs}-s{self.seed}"
        path.mkdir()
        table = generate_in_process(self.wl.n_docs, self.seed)
        step = -(-table.num_rows // CORPUS_FILES)
        for i in range(CORPUS_FILES):
            pq.write_table(table.slice(i * step, step), path / f"part-{i}.parquet")
        self.corpus_path = str(path)
        self.corpus_bytes = dir_bytes(self.corpus_path)
        self.rows = table.to_pylist()
        self.by_repo: dict[str, list[dict]] = {}
        for r in self.rows:
            self.by_repo.setdefault(r["repo"], []).append(r)
        self.oracle = LiveOracle(self.rows)

    # ------------------------------------------------------------------ build
    def build(self) -> None:
        cfg = IndexConfig(bucket_span=self.wl.bucket_span, term_buckets=TERM_BUCKETS)
        docs = self.spark.read.parquet(self.corpus_path)
        self.attempted += 1
        with self.tracer.span("op:build"):
            t = time.perf_counter()
            report = write_index(self.spark, docs, self.index_dir, cfg)
            build_s = time.perf_counter() - t
        self.sample("build", build_s)
        if report.n_docs != self.wl.n_docs:
            self.fail(f"build indexed {report.n_docs} of {self.wl.n_docs} docs")
        self.index_bytes = dir_bytes(self.index_dir)
        if self.tracer.enabled:
            for stage in ("docids", "docs_store", "positions", "postings", "termstats"):
                self.layer[f"postings.stage.{stage}_s"] = report.stage_sec.get(stage, 0.0)
            for ds in ("docs_store", "positions", "postings", "termstats"):
                self.layer[f"postings.bytes.{ds}"] = dir_bytes(
                    os.path.join(self.index_dir, ds))

    def plan_queries(self) -> None:
        idx = open_index(self.spark, self.index_dir)
        term_df = {r["term"]: int(r["df"]) for r in idx.termstats.collect()}
        repos = sorted(self.by_repo)
        langs = sorted({r["lang"] for r in self.rows})
        toks = self.rng.sample(self.oracle.index().toks, 200)
        # one stream per phase, so the families a phase runs do not depend
        # on how many queries an earlier phase fitted into its share
        self.streams = {phase: query_stream(self.rng, term_df, self.wl.n_docs, toks,
                                            langs, repos, 800)
                        for phase in ("serial", "c4", "compacted")}
        self.taken = dict.fromkeys(self.streams, 0)
        touched = self.rng.sample(repos, 48)
        self.upsert_repos, self.delete_repos = touched[:24], touched[24:]

    def take_query(self, phase: str) -> Query:
        stream = self.streams[phase]
        q = stream[self.taken[phase] % len(stream)]
        self.taken[phase] += 1
        return q

    # ---------------------------------------------------------------- queries
    def query(self, idx, q: Query, phase: str) -> None:
        """One timed, traced and checked query."""
        self.attempted += 1
        try:
            with self.tracer.span(f"op:{q.family}"):
                t = time.perf_counter()
                with self.tracer.span(f"wand.{q.family}.call"):
                    df = search_blockmax(idx, q.text, k=q.k, skip=q.skip,
                                         filters=q.filters, round_score=None)
                with self.tracer.span(f"wand.{q.family}.collect"):
                    rows = [r.asDict() for r in df.collect()]
                dt = time.perf_counter() - t
        except Exception as e:  # a failed query is counted, the run goes on
            self.fail(f"{q.family} {q.text!r}: {type(e).__name__}: {e}")
            return
        self.sample(phase, dt)
        self.family_s.setdefault(q.family, []).append(round(dt, 3))
        self.check(q, rows)

    def setup(self) -> None:
        """A fresh reader's set-up: open_index plus its first query, done
        SETUP_REPS times; setup_s is the median."""
        q = self.streams["serial"][FAMILIES.index("all")]
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            with self.tracer.span("setup"):
                t_open = time.perf_counter()
                idx = open_index(self.spark, self.index_dir)
                self.sample("open_index", time.perf_counter() - t_open)
                self.query(idx, q, "setup_query")
            self.sample("setup", time.perf_counter() - t)
        self.idx = idx

    def serial_phase(self) -> None:
        """One client, closed loop: whole rounds of the eight families for
        the phase's share, and at least one."""
        deadline = time.perf_counter() + self.wl.serial * self.seconds
        while True:
            for _ in FAMILIES:
                self.query(self.idx, self.take_query("serial"), "query")
            if time.perf_counter() >= deadline:
                break

    def concurrent_phase(self) -> None:
        """CLIENTS closed-loop clients on one reader. Each first runs one
        query untimed (the first four families of the phase's stream, one
        per client); once all four have returned, the timed part starts:
        each client takes the next query of the stream when its last one
        returns, until the phase's share of the run has passed and at least
        one round of the families has been sent. The rate is the timed
        completions over the time to the last reply: with one shared stream
        the clients end within one query of each other. Pages, untimed ones
        too, are checked after the phase."""
        span = self.wl.concurrent * self.seconds
        stream = iter(self.streams["c4"])
        first = [next(stream) for _ in range(CLIENTS)]
        timed: list[tuple[Query, list]] = []
        untimed: list[tuple[Query, list]] = []
        errors: list[str] = []
        lock = threading.Lock()
        start: list[float] = []
        barrier = threading.Barrier(CLIENTS, action=lambda: start.append(time.perf_counter()))
        sent, last = 0, 0.0

        def run_one(q: Query, into: list) -> None:
            try:
                out = (q, page(self.idx, q))
            except Exception as e:  # counted below; the client goes on
                out = f"c4 {q.family} {q.text!r}: {type(e).__name__}: {e}"
            with lock:
                (into if isinstance(out, tuple) else errors).append(out)

        def client(c: int) -> None:
            nonlocal sent, last
            run_one(first[c], untimed)
            barrier.wait()
            while True:
                with lock:
                    if sent >= len(FAMILIES) and time.perf_counter() - start[0] >= span:
                        return
                    q = next(stream)
                    sent += 1
                run_one(q, timed)
                with lock:
                    last = time.perf_counter() - start[0]

        with self.tracer.span("op:c4"):
            threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
            for th in threads:
                th.start()
            for th in threads:
                th.join()
        self.attempted += len(timed) + len(untimed) + len(errors)
        for e in errors:
            self.fail(e)
        self.sample("qps_c4", len(timed) / last)
        for q, rows in untimed + timed:
            self.check(q, rows)

    # ------------------------------------------------------------ maintenance
    def _mutate(self, name: str, fn) -> object | None:
        self.attempted += 1
        before = _file_sizes(self.index_dir) if self.tracer.enabled else None
        try:
            with self.tracer.span(f"op:{name}"):
                t = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t
        except Exception as e:  # counted; later pages will show the damage
            self.fail(f"{name}: {type(e).__name__}: {e}")
            return None
        self.sample(name, dt)
        if before is not None:
            self.sample(f"{name}.bytes_written",
                        bytes_written(before, _file_sizes(self.index_dir)))
        return out

    def upsert(self, repo: str) -> None:
        rows = rewrite_content(self.by_repo[repo])
        self.by_repo[repo] = rows
        batch = self.spark.createDataFrame(rows, schema=self.spark.read.parquet(
            self.corpus_path).schema)
        self.sample("upsert.content_bytes", sum(len(r["content"].encode()) for r in rows))
        self._mutate("upsert", lambda: upsert_repos_physical(
            self.spark, self.index_dir, batch, auto_compact=False, repos=[repo]))
        self.oracle.replace_repo(repo, rows)

    def delete(self, repo: str) -> None:
        self._mutate("delete", lambda: delete_repo_physical(
            self.spark, self.index_dir, repo, auto_compact=False))
        self.oracle.drop_repo(repo)
        self.by_repo.pop(repo, None)

    def churn_phase(self) -> None:
        """Cycles of one-repo upsert and one-repo delete for the rest of the
        run's seconds (at least one cycle). The query phases that follow
        read the churned index."""
        share = 1.0 - self.wl.serial - self.wl.concurrent
        deadline = time.perf_counter() + share * self.seconds
        cycle = 0
        while cycle == 0 or time.perf_counter() < deadline:
            self.upsert(self.upsert_repos[cycle % len(self.upsert_repos)])
            self.delete(self.delete_repos[cycle % len(self.delete_repos)])
            cycle += 1
        self.idx = open_index(self.spark, self.index_dir)
        masked = sum(hi - lo + 1 for lo, hi in self.idx.tombstones)
        self.layer["maintenance.tombstoned_frac"] = masked / (self.idx.n_docs + masked)

    def stream_and_compact(self) -> None:
        """One stream_upsert batch (a repo's new version as a parquet file),
        then compact_index, then one checked, untimed and untraced query on
        the compacted index (query_p50_s reads the tombstoned index)."""
        repo = next(r for r in self.upsert_repos[::-1] if r in self.by_repo)
        rows = rewrite_content(self.by_repo[repo])
        src, ckpt = self.work / "stream-src", self.work / "stream-ckpt"
        src.mkdir()
        table = pa.Table.from_pylist(rows, schema=pq.read_schema(
            os.path.join(self.corpus_path, "part-0.parquet")))
        pq.write_table(table, src / "batch-0.parquet")
        self._mutate("stream_upsert", lambda: stream_upsert(
            self.spark, str(src), self.index_dir, str(ckpt), auto_compact=False))
        self.oracle.replace_repo(repo, rows)
        self.by_repo[repo] = rows
        self._mutate("compact", lambda: compact_index(self.spark, self.index_dir))
        q = self.take_query("compacted")
        self.attempted += 1
        try:
            rows = page(open_index(self.spark, self.index_dir), q)
        except Exception as e:  # counted; the run goes on
            self.fail(f"compacted {q.family} {q.text!r}: {type(e).__name__}: {e}")
            return
        self.check(q, rows)

    # ------------------------------------------------------ traced layer calls
    def layer_calls(self) -> None:
        """Direct calls into single layers (traced run only)."""
        docs = self.spark.read.parquet(self.corpus_path)
        cfg = IndexConfig(bucket_span=self.wl.bucket_span, term_buckets=TERM_BUCKETS)
        with self.tracer.span("docids.assign"):
            t = time.perf_counter()
            assign_doc_ids(docs).write.format("noop").mode("overwrite").save()
            self.layer["docids.assign_s"] = time.perf_counter() - t
        with self.tracer.span("tokenizer.tokenize"):
            t = time.perf_counter()
            n_tok = (tokens_df(docs.withColumn("doc_id", F.monotonically_increasing_id()),
                               cfg).agg(F.sum("dl")).collect()[0][0])
            self.layer["tokenizer.tokenize_s"] = time.perf_counter() - t
        self.layer["tokenizer.tokens"] = int(n_tok)

        # codec: decode and re-encode the index's own blocks for the terms
        # of the stream's hot1/or3 queries
        terms = sorted({t for q in self.streams["serial"][:64] if q.family in ("hot1", "or3")
                        for t in q.text.split()})
        idx = open_index(self.spark, self.index_dir)
        blocks = pq.read_table(idx.path_of("postings"), filters=[("term", "in", terms)],
                               columns=["n", "doc_ids", "tfs", "dls"]).to_pylist()
        decoded, t_dec, t_enc = 0, 0.0, 0.0
        with self.tracer.span("codec"):
            for b in blocks:
                t = time.perf_counter()
                ids, tfs, dls = decode_postings(b["doc_ids"], b["tfs"], b["dls"], b["n"])
                t_dec += time.perf_counter() - t
                t = time.perf_counter()
                encode_postings(ids, tfs, dls)
                t_enc += time.perf_counter() - t
                decoded += int(b["n"])
        self.layer.update({"codec.decode_s": t_dec, "codec.encode_s": t_enc,
                           "codec.postings_decoded": decoded})

        texts = [q.text for q in self.streams["serial"] if q.text is not None]
        with self.tracer.span("dismax.parse"):
            t = time.perf_counter()
            for _ in range(5):
                for text in texts:
                    parse_dismax(text, cfg.stopwords)
            self.layer["dismax.parse_ms"] = (time.perf_counter() - t) * 1000 / (5 * len(texts))

    # -------------------------------------------------------------------- run
    def run(self) -> None:
        """Everything after make_corpus, on ``self.spark``."""
        steps = [self.build, self.plan_queries, self.setup]
        if self.wl.writes:
            steps.append(self.churn_phase)
        steps += [self.concurrent_phase, self.serial_phase]
        if self.wl.writes:
            steps.append(self.stream_and_compact)
        if self.tracer.enabled:
            steps.append(self.layer_calls)
        for step in steps:
            self.timed(step)

    def timed(self, step) -> None:
        t = time.perf_counter()
        step()
        self.step_s[step.__name__] = round(time.perf_counter() - t, 2)
        self.sample("cpu_probe", cpu_probe())

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            self.work.parent.rmdir()  # .bench_work, once no other run uses it
        except OSError:
            pass


def hd_median(xs: list[float]) -> float:
    """The Harrell-Davis estimate of the median: the mean of all order
    statistics, the i-th weighted by the Beta((n+1)/2, (n+1)/2) mass on
    ((i-1)/n, i/n). A run times one query per family per round, and the
    families' latencies sit in clusters; the middle sample alone jumps
    between clusters when one query is slowed, this estimate moves by a
    share of it."""
    xs = sorted(xs)
    n, per = len(xs), 1024
    a = (n + 1) / 2
    dens = [((j + 0.5) / (n * per) * (1 - (j + 0.5) / (n * per))) ** (a - 1)
            for j in range(n * per)]
    w = [sum(dens[i * per:(i + 1) * per]) for i in range(n)]
    return sum(x * wi for x, wi in zip(xs, w)) / sum(w)
