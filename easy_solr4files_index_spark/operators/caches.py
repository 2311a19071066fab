"""Solr's serving-layer caches, re-expressed for the Spark engine.

The reference serves every query through three searcher-scoped caches
(solrconfig.xml:465-492): a ``filterCache`` of DocSets (the doc-id set
matching an fq), a ``queryResultCache`` of ordered doc-id pages keyed by
(query, sort, requested range), and a ``documentCache`` of stored
fields.  Result pages are cached in windows — the requested range is
rounded up to ``queryResultWindowSize=20`` rows (solrconfig.xml:588) so
neighbouring pages of the same query hit the same entry, and ranges
deeper than ``queryResultMaxDocsCached=200`` are never cached
(solrconfig.xml:593).  A commit opens a *new searcher* whose caches
start cold (``autowarmCount="0"`` in the reference config).

The Spark mapping:

- a *searcher* is one opened ``PhysicalIndex`` state — maintenance ops
  return a fresh ``open_index`` (new generation / tombstones / n_docs),
  so the cache key carries that state and entries from a superseded
  state are unreachable (and evicted LRU-style);
- the **queryResultCache** stores the collected page rows (≤ 200 tiny
  rows per entry — driver-heap-sized at any corpus scale, exactly like
  Solr's DocList of ids+scores);
- the **filterCache** stores the fq DocSet as a *persisted* narrow
  ``doc_id`` DataFrame — the executor-memory analog of Solr's DocSet
  bitset, reused inside the scoring pass by every query that repeats
  the filter, and unpersisted on eviction.

At 100 TB the shapes hold: pages are k-sized, and a DocSet DataFrame is
one narrow column partitioned across the cluster — the cache holds
references and plans on the driver, never corpus-scale data.
"""

from __future__ import annotations

import json
import os
import threading
from collections import OrderedDict
from typing import Callable

from pyspark.sql import DataFrame, Row
from pyspark.storagelevel import StorageLevel

_PageRow = Row("doc_id", "repo", "path", "lang", "score")

from .postings import PhysicalIndex
from .wand import _cut, search

QUERY_RESULT_WINDOW = 20    # solrconfig.xml:588
QUERY_RESULT_MAX_DOCS = 200  # solrconfig.xml:593
CACHE_SIZE = 512             # solrconfig.xml:466,479,489


class _LRU:
    """Thread-safe LRU with an eviction callback (the reference uses
    the concurrent LRUCache/FastLRUCache with size=512 — a searcher
    serves many request threads at once; hit/miss counters mirror the
    cache stats Solr exposes on its admin handler).

    No separate documentCache: Solr needs one because its DocList holds
    bare ids that a second lookup resolves to stored fields; here every
    page already carries its winners' stored fields (wand._local_page),
    so the queryResultCache entry holds the complete rendered rows and a
    per-doc cache would never be consulted."""

    def __init__(self, size: int, on_evict: Callable | None = None):
        self.size, self.on_evict = size, on_evict
        self._d: OrderedDict = OrderedDict()
        self._lock = threading.Lock()
        self.hits = self.misses = 0

    def get(self, key):
        with self._lock:
            if key in self._d:
                self._d.move_to_end(key)
                self.hits += 1
                return self._d[key]
            self.misses += 1
            return None

    def peek(self, key):
        """get() without touching the hit/miss stats (the double-checked
        re-read under the build lock is not a second lookup)."""
        with self._lock:
            if key in self._d:
                self._d.move_to_end(key)
                return self._d[key]
            return None

    def put(self, key, value) -> None:
        evicted = []
        with self._lock:
            self._d[key] = value
            self._d.move_to_end(key)
            while len(self._d) > self.size:
                evicted.append(self._d.popitem(last=False)[1])
        # run callbacks outside the lock: unpersist() talks to the JVM
        if self.on_evict is not None:
            for old in evicted:
                self.on_evict(old)

    def clear(self) -> None:
        with self._lock:
            dropped = list(self._d.values())
            self._d.clear()
        if self.on_evict is not None:
            for old in dropped:
                self.on_evict(old)

    def __len__(self) -> int:
        with self._lock:
            return len(self._d)


def _canon(filters: dict | None) -> str:
    if not filters:
        return ""
    return json.dumps({k: sorted(v) for k, v in sorted(filters.items())},
                      separators=(",", ":"))


class SearcherCaches:
    """filterCache + queryResultCache for one (or successive) opened
    index states. Safe to keep across maintenance: the searcher key
    (generation, n_docs, tombstones) changes with the index, so stale
    entries can never be returned — they age out of the LRU."""

    def __init__(self, index: PhysicalIndex,
                 result_size: int = CACHE_SIZE,
                 filter_size: int = CACHE_SIZE):
        self.index = index
        self.results = _LRU(result_size)
        self.filters = _LRU(filter_size, on_evict=lambda df: df.unpersist())
        self._build_lock = threading.Lock()  # one DocSet build per fq
        self._warmed: list[DataFrame] = []

    def rebind(self, index: PhysicalIndex) -> None:
        """Point the caches at a new searcher (post-maintenance reopen) —
        Solr's autowarmCount=0 cold-start. Old entries are DROPPED, not
        left to age out: their keys (old generation/tombstones) can never
        be looked up again, and an unreachable filterCache entry would
        otherwise strand its persisted DocSet in executor storage for up
        to 512 evictions — a leak across maintenance cycles."""
        self.index = index
        self.clear()

    def clear(self) -> None:
        """Drop every cached entry, unpersisting the filter DocSets and
        any warmed block datasets."""
        self.filters.clear()
        self.results.clear()
        for df in getattr(self, "_warmed", []):
            df.unpersist()
        self._warmed = []

    # -- warm searcher (block cache) --------------------------------------
    def warm(self, datasets: tuple[str, ...] = ("postings", "docs_store",
                                                "termstats")) -> None:
        """Persist the index's block datasets in executor storage and
        materialize them — the Solr firstSearcher/static-warming analog
        (solrconfig.xml:508-529: a new searcher runs warming queries so
        the OS/block caches are hot before serving). Here the warmed
        unit is the dataset scan itself: `PhysicalIndex._read` memoizes
        one DataFrame per dataset, and Spark's CacheManager substitutes
        the persisted relation into EVERY derived plan that embeds it
        (docs_store's drop/filter, termstats' union+agg, each query's
        tbucket-pruned postings scan), so all subsequent queries on this
        searcher read columnar executor memory instead of parquet.

        What it can and cannot buy (measured, BENCH/README q-row
        `query_p95_warm_sec`): scan+decode time goes away, but a query's
        1-3 sequential jobs keep their per-job scheduling floor —
        the cache removes I/O from each job, not the jobs. positions is
        included automatically when the index carries it (phrase
        queries). Warmed data is dropped by clear()/rebind() along with
        the caches (a superseded searcher must release executor
        storage)."""
        if getattr(self, "_warmed", None):
            return
        ix = self.index
        names = list(datasets)
        if ix.has_positions and "positions" not in names:
            names.append("positions")
        if os.path.exists(ix.path_of("_termstats_delta")) \
                and "_termstats_delta" not in names:
            names.append("_termstats_delta")
        warmed = []
        for name in names:
            if name == "positions" and not ix.has_positions:
                continue
            df = ix._read(name)
            df.persist(StorageLevel.MEMORY_AND_DISK)
            warmed.append(df)
        # materialize concurrently (thread-per-dataset, like the
        # build's _run_parallel) so warm-up pays one wall-clock scan
        from concurrent.futures import ThreadPoolExecutor
        try:
            with ThreadPoolExecutor(max_workers=len(warmed) or 1) as ex:
                list(ex.map(lambda d: d.count(), warmed))
        except BaseException:
            # a failed warm-up must not strand executor storage: nothing
            # is recorded in _warmed, so clear() could not release these
            for df in warmed:
                df.unpersist()
            raise
        self._warmed = warmed

    def _searcher_key(self) -> tuple:
        ix = self.index
        return (ix.index_dir, ix.generation, ix.n_docs, ix.tombstones)

    # -- filterCache ------------------------------------------------------
    def filter_docset(self, filters: dict | None) -> DataFrame | None:
        """The persisted doc_id DocSet for an fq, built once per searcher
        state and reused inside the scoring pass of every query that
        repeats the filter (Solr filterCache semantics: fq sets are
        cached independently of the main query)."""
        if not filters:
            return None
        key = (self._searcher_key(), _canon(filters))
        ds = self.filters.get(key)
        if ds is None:
            from .query import _filters_expr  # shared canonical fq predicate
            with self._build_lock:  # don't double-persist under races
                ds = self.filters.peek(key)
                if ds is None:
                    ds = (self.index.docs_store.filter(_filters_expr(filters))
                          .select("doc_id")
                          .persist(StorageLevel.MEMORY_AND_DISK))
                    self.filters.put(key, ds)
        return ds

    # -- queryResultCache -------------------------------------------------
    def search(self, text: str | None = None, k: int = 10, skip: int = 0,
               filters: dict | None = None, round_score: int | None = 4,
               synonyms: dict[str, list[str]] | None = None,
               found: bool = False) -> tuple[list, int | None]:
        """Cached (page rows, found) — the page bit-identical to
        ``wand.search`` with the same arguments, page-boundary rounding
        collisions included; ``found`` is None unless asked for.

        The direct path cuts the page by UNROUNDED score (the
        deterministic total order) and only then rounds + re-sorts the
        page rows (wand._cut). A window cached already-rounded would
        re-sort across the page boundary: two distinct raw scores that
        round equal straddling rank skip+k would swap membership vs the
        direct cut. So the cache stores the UNROUNDED window (its order
        IS the cut order) and cuts it with the same wand._cut.

        Solr's queryResultCache entry is a DocList that CARRIES the match
        total (DocList.matches()), so a repeated ``found=True`` request is
        served entirely from cache; its miss is ONE exhaustive traversal
        whose unrounded window also seeds the plain page entry. The page
        comes back as collected ROWS (Solr's DocList is likewise a
        materialized id+score list)."""
        k = k if isinstance(k, int) and k >= 1 else 10
        skip = skip if isinstance(skip, int) and skip >= 0 else 0
        upper = skip + k
        if upper > QUERY_RESULT_MAX_DOCS:
            # deep pages skip the queryResultCache (solrconfig.xml:593)
            # but still ride the filterCache — Solr's DocSets serve every
            # fq regardless of the requested range
            res = search(self.index, text, k=k, skip=skip, filters=filters,
                         round_score=round_score, synonyms=synonyms,
                         found=found, fq_docset=self.filter_docset(filters))
            return res.page.collect(), res.found
        window = -(-upper // QUERY_RESULT_WINDOW) * QUERY_RESULT_WINDOW
        base = (self._searcher_key(), text, _canon(filters),
                json.dumps(synonyms, sort_keys=True) if synonyms else "",
                window)
        key = ("found",) + base if found else base
        hit = self.results.get(key)
        if hit is None:
            res = search(self.index, text, k=window, skip=0, filters=filters,
                         round_score=None, synonyms=synonyms, found=found,
                         fq_docset=self.filter_docset(filters))
            hit = (res.page.collect(), res.found)
            self.results.put(key, hit)
            if found:
                self.results.put(base, (hit[0], None))  # seed the page entry
        rows, n = hit
        return [_PageRow(*r) for r in _cut(rows, skip, k, round_score)], n
