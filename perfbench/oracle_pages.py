"""Expected result pages from the brute-force BM25 oracle, and the page check.

The oracle (``oracle/bm25_oracle.py``) tokenizes and scores in pure Python.
Tokenizing the corpus is its dominant cost, so each document is tokenized
once per run (``build_oracle`` over the batch it arrives in) and the oracle
index for a given live-document state is assembled from those per-document
entries. Scoring always goes through the oracle's own ``oracle_search`` /
``oracle_search_boolean``; for a phrase query the oracle scans the token
streams of only those documents whose text holds one of its phrases.

A page matches when it has the oracle's length, its scores equal the
oracle's scores position by position, and every returned document matches
the query with that same score. Documents with equal scores may come back
in any order (ties compare as sets), which also covers the doc-id order an
upsert changes (an upserted repo moves to a new segment at the end).
"""

from __future__ import annotations

from collections import Counter

from easy_solr4files_index_spark.operators.dismax import parse_dismax
from easy_solr4files_index_spark.oracle.bm25_oracle import (
    OracleIndex, build_oracle, oracle_search, oracle_search_boolean)

REL_TOL = 1e-9


class LiveOracle:
    """The oracle for the documents currently live in the index."""

    def __init__(self, rows: list[dict]):
        self._docs: dict[tuple, tuple] = {}
        self.put(rows)

    def put(self, rows: list[dict]) -> None:
        """Add or replace documents (keyed by repo, path, commit)."""
        part = build_oracle(rows)
        for key, meta, tf, toks, dl in zip(part.doc_keys, part.meta, part.tfs,
                                           part.toks, part.dls):
            self._docs[key] = (meta, tf, toks, dl)
        self._changed()

    def drop_repo(self, repo: str) -> None:
        for key in [k for k in self._docs if k[0] == repo]:
            del self._docs[key]
        self._changed()

    def replace_repo(self, repo: str, rows: list[dict]) -> None:
        """Upsert semantics: every live doc of ``repo`` is replaced."""
        for key in [k for k in self._docs if k[0] == repo]:
            del self._docs[key]
        self.put(rows)

    def _changed(self) -> None:
        self._index = None
        self._joined: list[str] | None = None
        self._pages = {}

    def index(self) -> OracleIndex:
        if self._index is None:
            keys = sorted(self._docs)
            entries = [self._docs[k] for k in keys]
            df: Counter = Counter()
            for _, tf, _, _ in entries:
                df.update(tf.keys())
            dls = [e[3] for e in entries]
            n = len(keys)
            self._index = OracleIndex(
                doc_keys=keys, meta=[e[0] for e in entries],
                tfs=[e[1] for e in entries], toks=[e[2] for e in entries],
                dls=dls, df=df, n=n, avgdl=(sum(dls) / n) if n else 0.0)
        return self._index

    def _view(self, q) -> OracleIndex:
        """The state's index, with the token streams of docs that hold none
        of ``q``'s phrases emptied: the oracle's phrase scan finds no match
        in them either way, and skips them at no cost."""
        idx = self.index()
        phrases = [f" {' '.join(c.terms)} " for c in parse_dismax(q.text or "")
                   if c.is_phrase]
        if not phrases:
            return idx
        if self._joined is None:
            self._joined = [f" {' '.join(t)} " for t in idx.toks]
        toks = [t if any(p in j for p in phrases) else []
                for t, j in zip(idx.toks, self._joined)]
        return OracleIndex(doc_keys=idx.doc_keys, meta=idx.meta, tfs=idx.tfs,
                           toks=toks, dls=idx.dls, df=idx.df, n=idx.n,
                           avgdl=idx.avgdl)

    def expected(self, q) -> dict:
        """Every matching doc for ``q`` in rank order, with its score;
        memoized per live state."""
        ck = (q.text, q.filters_key(), q.boolean)
        if ck not in self._pages:
            idx = self._view(q)
            if q.boolean:
                hits = oracle_search_boolean(idx, q.text, k=idx.n,
                                             filters=q.filters)
            else:
                hits = oracle_search(idx, q.text, k=idx.n, filters=q.filters)
            self._pages[ck] = {
                "ranked": [h["score"] for h in hits],
                "by_key": {(h["repo"], h["path"]): (h["score"], h["lang"])
                           for h in hits},
            }
        return self._pages[ck]


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(b))


def page_mismatch(expected: dict, q, rows: list) -> str | None:
    """None when ``rows`` (the engine's page) is a correct answer to ``q``,
    else a one-line reason."""
    want = expected["ranked"][q.skip:q.skip + q.k]
    if len(rows) != len(want):
        return f"{len(rows)} rows, oracle has {len(want)}"
    seen = set()
    for i, (r, s) in enumerate(zip(rows, want)):
        key = (r["repo"], r["path"])
        if key in seen:
            return f"duplicate {key}"
        seen.add(key)
        if not _close(float(r["score"]), s):
            return f"rank {i}: score {r['score']!r}, oracle {s!r}"
        hit = expected["by_key"].get(key)
        if hit is None:
            return f"rank {i}: {key} does not match"
        if not _close(float(r["score"]), hit[0]) or r["lang"] != hit[1]:
            return f"rank {i}: {key} scores {hit[0]!r} ({hit[1]}) in the oracle"
    return None
