"""Deterministic corpus sampling for training-data pipelines.

``DataFrame.sample`` is seed-dependent on partitioning (a repartition or
speculative re-execution changes the sample), which is unacceptable for
reproducible corpus construction. These operators key every decision on
a content-independent HASH of stable identity columns, so the sample is
a pure function of the data — identical across runs, partitionings,
cluster sizes, and engines (the hash is the md5-derived 56-bit integer
shared with textstats, computable identically in DuckDB for the oracle
twins; xxhash64 would be Spark-only).

  * hash_sample     — Bernoulli keep-with-probability-`rate`, salted:
                      different salts give independent samples (e.g.
                      train/validation splits that never overlap via
                      disjoint rate windows).
  * cap_per_key     — at most n docs per key (domain/repo quotas — the
                      anti-domination rule of web-corpus recipes), the
                      winners chosen by the same deterministic hash
                      order, ties broken by doc_id.

Both are single-purpose building blocks for curate()-style pipelines:
hash_sample is map-only (pipelines inside the scan at any corpus size);
cap_per_key is one hash-partitioned window over the key — the shuffle
carries only (key, hash, doc_id)-projected rows when the caller selects
ids, and skew is bounded by the cap itself (only the first n survive).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from .textstats import MD5INT_DUCK, MD5INT_SPARK

_M = 1_000_000  # sampling resolution: keep iff pmod(h, _M) < _cutoff(rate)


def _cutoff(rate: float) -> int:
    """Integer hash cutoff for a keep-rate, computed ONCE in Python and
    embedded as a literal in both engines' plans — no float arithmetic
    happens inside either engine. Rounds half up: int() would truncate
    0.3 * 1e6 to 299999 (a realized rate a hair below nominal), and
    round() rounds a .5 product to even, so every sampler here uses this
    one rule — at equal rates hash_sample and domain_mixture keep
    exactly the same rows."""
    return int(math.floor(min(1.0, rate) * _M + 0.5))


def _hash_col(cols: tuple[str, ...], salt: str) -> Column:
    parts = ", ".join([f"cast({c} as string)" for c in cols]
                      + [f"'{salt}'"])
    return F.expr(MD5INT_SPARK.format(x=f"concat_ws(':', {parts})"))


def _hash_sql(cols: tuple[str, ...], salt: str) -> str:
    parts = " || ':' || ".join([f"CAST({c} AS VARCHAR)" for c in cols]
                               + [f"'{salt}'"])
    return MD5INT_DUCK.format(x=f"({parts})")


def hash_sample(docs: DataFrame, rate: float, salt: str = "",
                cols: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Deterministic Bernoulli sample: keep iff
    ``pmod(md5int(cols, salt), 1e6) < rate * 1e6``. Map-only; exactly
    reproducible for a given (data, cols, salt, rate)."""
    keep = F.pmod(_hash_col(cols, salt), F.lit(_M)) < _cutoff(rate)
    return docs.filter(keep)


def hash_sample_sql(rate: float, salt: str = "",
                    cols: tuple[str, ...] = ("doc_id",),
                    source: str = "documents") -> str:
    return (f"SELECT * FROM {source} "
            f"WHERE {_hash_sql(cols, salt)} % {_M} < {_cutoff(rate)}")


def cap_per_key(docs: DataFrame, key: str, n: int,
                cols: tuple[str, ...] = ("doc_id",),
                salt: str = "") -> DataFrame:
    """At most ``n`` rows per ``key`` (per-domain/per-repo quota), the
    survivors picked by deterministic hash order (tie-break doc_id) —
    NOT by arrival order, so the quota is stable under repartitioning."""
    h = _hash_col(cols, salt)
    w = Window.partitionBy(key).orderBy(h.asc(), F.col("doc_id").asc())
    return (docs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n).drop("_rn"))


def cap_per_key_sql(key: str, n: int, cols: tuple[str, ...] = ("doc_id",),
                    salt: str = "", source: str = "documents") -> str:
    return f"""
SELECT * EXCLUDE (_rn) FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {key}
    ORDER BY {_hash_sql(cols, salt)} ASC, doc_id ASC) AS _rn
  FROM {source})
WHERE _rn <= {n}
"""


def _mix_cutoffs(rate: float, weights: dict[str, float],
                 default_weight: float) -> tuple[dict[str, int], int]:
    """Integer per-domain hash cutoffs (see _cutoff)."""
    return ({k: _cutoff(rate * w) for k, w in weights.items()},
            _cutoff(rate * default_weight))


def domain_mixture(docs: DataFrame, rate: float,
                   weights: dict[str, float], key: str = "source",
                   default_weight: float = 1.0, salt: str = "",
                   cols: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Weighted per-domain sampling — the domain-mixture primitive of
    public LLM corpus recipes (The Pile's per-set epochs, Gao et al.
    2020 §2; LLaMA's per-source sampling proportions, Touvron et al.
    2023 Table 1): domain ``d`` keeps rows at rate min(1, rate · w_d).

    Composes hash_sample's disjoint-window determinism: the SAME hash,
    so with equal salt a mixture at rate r is a strict SUBSET of one at
    rate r' ≥ r (per-domain windows nest — reproducible curriculum
    growth), and a different salt is an independent draw (train/val
    never overlap). Map-only: the per-domain cutoffs are literals in
    the plan (a CASE over the key column — domain vocabularies are
    config-sized), so this pipelines inside the scan at any corpus
    size; use temperature_weights to derive w_d from domain counts."""
    cuts, dflt = _mix_cutoffs(rate, weights, default_weight)
    cutoff = F.lit(dflt)
    for k, c in sorted(cuts.items()):
        cutoff = F.when(F.col(key) == k, F.lit(c)).otherwise(cutoff)
    return docs.filter(F.pmod(_hash_col(cols, salt), F.lit(_M)) < cutoff)


def domain_mixture_sql(rate: float, weights: dict[str, float],
                       key: str = "source", default_weight: float = 1.0,
                       salt: str = "", cols: tuple[str, ...] = ("doc_id",),
                       source: str = "documents") -> str:
    cuts, dflt = _mix_cutoffs(rate, weights, default_weight)
    whens = " ".join(f"WHEN {key} = '{k}' THEN {c}"
                     for k, c in sorted(cuts.items()))
    return (f"SELECT * FROM {source} "
            f"WHERE {_hash_sql(cols, salt)} % {_M} < "
            f"(CASE {whens} ELSE {dflt} END)")


def temperature_weights(domain_counts: dict[str, int],
                        temperature: float = 1.0) -> dict[str, float]:
    """Per-domain rate multipliers w_d making the EXPECTED sampled
    mixture ∝ n_d^T while preserving the overall expected rate:
    w_d = n_d^(T-1) · N / Σ n_e^T (T=1 ⇒ all 1.0 — plain hash_sample;
    T<1 upweights small domains, the standard mixture-flattening dial).
    Pure Python over the config-sized domain-count dict (key-sorted
    summation — deterministic); feed the result to domain_mixture."""
    items = sorted(domain_counts.items())
    total = sum(n for _, n in items)
    denom = sum(n ** temperature for _, n in items)
    if total == 0 or denom == 0:
        return {k: 1.0 for k, _ in items}
    return {k: (n ** (temperature - 1.0)) * total / denom if n > 0 else 0.0
            for k, n in items}
