"""t-digest with real centroid compression (Dunning's merging digest).

The repo's quantile story so far: exact percentiles (A6), the GK
sketch via approx_percentile (A3), and the fixed-boundary mergeable
histogram whose gate covers the *mergeability contract*
(queries/gates.py::histogram_quantile_gate). This module adds the
t-digest itself — the sketch production systems actually merge across
shards — with the k1 scale function, so centroid capacity shrinks
toward the tails and extreme quantiles (p99/p999) stay tight where a
fixed-width histogram goes coarse.

Layout (the 100 TB shape): values are digested per (group, shard)
— each shard builds one bounded O(δ) summary from its sorted slice —
then shard digests MERGE per group (sorted by shard id, so merge order
is deterministic). :func:`two_level_quantiles` is that build for all
three quantile sketches (t-digest, KLL, q-digest): two ``grouped_fold``
passes over a small per-sketch adapter. Nothing corpus-sized ever
leaves an executor; the merged digest is O(δ) floats per group
regardless of input size.
Shards are minted from the data (hash % n_shards), not from Spark
partitioning, so the digest is partitioning-invariant and re-runs
bit-identically.

Pure-numpy core, Arrow-batched at the Spark boundary — no row-at-a-
time Python.
"""

from __future__ import annotations

import math

import numpy as np


def _k1(q: float, delta: float) -> float:
    """The k1 scale function: k(q) = δ/(2π)·asin(2q−1). Its slope
    →∞ at q∈{0,1}, which is what forces 1-point centroids at the
    tails (exact min/max) while mid-range centroids hold ~n/δ."""
    return delta / (2.0 * math.pi) * math.asin(max(-1.0, min(1.0, 2.0 * q - 1.0)))


def compress(means: np.ndarray, weights: np.ndarray, delta: float = 100.0):
    """Merge-compress a mean-sorted centroid stream into ≤ ~2δ
    centroids: greedily absorb the next centroid into the current one
    while the k1 span of the combined cluster stays ≤ 1.

    Deterministic: input order fixed (sorted by mean, stable), the
    greedy scan is sequential, and the weighted-mean update is a
    fixed op sequence.
    """
    if len(means) == 0:
        return means, weights
    order = np.argsort(means, kind="mergesort")
    means, weights = means[order], weights[order]
    total = float(weights.sum())
    out_m: list[float] = []
    out_w: list[float] = []
    cur_m, cur_w = float(means[0]), float(weights[0])
    w_before = 0.0  # total weight strictly before the current cluster
    for m, w in zip(means[1:], weights[1:]):
        q0 = w_before / total
        q2 = (w_before + cur_w + w) / total
        if _k1(q2, delta) - _k1(q0, delta) <= 1.0:
            cur_w += w
            cur_m += (m - cur_m) * w / cur_w
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            w_before += cur_w
            cur_m, cur_w = float(m), float(w)
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.asarray(out_m), np.asarray(out_w)


def build(values: np.ndarray, delta: float = 100.0):
    """Digest a raw value array: sort, then compress 1-weight points."""
    v = np.sort(np.asarray(values, dtype=np.float64), kind="mergesort")
    return compress(v, np.ones(len(v)), delta=delta)


def merge(parts, delta: float = 100.0):
    """Merge shard digests: concatenate centroids, recompress. The
    t-digest mergeability property — accuracy survives because
    compress() re-applies the same k1 capacity rule to the union."""
    means = np.concatenate([p[0] for p in parts])
    weights = np.concatenate([p[1] for p in parts])
    return compress(means, weights, delta=delta)


def quantile(means: np.ndarray, weights: np.ndarray, q: float) -> float:
    """Estimate the q-quantile by linear interpolation between
    centroid means in cumulative-weight space (centroid i sits at the
    midpoint of its own weight span — Dunning's standard estimator)."""
    n = len(means)
    if n == 0:
        return float("nan")
    if n == 1:
        return float(means[0])
    total = float(weights.sum())
    target = q * total
    cum = np.cumsum(weights) - weights / 2.0  # centroid midpoints
    if target <= cum[0]:
        return float(means[0])
    if target >= cum[-1]:
        return float(means[-1])
    i = int(np.searchsorted(cum, target)) - 1
    frac = (target - cum[i]) / (cum[i + 1] - cum[i])
    return float(means[i] + frac * (means[i + 1] - means[i]))


def tdigest_quantiles(
    df,
    group_col: str,
    value_col: str,
    shard_col,
    qs=(0.5, 0.9, 0.99),
    delta: float = 100.0,
    n_shards: int = 8,
):
    """Distributed two-level t-digest build → per-group quantile
    estimates. ``shard_col`` is a deterministic data-derived integer
    Column (e.g. ``user_id % 8``) so shard membership — and therefore
    the digest — is partitioning-invariant.

    Returns one row per group: the quantile estimates, the merged
    digest's centroid count, and the total weight it carries.
    """
    from pyspark.sql import functions as F

    return two_level_quantiles(df, group_col, F.col(value_col), shard_col, qs, _TDigestParts(delta))


class _TDigestParts:
    """The t-digest's parts for :func:`two_level_quantiles`."""

    dtype = "double"
    parts = "means array<double>, weights array<double>"
    size = "n_centroids"

    def __init__(self, delta: float):
        self.delta = delta

    def shard(self, values: np.ndarray) -> dict:
        m, w = build(values, delta=self.delta)
        return {"means": m.tolist(), "weights": w.tolist()}

    def merge(self, shards):
        return merge(
            [
                (np.asarray(mm, dtype=np.float64), np.asarray(ww, dtype=np.float64))
                for mm, ww in zip(shards["means"], shards["weights"])
            ],
            delta=self.delta,
        )

    def summary(self, digest, qs) -> list:
        m, w = digest
        return [quantile(m, w, q) for q in qs] + [int(len(m)), float(w.sum())]


def two_level_quantiles(df, group_col: str, value, shard_col, qs, sketch):
    """The one two-level sketch build behind tdigest_quantiles,
    kll_quantiles and qdigest_quantiles: each (group, shard) slice is
    sketched (``sketch.shard`` of its values, cast to ``sketch.dtype``,
    serialised as the ``sketch.parts`` DDL), then each group merges its
    shards in shard order (``sketch.merge``) and reports one row ``g``,
    ``q<1000·q>`` per quantile, ``sketch.size`` and ``total_weight``
    (``sketch.summary``). ``sketch`` is an instance of a module-level
    adapter class, so the worker unpickles the class by reference."""
    from pyspark.sql import functions as F

    from ..streaming.stateful import grouped_fold

    qs = list(qs)
    shards = grouped_fold(
        df.select(
            F.col(group_col).alias("g"),
            value.cast(sketch.dtype).alias("_v"),
            shard_col.cast("int").alias("shard"),
        ),
        ["g", "shard"], _shard_fold, keep="key", added=sketch.parts, sketch=sketch,
    )
    q_fields = ", ".join(f"{_q_name(q)} {sketch.dtype}" for q in qs)
    return grouped_fold(
        shards, "g", _merge_fold, keep="key",
        added=f"{q_fields}, {sketch.size} int, total_weight {sketch.dtype}",
        sketch=sketch, qs=qs,
    )


def _q_name(q: float) -> str:
    return f"q{int(q * 1000)}"


def _shard_fold(key, pdfs, state, *, sketch):
    """One (group, shard) slice of :func:`two_level_quantiles`."""
    import pandas as pd

    (pdf,) = pdfs
    parts = sketch.shard(pdf["_v"].to_numpy())
    yield pd.DataFrame({"g": [key[0]], "shard": [int(key[1])], **{c: [v] for c, v in parts.items()}})


def _merge_fold(key, pdfs, state, *, sketch, qs):
    """One group of :func:`two_level_quantiles`: shards merge in shard
    order, so the merged sketch is deterministic."""
    import pandas as pd

    (pdf,) = pdfs
    merged = sketch.merge(pdf.sort_values("shard", kind="mergesort"))
    names = [_q_name(q) for q in qs] + [sketch.size, "total_weight"]
    yield pd.DataFrame([[key[0], *sketch.summary(merged, qs)]], columns=["g", *names])
