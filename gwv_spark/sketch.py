"""Mergeable t-digest quantile sketch as a distributed two-level Arrow
aggregation.

BASELINE.json's north_star and SURVEY.md §7.6 name "quantiles via
t-digest" explicitly; ``stats.numeric_profile``'s approximate path uses
Spark's built-in ``percentile_approx`` (a Greenwald-Khanna-family
summary).  This module supplies the literal t-digest: Dunning & Ertl's
merging digest (public algorithm — "Computing Extremely Accurate
Quantiles Using t-Digests", arXiv:1902.04023) with the k1 (arcsine)
scale function, vectorized on numpy arrays — no per-row Python anywhere
(batch ingest, compression, merge, and quantile extraction are all
whole-array numpy ops).

Distribution shape — the classic two-level ``treeAggregate`` expressed
in DataFrame operators:

  stage 1  ``mapInPandas`` over the value column: ONE digest row per
           input partition (<= ~delta centroids ~ 8 KB).  At the 10^12
           design point (10^6 scan partitions) this stage emits ~8 GB
           total and is embarrassingly parallel — zero shuffle, and the
           scan reads ONLY the profiled column (columnar pruning).
  stage 2  ``repartition(fanout)`` + ``mapInPandas``: <= fanout
           intermediate digests.  The only shuffle in the plan moves
           digest rows, never data rows.
  stage 3  ``repartition(1)`` + ``mapInPandas``: merges <= fanout
           digests and emits (q, value) rows.  The single task touches
           fanout * delta centroids — bounded regardless of row count,
           unlike a global-sort exact percentile.

Accuracy: the k1 scale function concentrates centroids at the tails —
rank error is ~pi/(2*delta) at the median and shrinks toward q=0/1;
tests/test_sketch.py asserts <= 0.01 absolute rank error at delta=500
on skewed data, and the registry query ``stats_tdigest_rank_error``
re-measures that bound against the REAL data inside the driver's
correctness gate.
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DIGEST_SCHEMA = (
    "means array<double>, weights array<double>, vmin double, vmax double, n bigint"
)

QUANTILE_SCHEMA = "q double, value double, n bigint, vmin double, vmax double"

# raw values buffered before an incremental compression; bounds stage-1
# working memory at O(_BUFFER + delta) floats per task.
_BUFFER = 32768


def _k1(q: np.ndarray, delta: float) -> np.ndarray:
    """Dunning's k1 scale function: k(q) = delta/(2*pi) * asin(2q - 1).
    Monotone in q with total span delta/2, so grouping points by
    floor(k1) yields <= delta/2 + 1 centroids with tail cells far
    narrower (in q) than mid cells."""
    return delta / (2.0 * math.pi) * np.arcsin(np.clip(2.0 * q - 1.0, -1.0, 1.0))


def _compress(means: np.ndarray, weights: np.ndarray, delta: float):
    """Merge weighted points into <= ~delta/2 + 1 centroids by integer
    k1 cell.  Fully vectorized: sort, cumulative mid-quantiles, cell
    assignment, then bincount reductions."""
    if means.size <= 1:
        return means.astype(np.float64), weights.astype(np.float64)
    order = np.argsort(means, kind="mergesort")
    m = means[order].astype(np.float64)
    w = weights[order].astype(np.float64)
    total = w.sum()
    cum = np.cumsum(w)
    qmid = (cum - 0.5 * w) / total
    cells = np.floor(_k1(qmid, delta)).astype(np.int64)
    # cells is non-decreasing (qmid increasing, k1 monotone)
    _, inv = np.unique(cells, return_inverse=True)
    nw = np.bincount(inv, weights=w)
    nm = np.bincount(inv, weights=w * m) / nw
    return nm, nw


class Digest:
    """A single t-digest: centroid arrays + (vmin, vmax, n) extremes.

    Ingest buffers raw values and compresses incrementally every
    ``_BUFFER`` points, so memory stays O(_BUFFER + delta) however many
    rows a partition holds."""

    __slots__ = ("delta", "means", "weights", "vmin", "vmax", "n", "_buf", "_buf_n")

    def __init__(self, delta: float = 500.0):
        self.delta = float(delta)
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.float64)
        self.vmin = math.inf
        self.vmax = -math.inf
        self.n = 0
        self._buf: list[tuple[np.ndarray, np.ndarray]] = []
        self._buf_n = 0

    # ------------------------------------------------------------ ingest
    def add_values(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return
        self.vmin = min(self.vmin, float(v.min()))
        self.vmax = max(self.vmax, float(v.max()))
        self.n += int(v.size)
        self._buf.append((v, np.ones_like(v)))
        self._buf_n += int(v.size)
        if self._buf_n >= _BUFFER:
            self._flush()

    def add_digest(
        self,
        means: np.ndarray,
        weights: np.ndarray,
        vmin: float,
        vmax: float,
        n: int,
    ) -> None:
        m = np.asarray(means, dtype=np.float64)
        w = np.asarray(weights, dtype=np.float64)
        if n <= 0 or m.size == 0:
            return
        self.vmin = min(self.vmin, float(vmin))
        self.vmax = max(self.vmax, float(vmax))
        self.n += int(n)
        self._buf.append((m, w))
        self._buf_n += int(m.size)
        if self._buf_n >= _BUFFER:
            self._flush()

    def _flush(self) -> None:
        if not self._buf:
            return
        m = np.concatenate([self.means] + [b[0] for b in self._buf])
        w = np.concatenate([self.weights] + [b[1] for b in self._buf])
        self.means, self.weights = _compress(m, w, self.delta)
        self._buf = []
        self._buf_n = 0

    # ------------------------------------------------------------ query
    def quantiles(self, qs: Sequence[float]) -> np.ndarray:
        """Interpolated quantile estimates.  Centroids anchor the CDF at
        their cumulative MIDPOINTS; (0 -> vmin) and (W -> vmax) anchor
        the tails, so q=0/1 are exact."""
        self._flush()
        qs_arr = np.asarray(list(qs), dtype=np.float64)
        if self.n == 0 or self.means.size == 0:
            return np.full(qs_arr.shape, np.nan)
        w = self.weights
        total = w.sum()
        cum_mid = np.cumsum(w) - 0.5 * w
        xp = np.concatenate(([0.0], cum_mid, [total]))
        fp = np.concatenate(([self.vmin], self.means, [self.vmax]))
        # np.interp requires increasing xp; cum_mid is strictly increasing
        # for positive weights, and 0 < cum_mid[0], cum_mid[-1] < total.
        return np.interp(qs_arr * total, xp, fp)

    def to_row(self) -> dict | None:
        self._flush()
        if self.n == 0:
            return None
        return {
            "means": self.means.tolist(),
            "weights": self.weights.tolist(),
            "vmin": self.vmin,
            "vmax": self.vmax,
            "n": int(self.n),
        }


# ---------------------------------------------------------------- spark tiers


def _partial_gen(batches: Iterable, delta: float) -> Iterator:
    import pandas as pd

    d = Digest(delta)
    for pdf in batches:
        d.add_values(pdf["v"].to_numpy(dtype="float64", na_value=np.nan))
    row = d.to_row()
    if row is not None:
        yield pd.DataFrame([row])


def _merge_gen(batches: Iterable, delta: float) -> Iterator:
    import pandas as pd

    d = Digest(delta)
    for pdf in batches:
        for means, weights, vmin, vmax, n in zip(
            pdf["means"], pdf["weights"], pdf["vmin"], pdf["vmax"], pdf["n"]
        ):
            d.add_digest(np.asarray(means), np.asarray(weights), vmin, vmax, n)
    row = d.to_row()
    if row is not None:
        yield pd.DataFrame([row])


def partial_digests(df: DataFrame, col: str, delta: float = 500.0) -> DataFrame:
    """Stage 1: one digest row per input partition (shuffle-free)."""
    src = df.select(F.col(col).cast("double").alias("v"))
    return src.mapInPandas(lambda it: _partial_gen(it, delta), DIGEST_SCHEMA)


def merge_digests(digests: DataFrame, delta: float = 500.0, fanout: int = 32) -> DataFrame:
    """Stage 2: reduce N partition digests to <= fanout digests.  The
    repartition shuffles DIGEST rows (KBs), never data rows."""
    return digests.repartition(fanout).mapInPandas(
        lambda it: _merge_gen(it, delta), DIGEST_SCHEMA
    )


def tdigest_quantiles(
    df: DataFrame,
    col: str,
    quantiles: Sequence[float],
    delta: float = 500.0,
    fanout: int = 32,
) -> DataFrame:
    """End-to-end sketch: (q, value) row per requested quantile, plus
    exact n / vmin / vmax carried through the merge tree."""
    qs = [float(q) for q in quantiles]
    mid = merge_digests(partial_digests(df, col, delta), delta, fanout)

    def final(batches: Iterable) -> Iterator:
        import pandas as pd

        d = Digest(delta)
        for pdf in batches:
            for means, weights, vmin, vmax, n in zip(
                pdf["means"], pdf["weights"], pdf["vmin"], pdf["vmax"], pdf["n"]
            ):
                d.add_digest(np.asarray(means), np.asarray(weights), vmin, vmax, n)
        if d.n == 0:
            return
        vals = d.quantiles(qs)
        yield pd.DataFrame(
            {
                "q": qs,
                "value": vals,
                "n": int(d.n),
                "vmin": d.vmin,
                "vmax": d.vmax,
            }
        )

    return mid.repartition(1).mapInPandas(final, QUANTILE_SCHEMA)
