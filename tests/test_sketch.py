"""t-digest sketch: numpy-core accuracy/merge properties + the Spark
two-level tree, checked against exact percentiles.

The registry query ``stats_tdigest_rank_error`` re-runs the accuracy
bound inside the driver's correctness gate; these tests pin the parts
the gate can't see (merge associativity, centroid bound, plan shape).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gwv_spark import sketch

QS = [0.001, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999]


def _rank_errors(data: np.ndarray, qs, est: np.ndarray) -> np.ndarray:
    s = np.sort(data)
    ranks = np.searchsorted(s, est) / len(s)
    return np.abs(ranks - np.asarray(qs))


def _skewed(n: int, seed: int = 0) -> np.ndarray:
    return np.random.default_rng(seed).lognormal(3.0, 1.2, n)


def test_digest_accuracy_on_skewed_data():
    data = _skewed(500_000)
    d = sketch.Digest(500.0)
    for chunk in np.array_split(data, 37):
        d.add_values(chunk)
    errs = _rank_errors(data, QS, d.quantiles(QS))
    assert errs.max() <= 0.005, errs
    # tails should be MUCH tighter than the bound (the k1 property)
    assert errs[0] <= 1e-3 and errs[-1] <= 1e-3
    assert d.means.size <= d.delta
    assert d.vmin == data.min() and d.vmax == data.max() and d.n == len(data)


def test_digest_merge_matches_single_pass():
    data = _skewed(200_000, seed=1)
    parts = np.array_split(data, 8)
    merged = sketch.Digest(500.0)
    for p in parts:
        sub = sketch.Digest(500.0)
        sub.add_values(p)
        row = sub.to_row()
        merged.add_digest(
            np.array(row["means"]), np.array(row["weights"]),
            row["vmin"], row["vmax"], row["n"],
        )
    errs = _rank_errors(data, QS, merged.quantiles(QS))
    assert errs.max() <= 0.005, errs
    assert merged.means.size <= merged.delta
    assert merged.n == len(data)


def test_digest_nan_and_empty():
    d = sketch.Digest(200.0)
    assert np.isnan(d.quantiles([0.5])).all()
    assert d.to_row() is None
    d.add_values(np.array([np.nan, 1.0, np.nan, 3.0]))
    assert d.n == 2
    assert d.quantiles([0.0])[0] == 1.0 and d.quantiles([1.0])[0] == 3.0


def test_spark_tdigest_matches_exact_percentiles(spark):
    data = _skewed(120_000, seed=2)
    df = spark.createDataFrame(
        [(float(v),) for v in data], "v double"
    ).repartition(16)
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    out = sketch.tdigest_quantiles(df, "v", qs, delta=500.0, fanout=8)
    rows = {r["q"]: r for r in out.collect()}
    assert sorted(rows) == qs
    est = np.array([rows[q]["value"] for q in qs])
    errs = _rank_errors(data, qs, est)
    assert errs.max() <= 0.01, errs
    anyrow = rows[0.5]
    assert anyrow["n"] == len(data)
    assert anyrow["vmin"] == pytest.approx(data.min())
    assert anyrow["vmax"] == pytest.approx(data.max())


def test_spark_tdigest_empty_input(spark):
    df = spark.createDataFrame([], "v double")
    assert sketch.tdigest_quantiles(df, "v", [0.5]).count() == 0


def test_tdigest_plan_shuffles_digests_not_rows(spark):
    """The only exchanges in the sketch plan sit ABOVE the stage-1
    mapInPandas — the shuffle moves digest rows, never the scanned
    column.  (A global-sort exact percentile would show Sort + a
    rangepartitioning exchange below it.)"""
    df = spark.range(10_000).select(F.col("id").cast("double").alias("v"))
    out = sketch.tdigest_quantiles(df, "v", [0.5], fanout=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    first_map = plan.find("MapInPandas")
    assert first_map != -1
    # walk the tree text: nothing below the deepest MapInPandas
    # (= stage 1) may be an Exchange or a Sort
    below_stage1 = plan[plan.rfind("MapInPandas"):]
    assert "Exchange" not in below_stage1
    assert "Sort" not in below_stage1
