"""Misra-Gries frequent items: the sketch store's heavy-hitter tier.

The one Misra-Gries implementation is the per-column summary the sketch
store keeps (``sketchstore.column_sketches`` stage 1, folded by
``sketchstore.merged_column_stats``); ``test_sketchstore.py`` covers it
through the store's write/fold lifecycle, this module holds the summary
itself to the guarantees of Agarwal et al., "Mergeable Summaries"
(PODS 2012).

Correctness model: exact value counts computed driver-side over the
same data are the reference; the sketch must satisfy its certified
bounds — weight ≤ true ≤ weight + top_error_bound for every reported
item, top_error_bound ≤ n/(k+1), and every item with true count above
the bound present in the merged summary — under every partitioning (the
weights may vary with partitioning; the guarantees may not).
"""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from gwv_spark import sketchstore


def zipf_values(n=20000, n_items=400, seed=7):
    rng = random.Random(seed)
    items = [f"item{i:04d}" for i in range(n_items)]
    weights = [1.0 / (i + 1) for i in range(n_items)]
    return rng.choices(items, weights=weights, k=n)


def heavy_hitters(df, col, k):
    """(ordered [(item, weight)], error bound, non-null n) of one column."""
    sk = sketchstore.column_sketches(df, [col], mg_k=k)
    (r,) = sketchstore.merged_column_stats(sk, mg_k=k).collect()
    items = list(zip(r["top_items"], r["top_weights"]))
    return items, r["top_error_bound"], r["n"] - r["n_null"]


@pytest.fixture(scope="module")
def zipf(spark):
    vals = zipf_values()
    df = spark.createDataFrame([(v,) for v in vals], "val string")
    return df, Counter(vals)


@pytest.mark.parametrize("parts", [1, 4, 13])
def test_bounds_hold_under_any_partitioning(spark, zipf, parts):
    df, truth = zipf
    k = 50
    items, eb, n_val = heavy_hitters(df.repartition(parts), "val", k)
    n = sum(truth.values())
    assert items, "summary must not be empty"
    assert n_val == n
    assert 0 <= eb <= n / (k + 1)
    for item, w in items:
        true = truth[item]
        assert w <= true <= w + eb, (item, w, true)
    # completeness: every item heavier than the bound is in the summary
    reported = {item for item, _ in items}
    for item, c in truth.items():
        if c > eb:
            assert item in reported, (item, c, eb)


def test_exact_when_distinct_fits(spark):
    """No prune ever fires when distinct values ≤ k: the sketch IS the
    exact count table, error bound == 0."""
    vals = [f"v{i % 10}" for i in range(1000)]
    df = spark.createDataFrame([(v,) for v in vals], "val string").repartition(5)
    items, eb, _ = heavy_hitters(df, "val", 16)
    assert dict(items) == dict(Counter(vals))
    assert eb == 0


def test_planted_heavy_hitter_rank_one(spark):
    """An item carrying 20% of the stream must surface as rank 1 with a
    lower bound that already clears every other item's upper bound."""
    rng = random.Random(13)
    vals = ["HOT" if rng.random() < 0.2 else f"cold{rng.randrange(5000)}" for _ in range(30000)]
    df = spark.createDataFrame([(v,) for v in vals], "val string").repartition(8)
    items, eb, _ = heavy_hitters(df, "val", 50)
    assert items[0][0] == "HOT"
    truth = Counter(vals)
    assert items[0][1] <= truth["HOT"] <= items[0][1] + eb
    assert items[0][1] > items[1][1] + eb


def test_nulls_excluded(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("a",), (None,), ("b",)], "val string"
    )
    items, eb, n_val = heavy_hitters(df, "val", 8)
    assert dict(items) == {"a": 2, "b": 1}
    assert n_val == 3  # nulls are not part of n
    assert eb == 0


def test_non_string_column_casts(spark):
    df = spark.range(0, 1000).select((F.col("id") % 7).alias("m"))
    items, _, _ = heavy_hitters(df, "m", 16)
    assert {item for item, _ in items} == {str(i) for i in range(7)}
    assert all(w in (142, 143) for _, w in items)


def test_stage1_no_shuffle(spark, zipf):
    df, _ = zipf
    plan = (
        sketchstore.column_sketches(df, ["val"], mg_k=32)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_stage1_emits_bounded_rows(spark):
    """Each task emits one sketch row per column, carrying its exact row
    count and at most k counters even over a high-cardinality column
    (the working-set prune fires)."""
    df = spark.range(0, 50000).select(
        F.concat(F.lit("u"), (F.col("id") % 9000).cast("string")).alias("val")
    ).repartition(3)
    k = 20
    sk = sketchstore.column_sketches(df, ["val"], mg_k=k)
    per_task = (
        sk.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.max(F.size("mg_items")).alias("items"),
            F.count(F.lit(1)).alias("rows"),
            F.sum("n").alias("n"),
        )
        .collect()
    )
    assert sum(r["n"] for r in per_task) == 50000
    for r in per_task:
        assert r["items"] <= k
        assert r["rows"] == 1
