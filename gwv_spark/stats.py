"""North-rule stats layer: column stats, uniqueness, referential
integrity, and distribution-drift checks as native DataFrame plans.

These are the four check families BASELINE.json.north_rule adds on top of
the gwv rule suite.  Everything here is Catalyst-native aggregation —
one shuffle per groupBy, map-side partial aggregation for free, and the
approximate variants (HLL distinct, approx quantiles) for the 10^12-row
path where exact distinct counts would be a full shuffle of the key set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------- column stats

def column_stats(df: DataFrame, columns: list[str] | None = None, exact_distinct: bool = False) -> DataFrame:
    """One row per column: count, nulls, distinct, min/max — in ONE
    aggregation pass (round 1 unioned one agg-scan per column: 5× the
    I/O for a 5-column profile; at 100 TB the scan IS the cost).  The
    wide single-row agg is exploded back to one row per column.

    ``exact_distinct=False`` uses approx_count_distinct (HLL++, constant
    memory per column — the only sane option at 10^12 rows); the exact
    variant exists for small-scale oracle comparison.
    """
    columns = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, c in enumerate(columns):
        col = F.col(c)
        distinct = (
            F.countDistinct(col) if exact_distinct else F.approx_count_distinct(col)
        )
        aggs += [
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"_n{i}"),
            distinct.cast("bigint").alias(f"_d{i}"),
            F.min(col).cast("string").alias(f"_mn{i}"),
            F.max(col).cast("string").alias(f"_mx{i}"),
        ]
    wide = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"_n{i}").cast("bigint").alias("n_null"),
                F.col(f"_d{i}").alias("n_distinct"),
                F.col(f"_mn{i}").alias("min_value"),
                F.col(f"_mx{i}").alias("max_value"),
            )
            for i, c in enumerate(columns)
        ]
    )
    return wide.select("n_rows", F.explode(entries).alias("e")).select(
        "e.column", "n_rows", "e.n_null", "e.n_distinct", "e.min_value", "e.max_value"
    )


def numeric_profile(
    df: DataFrame,
    columns: list[str],
    quantiles=(0.25, 0.5, 0.75),
    exact: bool = False,
) -> DataFrame:
    """mean/stddev/quantiles for numeric columns, one row per column.

    Default (``exact=False``) is the 10^12-row path: percentile_approx
    (Spark's built-in Greenwald-Khanna-family mergeable summary) and
    float avg/stddev; the literal t-digest sketch the north rule names
    lives in gwv_spark.sketch.tdigest_quantiles (two-level mapInPandas
    merge tree, accuracy hash-checked by the stats_tdigest_rank_error
    registry query).  ``exact=True``
    is the oracle-comparable variant: moments from exact DECIMAL sums
    (no float-summation order sensitivity across engines) and exact
    interpolated percentiles."""
    out = None
    for c in columns:
        col = F.col(c).cast("double")
        if exact:
            # exact DECIMAL sums -> ONE conversion to double -> identical
            # float expression sequence on both engines (a distributed
            # float SUM would differ from a sequential one in the last
            # ulps; exact integers-scaled sums cannot)
            dec = F.col(c).cast("decimal(12,2)")
            n = F.count(dec)
            sx = F.sum(dec).cast("double")
            sx2 = F.sum(dec * dec).cast("double")
            mean = sx / n
            var = sx2 / n - mean * mean
            qs = [
                F.round(F.percentile(col, F.lit(q)), 6).alias(f"p{int(q * 100)}")
                for q in quantiles
            ]
            agg = df.agg(
                F.lit(c).alias("column"),
                F.round(mean, 6).alias("mean"),
                F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("stddev"),
                *qs,
            )
        else:
            agg = df.agg(
                F.lit(c).alias("column"),
                F.avg(col).alias("mean"),
                F.stddev_pop(col).alias("stddev"),
                *[
                    F.percentile_approx(col, q, 10000).alias(f"p{int(q * 100)}")
                    for q in quantiles
                ],
            )
        out = agg if out is None else out.unionByName(agg)
    return out


# ---------------------------------------------------------------- uniqueness

def duplicate_keys(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Keys that violate uniqueness, with multiplicity.  groupBy shuffles
    on the key; AQE splits skewed key partitions."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .where(F.col("n_rows") > 1)
    )


def uniqueness_summary(df: DataFrame, key_cols: list[str]) -> DataFrame:
    dups = duplicate_keys(df, key_cols)
    return dups.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("n_duplicate_keys"),
        F.coalesce(F.sum("n_rows"), F.lit(0)).cast("bigint").alias("n_rows_in_duplicates"),
    )


# ---------------------------------------------------------------- referential

def ri_orphans(child: DataFrame, fk: str, parent: DataFrame, pk: str) -> DataFrame:
    """Child rows whose FK has no parent (LEFT ANTI join).  Broadcast vs
    sort-merge is cardinality-driven: Catalyst broadcasts the parent key
    set when it fits (autoBroadcastJoinThreshold / AQE runtime stats);
    otherwise SMJ with AQE skew splitting."""
    parent_keys = parent.select(F.col(pk).alias(fk)).dropDuplicates()
    return child.join(parent_keys, fk, "left_anti")


def ri_summary(child: DataFrame, fk: str, parent: DataFrame, pk: str) -> DataFrame:
    orphans = ri_orphans(child, fk, parent, pk)
    return orphans.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("n_orphan_rows"),
        F.coalesce(F.countDistinct(F.col(fk)), F.lit(0)).alias("n_orphan_keys"),
    )


# ---------------------------------------------------------------- drift

def histogram(df: DataFrame, value: Column, bucket_width: float, group: Column | None = None) -> DataFrame:
    """Fixed-width bucket histogram (deterministic bucketing — no
    quantile estimation, so baseline and current always share edges)."""
    bucket = F.floor(value / F.lit(bucket_width)).cast("long").alias("bucket")
    keys = [group.alias("grp"), bucket] if group is not None else [bucket]
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


def psi_by_group(df: DataFrame, value: Column, group: Column, baseline_group: str, bucket_width: float, eps: float = 1e-4) -> DataFrame:
    """PSI of each group's value distribution vs a designated baseline
    group — the oracle-checkable drift query (deterministic buckets,
    ε-smoothed, natural log)."""
    hist = histogram(df, value, bucket_width, group)
    base = (
        hist.where(F.col("grp") == baseline_group)
        .select("bucket", F.col("n").alias("n_base"))
    )
    base_tot = base.agg(F.sum("n_base").alias("tot_base"))
    cur = hist.select("grp", "bucket", F.col("n").alias("n_cur"))
    cur_tot = cur.groupBy("grp").agg(F.sum("n_cur").alias("tot_cur"))
    # full outer per group over the union of buckets: left join both ways
    buckets = hist.select("bucket").dropDuplicates()
    grps = hist.select("grp").dropDuplicates()
    grid = grps.crossJoin(F.broadcast(buckets))
    j = (
        grid.join(cur, ["grp", "bucket"], "left")
        .join(F.broadcast(base), "bucket", "left")
        .fillna(0, ["n_cur", "n_base"])
        .join(cur_tot, "grp", "left")
        .crossJoin(F.broadcast(base_tot))
    )
    p = F.col("n_cur") / F.col("tot_cur") + eps
    q = F.col("n_base") / F.col("tot_base") + eps
    return (
        j.groupBy("grp")
        .agg(F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"))
        .select(F.col("grp").alias("group_id"), "psi")
    )


def corpus_snapshot(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """The baseline_stats snapshot shape (FIXTURES.md §5): span-length
    histogram + span-kind frequencies + media_ref null rate as
    (metric, bucket, value) rows.  Written per Iceberg snapshot on a real
    deployment; drift checks compare the current corpus against it."""
    span_len = docs.groupBy(F.col("n_spans")).agg(F.count(F.lit(1)).alias("v")).select(
        F.lit("span_len_hist").alias("metric"),
        F.col("n_spans").cast("string").alias("bucket"),
        F.col("v").cast("double").alias("value"),
    )
    kind_freq = spans.groupBy("kind").agg(F.count(F.lit(1)).alias("v")).select(
        F.lit("kind_freq").alias("metric"),
        F.col("kind").alias("bucket"),
        F.col("v").cast("double").alias("value"),
    )
    null_rate = spans.agg(
        (
            F.sum(F.when(F.col("media_ref").isNull(), 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("v")
    ).select(
        F.lit("media_ref_null_rate").alias("metric"),
        F.lit("all").alias("bucket"),
        F.round(F.col("v"), 6).alias("value"),
    )
    return span_len.unionByName(kind_freq).unionByName(null_rate)


def snapshot_psi(current: DataFrame, baseline: DataFrame, eps: float = 1e-4) -> DataFrame:
    """Per-metric PSI between two (metric, bucket, value) snapshots over
    the histogram metrics (rate metrics are compared directly as an
    absolute difference).  One shuffle on (metric, bucket); totals
    broadcast back."""
    hist_metrics = ["span_len_hist", "kind_freq"]
    c = current.where(F.col("metric").isin(hist_metrics)).select(
        "metric", "bucket", F.col("value").alias("n_cur")
    )
    b = baseline.where(F.col("metric").isin(hist_metrics)).select(
        "metric", "bucket", F.col("value").alias("n_base")
    )
    j = c.join(b, ["metric", "bucket"], "full_outer").fillna(0.0, ["n_cur", "n_base"])
    tot = j.groupBy("metric").agg(
        F.sum("n_cur").alias("tot_cur"), F.sum("n_base").alias("tot_base")
    )
    j = j.join(F.broadcast(tot), "metric")
    p = F.col("n_cur") / F.col("tot_cur") + eps
    q = F.col("n_base") / F.col("tot_base") + eps
    return (
        j.groupBy("metric")
        .agg(F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"))
        .select("metric", "psi")
    )


def snapshot_ks(current: DataFrame, baseline: DataFrame) -> DataFrame:
    """Kolmogorov–Smirnov statistic between two snapshots' span-length
    histograms (north rule: "KS … on span-length … histograms vs a
    baseline snapshot").

    The snapshot rows ARE the per-value summary — (bucket=n_spans,
    value=count), bounded by the distinct span-count range regardless of
    corpus size — so the KS here is max |ΔCDF| over a full-outer join of
    the two histograms.  The window runs over those bounded summary rows
    only; all corpus-scale work already happened when the snapshots were
    aggregated (corpus_snapshot's one groupBy per metric)."""
    from pyspark.sql import Window

    def hist(df: DataFrame, n: str) -> DataFrame:
        # try_cast: under ANSI mode Catalyst may collapse this projection
        # with the metric filter and evaluate the cast on non-histogram
        # rows (bucket='all'), which must not fail the job
        return df.where(F.col("metric") == "span_len_hist").select(
            F.col("bucket").try_cast("long").alias("b"), F.col("value").alias(n)
        )

    j = (
        hist(current, "n_cur")
        .join(hist(baseline, "n_base"), "b", "full_outer")
        .fillna(0.0, ["n_cur", "n_base"])
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = j.select(
        F.sum("n_cur").over(w).alias("ca"), F.sum("n_base").over(w).alias("cb")
    )
    return (
        cum.crossJoin(
            F.broadcast(
                j.agg(
                    F.sum("n_cur").alias("ta"), F.sum("n_base").alias("tb")
                )
            )
        )
        .agg(
            F.round(
                F.max(F.abs(F.col("ca") / F.col("ta") - F.col("cb") / F.col("tb"))),
                6,
            ).alias("ks")
        )
        .select(F.lit("span_len_hist").alias("metric"), "ks")
    )


def ks_statistic(
    df: DataFrame,
    value: Column,
    group: Column,
    group_a: str,
    group_b: str,
    bucket_width: float = 64.0,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between two groups'
    empirical CDFs, computed relationally as a two-level parallel CDF:

    1. counts per distinct value (one shuffle on v — CDF evaluated only
       at step boundaries, deterministic under ties);
    2. per-BUCKET totals (bucket = floor(v / bucket_width)); the bucket
       prefix sums run in a window over the bucket SUMMARY — thousands
       of rows at most, bounded by value-range/width, regardless of row
       count;
    3. the within-bucket running sum is a window PARTITIONED by bucket,
       offset by the broadcast bucket prefix.

    Round 1 used one global ``Window.orderBy(v)`` — a single-task sort
    of every distinct value, a scale-killer at 10^12 rows.  No
    single-partition exchange remains on the per-value side."""
    from pyspark.sql import Window

    sel = df.select(value.alias("v"), group.alias("g")).where(
        F.col("g").isin(group_a, group_b)
    )
    per_v = sel.groupBy("v").agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("da"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("db"),
    ).withColumn("bucket", F.floor(F.col("v") / F.lit(bucket_width)).cast("long"))
    bucket_tot = per_v.groupBy("bucket").agg(
        F.sum("da").alias("ta"), F.sum("db").alias("tb")
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    prefix = bucket_tot.select(
        "bucket",
        F.coalesce(F.sum("ta").over(wb), F.lit(0)).alias("pa"),
        F.coalesce(F.sum("tb").over(wb), F.lit(0)).alias("pb"),
    )
    wv = Window.partitionBy("bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = (
        per_v.join(F.broadcast(prefix), "bucket")
        .withColumn("ca", F.col("pa") + F.sum("da").over(wv))
        .withColumn("cb", F.col("pb") + F.sum("db").over(wv))
    )
    counts = sel.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    na = counts.where(F.col("g") == group_a).select(F.col("n").alias("na"))
    nb = counts.where(F.col("g") == group_b).select(F.col("n").alias("nb"))
    return (
        ranked.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .agg(
            F.round(
                F.max(F.abs(F.col("ca") / F.col("na") - F.col("cb") / F.col("nb"))), 6
            ).alias("ks")
        )
    )
