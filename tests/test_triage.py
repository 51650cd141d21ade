"""Triage sampler: deterministic two-level top-K per (rule_id, errcode).

Correctness model: an independent driver-side full-sort over the SAME
priority column must produce the identical sample — the distributed
two-level selection may not lose or reorder a single winner.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gwv_spark import engine, triage
from gwv_spark.corpus import spark_generate


@pytest.fixture(scope="module")
def violations(spark):
    docs = spark_generate(spark, 800, partitions=4).select("doc_id", "spans")
    ctx = engine.make_context(spark, docs)
    v = engine.run_rules(ctx).persist()
    assert v.count() > 50, "corpus too clean for a sampling test"
    yield v
    v.unpersist()


def _reference_sample(violations_df, k: int) -> pd.DataFrame:
    """Driver-side full sort over the same Spark-computed priority."""
    pdf = triage._with_priority(violations_df).toPandas()
    pdf["detail"] = pdf["detail"].map(tuple)
    pdf = pdf.sort_values(["priority", "doc_id", "sortkey"], kind="mergesort")
    pdf["sample_rank"] = pdf.groupby(["rule_id", "errcode"]).cumcount() + 1
    pdf["n_total"] = pdf.groupby(["rule_id", "errcode"])["doc_id"].transform("size")
    out = pdf[pdf["sample_rank"] <= k]
    cols = ["rule_id", "errcode", "n_total", "sample_rank", "doc_id", "detail", "sortkey"]
    return out[cols].sort_values(cols[:4]).reset_index(drop=True)


def _collect(df) -> pd.DataFrame:
    pdf = df.toPandas()
    pdf["detail"] = pdf["detail"].map(tuple)
    # Spark's row_number is int32; the pandas reference's cumcount is
    # int64 — same values, normalize for the frame compare
    pdf["sample_rank"] = pdf["sample_rank"].astype("int64")
    cols = ["rule_id", "errcode", "n_total", "sample_rank", "doc_id", "detail", "sortkey"]
    return pdf[cols].sort_values(cols[:4]).reset_index(drop=True)


def test_matches_full_sort_reference(spark, violations):
    got = _collect(triage.sample_violations(violations, k=5))
    want = _reference_sample(violations, k=5)
    pd.testing.assert_frame_equal(got, want)


def test_deterministic_across_partitionings(spark, violations):
    a = _collect(triage.sample_violations(violations.repartition(1), k=3))
    b = _collect(triage.sample_violations(violations.repartition(17), k=3))
    pd.testing.assert_frame_equal(a, b)


def test_k_exceeds_group_size_returns_all(spark, violations):
    n = violations.count()
    got = triage.sample_violations(violations, k=n + 1)
    assert got.count() == n
    # every group fully ranked 1..n_group
    chk = got.groupBy("rule_id", "errcode").agg(
        F.max("sample_rank").alias("mx"),
        F.count(F.lit(1)).alias("n"),
        F.first("n_total").alias("t"),
    )
    bad = chk.where((F.col("mx") != F.col("n")) | (F.col("n") != F.col("t")))
    assert bad.count() == 0


def test_counts_are_exact(spark, violations):
    got = (
        triage.sample_violations(violations, k=1)
        .select("rule_id", "errcode", "n_total")
        .toPandas()
        .sort_values(["rule_id", "errcode"])
        .reset_index(drop=True)
    )
    want = (
        violations.groupBy("rule_id", "errcode")
        .agg(F.count(F.lit(1)).alias("n_total"))
        .toPandas()
        .sort_values(["rule_id", "errcode"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_stage1_is_shuffle_free(spark, violations):
    """The scan-side selection must not shuffle the violations table:
    no Exchange may appear BELOW the stage-1 MapInPandas in the plan
    tree (the only shuffles are the bounded survivor window and the
    tiny counts aggregate)."""
    plan = (
        triage.sample_violations(violations, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    map_nodes = [ln for ln in plan.splitlines() if "MapInPandas" in ln]
    assert map_nodes, "stage-1 MapInPandas missing from plan"
    # everything below the deepest MapInPandas (greater indent) must be
    # exchange-free; in Spark's tree print, children are indented further
    lines = plan.splitlines()
    idx = max(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    depth = len(lines[idx]) - len(lines[idx].lstrip(" +-:"))
    below = []
    for ln in lines[idx + 1 :]:
        d = len(ln) - len(ln.lstrip(" +-:"))
        if d <= depth:
            break
        below.append(ln)
    assert not any("Exchange" in ln for ln in below), "\n".join(below)


def test_sample_violations_null_errcode_sampled_and_counted(spark):
    """Review regression: a NULL errcode group was counted by stage-2
    but dropped by stage-1's pandas groupby — counted yet unsampled."""
    from gwv_spark import triage

    vio = spark.createDataFrame(
        [("r1", None, "d1", ["x"], "s1"), ("r1", None, "d2", ["y"], "s2"),
         ("r1", "0", "d3", ["z"], "s3")],
        "rule_id string, errcode string, doc_id string, detail array<string>, sortkey string",
    )
    rows = triage.sample_violations(vio, k=5).collect()
    null_rows = [r for r in rows if r["errcode"] is None]
    assert len(null_rows) == 2
    assert all(r["n_total"] == 2 for r in null_rows)
