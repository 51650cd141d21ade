"""Violation triage: deterministic K examples per (rule_id, errcode)
plus exact per-code totals, without a global sort and without
collecting the violations table.

At the 10^12-document design point the violations table is itself
billions of rows — a human (or an alerting pipeline) does not read it,
they read "how many per code, and show me K representative examples of
each".  The reference's result JSON (gwv.py:43-44) effectively ships
EVERY violation row to the driver, which is exactly the thing that
cannot scale; this operator is the scale-path replacement.

Shape — the classic two-level top-K expressed in DataFrame operators:

  priority  ``xxhash64`` over the full row content, JVM-side — a
            deterministic pseudo-random total order, so the "sample" is
            uniform-ish, stable across runs AND across input
            partitionings, and needs no RNG (Date-free, resume-safe).
  stage 1   ``mapInPandas`` over the violations scan: each task keeps
            the K smallest-priority rows per (rule_id, errcode) seen in
            its partition (vectorized pandas sort + groupby.head carry
            across Arrow batches).  ZERO shuffle; emits <= P*keys*K
            rows total.
  stage 2   one window over the survivors, partitioned by
            (rule_id, errcode): <= P*K rows per key — bounded by the
            partition count, never by the data.  A hot errcode (one
            code = 90% of all violations) costs the same as a cold one.
  counts    plain ``groupBy(rule_id, errcode).count()`` — Spark's
            partial aggregation combines map-side, so the hot code is
            reduced before the (tiny: #rules x #codes rows) shuffle —
            broadcast-joined back onto the samples.

A salted-window alternative would shuffle the ENTIRE violations table
on (rule_id, errcode, salt); stage 1 here ships only winners.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# \x1f joins detail for hashing only — US (unit separator) cannot occur
# in gdata/errcode text, so the join is injective for hashing purposes.
_PRIORITY_COLS = ("rule_id", "errcode", "doc_id", "sortkey")


def _with_priority(violations: DataFrame) -> DataFrame:
    return violations.withColumn(
        "priority",
        F.xxhash64(
            *[F.coalesce(F.col(c), F.lit("\x00")) for c in _PRIORITY_COLS],
            F.concat_ws("\x1f", F.coalesce(F.col("detail"), F.array())),
        ),
    )


def _local_topk(k: int):
    """Per-partition per-(rule_id, errcode) K smallest priorities.

    Vectorized: each Arrow batch is concatenated with the carry,
    sorted once, and cut back to K per key with groupby.head — the
    carry holds <= keys*K rows, so task memory is bounded regardless
    of partition size."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for batch in batches:
            if carry is not None:
                batch = pd.concat([carry, batch], ignore_index=True)
            batch = batch.sort_values(
                ["priority", "doc_id", "sortkey"], kind="mergesort"
            )
            # dropna=False: nothing in the schema forbids a NULL
            # rule_id/errcode, and the counts agg keeps the null group —
            # stage 1 must not silently drop what stage 2 will count
            carry = batch.groupby(
                ["rule_id", "errcode"], sort=False, dropna=False
            ).head(k)
        if carry is not None and len(carry):
            yield carry

    return gen


def sample_violations(
    violations: DataFrame, k: int = 10, with_counts: bool = True
) -> DataFrame:
    """K deterministic representative examples per (rule_id, errcode).

    Returns (rule_id, errcode, n_total?, sample_rank, doc_id, detail,
    sortkey), sample_rank in [1, k].  Deterministic: independent of the
    input's partitioning and row order (hash priority + total
    tie-break), so a resumed or re-sharded run triages identically."""
    src = _with_priority(violations)
    survivors = src.mapInPandas(
        _local_topk(k),
        schema=src.schema,
    )
    w = Window.partitionBy("rule_id", "errcode").orderBy(
        "priority", "doc_id", "sortkey"
    )
    sampled = (
        survivors.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
        .drop("priority")
    )
    if not with_counts:
        return sampled.select(
            "rule_id", "errcode", "sample_rank", "doc_id", "detail", "sortkey"
        )
    counts = violations.groupBy("rule_id", "errcode").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    # null-safe join keys for the same reason as the dropna above
    cond = [
        sampled["rule_id"].eqNullSafe(counts["rule_id"]),
        sampled["errcode"].eqNullSafe(counts["errcode"]),
    ]
    return sampled.join(F.broadcast(counts), cond, "inner").select(
        sampled["rule_id"],
        sampled["errcode"],
        counts["n_total"],
        sampled["sample_rank"],
        sampled["doc_id"],
        sampled["detail"],
        sampled["sortkey"],
    )
