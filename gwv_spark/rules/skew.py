"""skew — near-vertical/horizontal stroke distortion (skew.py:75-162).

Gates: not alias, not user-owned.  Per line, by stroke type:
  1: |Δx| ≤ |Δy|, 0<|Δx|≤3 → "11"; |Δx|>|Δy|, 0<|Δy|≤3 → "10"
  3: first half 0<|Δx₁|≤3 → "31"; else second half 0<|Δy₂|≤3 → "30"
  4: second half 0<|Δy|≤3 → "40"
  7: first segment yoko → "70"; snapped (xΔ₁=0≠xΔ₂ or |θ₁-θ₂|·60>3) →
     "71"; 0<|Δx₁|≤3 → "72"
Angle params use Python round() = banker's rounding → F.bround.
Lines whose parsed coords contain NULLs are skipped (KageLine.coords →
None, kagedata.py:100-110).  Native after explode: atan2/degrees are
JVM-side; report order within an errcode is angle-descending
(skew.py:66-72) — encoded in the sortkey.

Scale: narrow map over spans; no shuffle (the sort is report-time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gwv_spark.rules import RuleContext, rule, shape, tag_f, tag_line

_PI = 3.141592653589793


def _deg(c):
    return c * F.lit(180.0) / F.lit(_PI)


def classify(ctx: RuleContext) -> DataFrame:
    """Flat per-line classification: (doc_id, offset, text, errcode_,
    angle) for offending lines."""
    sp = ctx.spans.where(
        (~F.col("is_alias")) & (F.col("category") != "user-owned")
    )  # 'd' = shared parsed int columns (derive.exploded_spans)
    d = F.col("d")
    n_pairs = F.floor((F.size(d) - 3) / 2).cast("int")
    # KageLine.coords is None iff any zipped (x, y) pair has a NULL
    pair_ok = F.forall(
        F.sequence(F.lit(0), n_pairs - 1),
        lambda i: F.get(d, 3 + i * 2).isNotNull() & F.get(d, 4 + i * 2).isNotNull(),
    )
    sp = sp.where(F.get(d, 0).isin(1, 3, 4, 7)).where(n_pairs >= F.when(F.get(d, 0) == 1, 2).otherwise(3))
    sp = sp.where(pair_ok)

    x0, y0 = F.get(d, 3), F.get(d, 4)
    x1, y1 = F.get(d, 5), F.get(d, 6)
    x2, y2 = F.get(d, 7), F.get(d, 8)

    # stype 1
    xdif = F.abs(x0 - x1)
    ydif = F.abs(y0 - y1)
    t1_vert = (xdif <= ydif) & (xdif != 0) & (xdif <= 3)
    t1_hori = (xdif > ydif) & (ydif != 0) & (ydif <= 3)
    t1_code = F.when(t1_vert, F.lit("11")).when(t1_hori, F.lit("10"))
    t1_angle = F.when(t1_vert, F.bround(_deg(F.atan2(xdif, ydif)), 1)).when(
        t1_hori, F.bround(_deg(F.atan2(ydif, xdif)), 1)
    )

    # stype 3
    xdif1 = F.abs(x0 - x1)
    ydif1 = F.abs(y0 - y1)
    xdif2 = F.abs(x1 - x2)
    ydif2 = F.abs(y1 - y2)
    t3_first = (xdif1 != 0) & (xdif1 <= 3)
    t3_last = (ydif2 != 0) & (ydif2 <= 3)
    t3_code = F.when(t3_first, F.lit("31")).when(t3_last, F.lit("30"))
    t3_angle = F.when(t3_first, F.bround(_deg(F.atan2(xdif1, ydif1)), 1)).when(
        t3_last, F.bround(_deg(F.atan2(ydif2, xdif2)), 1)
    )

    # stype 4 (second half)
    t4_cond = (ydif2 != 0) & (ydif2 <= 3)
    t4_code = F.when(t4_cond, F.lit("40"))
    t4_angle = F.when(t4_cond, F.bround(_deg(F.atan2(ydif2, xdif2)), 1))

    # stype 7
    dx = x1 - x0
    dy = y1 - y0
    is_yoko = ((y0 == y1) & (x0 != x1)) | ((-dx < dy) & (dy < dx))
    sdx1 = (x1 - x0).cast("double")
    sdy1 = (y1 - y0).cast("double")
    theta1 = F.when((sdx1 == 0) & (sdy1 == 0), F.lit(_PI / 2)).otherwise(
        F.atan2(sdy1, sdx1)
    )
    sdx2 = (x2 - x1).cast("double")
    sdy2 = (y2 - y1).cast("double")
    theta2 = F.atan2(sdy2, sdx2)
    snapped = ((sdx1 == 0) & (sdx2 != 0)) | (F.abs(theta1 - theta2) * 60 > 3)
    t7_skewed = (sdx1 != 0) & (sdx1 >= -3) & (sdx1 <= 3)
    t7_code = (
        F.when(is_yoko, F.lit("70"))
        .when(snapped, F.lit("71"))
        .when(t7_skewed, F.lit("72"))
    )
    t7_angle = (
        F.when(is_yoko, F.lit(None).cast("double"))
        .when(snapped, F.bround(_deg(F.abs(theta1 - theta2)), 1))
        .when(t7_skewed, F.bround(F.abs(F.lit(90.0) - _deg(theta1)), 1))
    )

    errcode = (
        F.when(F.get(d, 0) == 1, t1_code)
        .when(F.get(d, 0) == 3, t3_code)
        .when(F.get(d, 0) == 4, t4_code)
        .when(F.get(d, 0) == 7, t7_code)
    )
    angle = (
        F.when(F.get(d, 0) == 1, t1_angle)
        .when(F.get(d, 0) == 3, t3_angle)
        .when(F.get(d, 0) == 4, t4_angle)
        .when(F.get(d, 0) == 7, t7_angle)
    )
    return (
        sp.withColumn("errcode_", errcode)
        .withColumn("angle", angle)
        .where(F.col("errcode_").isNotNull())
    )


@rule("skew")
def skew(ctx: RuleContext) -> DataFrame:
    out = classify(ctx)
    detail = F.when(
        F.col("angle").isNotNull(),
        F.array(tag_line(F.col("offset"), F.col("text")), tag_f(F.col("angle"))),
    ).otherwise(F.array(tag_line(F.col("offset"), F.col("text"))))
    # angle-descending report order (stable by doc then line underneath)
    sortkey = F.concat(
        F.lpad((F.lit(10000.0) - F.coalesce(F.col("angle"), F.lit(0.0)) * 10).cast("int").cast("string"), 6, "0"),
        F.lit("#"),
        F.col("doc_id"),
        F.lit("#"),
        F.lpad(F.col("offset").cast("string"), 6, "0"),
    )
    return shape(out, "skew", F.col("errcode_"), detail, sortkey)
