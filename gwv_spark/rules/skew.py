"""skew — near-vertical/horizontal stroke distortion (skew.py:75-162).

Gates: not alias, not user-owned.  Per line, by stroke type:
  1: |Δx| ≤ |Δy|, 0<|Δx|≤3 → "11"; |Δx|>|Δy|, 0<|Δy|≤3 → "10"
  3: first half 0<|Δx₁|≤3 → "31"; else second half 0<|Δy₂|≤3 → "30"
  4: second half 0<|Δy|≤3 → "40"
  7: first segment yoko → "70"; snapped (xΔ₁=0≠xΔ₂ or |θ₁-θ₂|·60>3) →
     "71"; 0<|Δx₁|≤3 → "72"
Angle params use Python round() = banker's rounding → SQL bround.
Lines whose parsed coords contain NULLs are skipped (KageLine.coords →
None, kagedata.py:100-110).  Native after explode: atan2/degrees are
JVM-side; report order within an errcode is angle-descending
(skew.py:66-72) — encoded in the sortkey.

Scale: narrow map over spans; no shuffle (the sort is report-time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from gwv_spark.parse import sql_lit
from gwv_spark.rules import RuleContext, rule, shape, tag_f, tag_line

_PI = 3.141592653589793


def _deg(c: str) -> str:
    return f"{c} * 180.0D / {sql_lit(_PI)}"


def classify(ctx: RuleContext) -> DataFrame:
    """Flat per-line classification: (doc_id, offset, text, errcode_,
    angle) for offending lines."""
    # 'd' = shared parsed int columns (derive.exploded_spans)
    n_pairs = "CAST(floor((size(d) - 3) / 2) AS INT)"
    # KageLine.coords is None iff any zipped (x, y) pair has a NULL
    pair_ok = (
        f"forall(sequence(0, {n_pairs} - 1), "
        "i -> get(d, i * 2 + 3) IS NOT NULL AND get(d, i * 2 + 4) IS NOT NULL)"
    )
    sp = ctx.spans.where(
        "NOT is_alias AND category != 'user-owned' AND get(d, 0) IN (1, 3, 4, 7) "
        f"AND {n_pairs} >= CASE WHEN get(d, 0) = 1 THEN 2 ELSE 3 END AND {pair_ok}"
    )
    x0, y0, x1, y1, x2, y2 = (f"get(d, {i})" for i in range(3, 9))

    # stype 1
    xdif, ydif = f"abs({x0} - {x1})", f"abs({y0} - {y1})"
    t1_vert = f"{xdif} <= {ydif} AND {xdif} != 0 AND {xdif} <= 3"
    t1_hori = f"{xdif} > {ydif} AND {ydif} != 0 AND {ydif} <= 3"
    t1_code = f"CASE WHEN {t1_vert} THEN '11' WHEN {t1_hori} THEN '10' END"
    t1_angle = (
        f"CASE WHEN {t1_vert} THEN bround({_deg(f'atan2({xdif}, {ydif})')}, 1) "
        f"WHEN {t1_hori} THEN bround({_deg(f'atan2({ydif}, {xdif})')}, 1) END"
    )

    # stype 3
    xdif2, ydif2 = f"abs({x1} - {x2})", f"abs({y1} - {y2})"
    t3_first = f"{xdif} != 0 AND {xdif} <= 3"
    t3_last = f"{ydif2} != 0 AND {ydif2} <= 3"
    t3_code = f"CASE WHEN {t3_first} THEN '31' WHEN {t3_last} THEN '30' END"
    t3_angle = (
        f"CASE WHEN {t3_first} THEN bround({_deg(f'atan2({xdif}, {ydif})')}, 1) "
        f"WHEN {t3_last} THEN bround({_deg(f'atan2({ydif2}, {xdif2})')}, 1) END"
    )

    # stype 4 (second half)
    t4_code = f"CASE WHEN {t3_last} THEN '40' END"
    t4_angle = f"CASE WHEN {t3_last} THEN bround({_deg(f'atan2({ydif2}, {xdif2})')}, 1) END"

    # stype 7
    dx, dy = f"({x1} - {x0})", f"({y1} - {y0})"
    is_yoko = f"{y0} = {y1} AND {x0} != {x1} OR -{dx} < {dy} AND {dy} < {dx}"
    sdx1, sdy1 = f"CAST({dx} AS DOUBLE)", f"CAST({dy} AS DOUBLE)"
    theta1 = (
        f"CASE WHEN {sdx1} = 0 AND {sdy1} = 0 THEN {sql_lit(_PI / 2)} "
        f"ELSE atan2({sdy1}, {sdx1}) END"
    )
    sdx2, sdy2 = f"CAST({x2} - {x1} AS DOUBLE)", f"CAST({y2} - {y1} AS DOUBLE)"
    theta2 = f"atan2({sdy2}, {sdx2})"
    dtheta = f"abs({theta1} - {theta2})"
    snapped = f"{sdx1} = 0 AND {sdx2} != 0 OR {dtheta} * 60 > 3"
    t7_skewed = f"{sdx1} != 0 AND {sdx1} >= -3 AND {sdx1} <= 3"
    t7_code = f"CASE WHEN {is_yoko} THEN '70' WHEN {snapped} THEN '71' WHEN {t7_skewed} THEN '72' END"
    t7_angle = (
        f"CASE WHEN {is_yoko} THEN CAST(NULL AS DOUBLE) "
        f"WHEN {snapped} THEN bround({_deg(dtheta)}, 1) "
        f"WHEN {t7_skewed} THEN bround(abs(90.0D - {_deg(theta1)}), 1) END"
    )

    def by_type(arms: list[str]) -> str:
        return "CASE " + " ".join(
            f"WHEN get(d, 0) = {st} THEN {a}" for st, a in zip((1, 3, 4, 7), arms)
        ) + " END"

    return sp.selectExpr(
        "*",
        f"{by_type([t1_code, t3_code, t4_code, t7_code])} AS errcode_",
        f"{by_type([t1_angle, t3_angle, t4_angle, t7_angle])} AS angle",
    ).where("errcode_ IS NOT NULL")


@rule("skew")
def skew(ctx: RuleContext) -> DataFrame:
    out = classify(ctx)
    line = tag_line("`offset`", "text")
    detail = (
        f"CASE WHEN angle IS NOT NULL THEN array({line}, {tag_f('angle')}) "
        f"ELSE array({line}) END"
    )
    # angle-descending report order (stable by doc then line underneath)
    sortkey = (
        "concat(lpad(CAST(CAST(10000.0D - coalesce(angle, 0.0D) * 10 AS INT) AS STRING), 6, '0'), "
        "'#', doc_id, '#', lpad(CAST(`offset` AS STRING), 6, '0'))"
    )
    return shape(out, "skew", "errcode_", detail, sortkey)
