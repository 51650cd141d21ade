"""dup — near-duplicate stroke/part detection (dup.py:146-211).

Per document (gates: not alias, not user-owned, no transform —
dup.py:147-149) the reference decomposes strokes into axis-bucketed line
segments and coordinate vectors, then finds the *first* overlapping
near-parallel pair in a fixed precedence order, one error per document
(SingleErrorValidator):

1. horizontal segments: sort by signed distance-to-origin, bounded
   forward scan for pairs with Δdist ≤ 4.0 (0 for hikanji), angle
   difference ≤ 1/60 rad and inclusively-overlapping t ranges
   (dup_line_segments, dup.py:101-118) → code 10 with overlap amount;
2. vertical segments: same with Δdist < 9.0 exclusive → code 11;
3. curves / double curves / same-name parts / part-position marks:
   sort by first coordinate, compare *neighbors only*, all coordinate
   deltas within ±3 (0 for hikanji) (dup_coords, dup.py:136-143) →
   codes 2 / 3 / 99 / 9.  Parts are grouped by quoted name in first-
   occurrence order (dup.py:182-184, 204-206).

The per-document sort + early-exit scan is a sort-based band self-join at
record grain — not expressible as DataFrame ops without losing the
first-match short-circuit — so this runs as an Arrow-batched pandas UDF
over the raw gdata string (one string column through Arrow, all geometry
in-process; embarrassingly parallel across docs, no shuffle at any SF).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from gwv_spark.geom import Line, parse_gdata
from gwv_spark.rules import RuleContext, rule, shape

_D45 = math.pi / 4
_ANGLE_TOL = 1.0 / 60.0

# (dist, angle, t0, t1, line) — the reference's LineSegment (dup.py:61-66).
_Seg = tuple[float, float, int, int, Line]


def _bucket_segment(line: Line, p0, p1, tate: list[_Seg], yoko: list[_Seg]) -> None:
    """addLine (dup.py:69-98): classify one straight segment as
    horizontal-ish (yoko) or vertical-ish (tate) and normalize its
    (dist, angle, t-range)."""
    x0, y0 = p0
    x1, y1 = p1
    if y0 == y1:
        if x0 != x1:
            yoko.append((-y0, 0.0, min(x0, x1), max(x0, x1), line))
        return
    if x0 == x1:
        tate.append((x0, math.pi / 2, min(y0, y1), max(y0, y1), line))
        return
    dist = (x0 * y1 - x1 * y0) / math.hypot(x0 - x1, y0 - y1)
    angle = math.atan2(y1 - y0, x1 - x0)
    if -_D45 < angle < _D45:
        yoko.append((dist, angle, x0, x1, line))
    elif angle > 0:
        tate.append((dist, angle, y0, y1, line))
    else:
        tate.append((dist, angle + math.pi, y1, y0, line))


def _scan_segments(segs: list[_Seg], thresh: float, inclusive: bool):
    """dup_line_segments (dup.py:101-118): stable sort by dist, bounded
    forward scan, first overlapping near-parallel pair wins."""
    segs.sort(key=lambda s: s[0])
    for i, a in enumerate(segs):
        for b in segs[i + 1 :]:
            if b[0] - a[0] > thresh:
                break
            if abs(a[1] - b[1]) > _ANGLE_TOL:
                continue
            ov = (
                (b[2] <= a[3] and a[2] <= b[3])
                if inclusive
                else (b[2] < a[3] and a[2] < b[3])
            )
            if ov:
                amount = min(a[3] - b[2], b[3] - a[2], a[3] - a[2], b[3] - b[2])
                return a[4], b[4], amount
    return None


def _scan_neighbors(elems: list[tuple[Line, list[int]]], thresh: int):
    """dup_coords (dup.py:136-143): sort by first coordinate, compare
    adjacent elements only."""
    elems.sort(key=lambda e: e[1][0])
    for (l1, c1), (l2, c2) in zip(elems, elems[1:]):
        if all(abs(u - v) <= thresh for u, v in zip(c1, c2)):
            return l1, l2
    return None


def _first_dup(gdata: str, hikanji: bool):
    """First duplicate in reference precedence (dup.py:150-211), or None."""
    tate: list[_Seg] = []
    yoko: list[_Seg] = []
    curve: list[tuple[Line, list[int]]] = []
    curve2: list[tuple[Line, list[int]]] = []
    parts: dict[str, list[tuple[Line, list[int]]]] = {}
    partpos: list[tuple[Line, list[int]]] = []

    for line in parse_gdata(gdata):
        st = line.stroke_type
        pts = line.coords()
        if pts is None:
            continue
        # Truncated lines (fewer coord pairs than the stroke type needs)
        # make the reference raise and abort the whole run
        # (dup.py:168-183 indexes coords directly; validator.py:48-55
        # re-raises) — we skip them instead so one malformed record
        # cannot kill an executor.  No parity case reaches this.
        flat = [c for p in pts for c in p]
        if st == 1 and len(pts) >= 2:
            _bucket_segment(line, pts[0], pts[1], tate, yoko)
        elif st == 2 and flat:
            curve.append((line, flat[0:6]))
        elif st in (3, 4) and len(pts) >= 3:
            _bucket_segment(line, pts[0], pts[1], tate, yoko)
            _bucket_segment(line, pts[1], pts[2], tate, yoko)
        elif st == 6 and flat:
            curve2.append((line, flat[0:8]))
        elif st == 7 and len(pts) >= 2:
            _bucket_segment(line, pts[0], pts[1], tate, yoko)
            if flat[2:8]:
                curve.append((line, flat[2:8]))
        elif st == 9 and flat:
            partpos.append((line, flat[0:4]))
        elif st == 99 and flat:
            parts.setdefault(line.part_name, []).append((line, flat))

    if hit := _scan_segments(yoko, 0.0 if hikanji else 4.0, True):
        l1, l2, amount = hit
        return "10", [l1.ref(), l2.ref(), f"I{amount}"]
    if hit := _scan_segments(tate, 0.0 if hikanji else 9.0, False):
        l1, l2, amount = hit
        return "11", [l1.ref(), l2.ref(), f"I{amount}"]

    thresh = 0 if hikanji else 3
    if pair := _scan_neighbors(curve, thresh):
        return "2", [pair[0].ref(), pair[1].ref()]
    if pair := _scan_neighbors(curve2, thresh):
        return "3", [pair[0].ref(), pair[1].ref()]
    for group in parts.values():
        if pair := _scan_neighbors(group, thresh):
            return "99", [pair[0].ref(), pair[1].ref()]
    if pair := _scan_neighbors(partpos, thresh):
        return "9", [pair[0].ref(), pair[1].ref()]
    return None


_RESULT_TYPE = StructType(
    [
        StructField("errcode", StringType()),
        StructField("detail", ArrayType(StringType())),
    ]
)


def _make_dup_udf(ignore_error: bool):
    """Per-record error quarantine — see corner._make_corner_udf."""

    @pandas_udf(_RESULT_TYPE)
    def _dup_udf(gdata: pd.Series, hikanji: pd.Series) -> pd.DataFrame:
        codes: list[str | None] = []
        details: list[list[str] | None] = []
        for g, hk in zip(gdata, hikanji):
            try:
                hit = _first_dup(g, bool(hk))
            except Exception as exc:  # noqa: BLE001
                if not ignore_error:
                    raise
                hit = ("__error__", [f"S{type(exc).__name__}: {exc}"])
            codes.append(hit[0] if hit else None)
            details.append(hit[1] if hit else None)
        return pd.DataFrame({"errcode": codes, "detail": details})

    return _dup_udf


@rule("dup")
def dup(ctx: RuleContext) -> DataFrame:
    # Catalyst-side prefilter before the Arrow transfer: every dup code
    # is a PAIR within one bucket (dup.py:187-211).  Types 3/4/7 emit
    # two elements from one line (two bend segments / segment+curve),
    # so any such line keeps the doc; otherwise a pair needs >= 2 lines
    # of the single-element types (1/2/6/9/99).  Excluded docs can
    # yield neither a violation nor a quarantine row (the element scan
    # skips malformed lines rather than raising — see _first_dup).
    # Measured: excludes ~27% of the gated corpus.
    base = ctx.docs.where(
        "(NOT is_alias) AND (category != 'user-owned') AND (NOT has_transform)"
    ).where(
        "exists(spans_d, a -> get(a, 0) IN (3, 4, 7)) "
        "OR (size(filter(spans_d, a -> get(a, 0) IN (1, 2, 6, 9, 99))) >= 2)"
    )
    r = _make_dup_udf(ctx.ignore_error)(F.col("gdata"), F.col("is_hikanji"))
    d = (
        base.select("doc_id", r.alias("r"))
        .where("r.errcode IS NOT NULL")
        .selectExpr("doc_id", "r.errcode AS ec", "r.detail AS dt")
    )
    return shape(d, "dup", "ec", "dt")
