"""corner — stroke-corner connection analysis (corner.py:729-831).

Per document (gates: not alias, not user-owned, not hikanji, no
transform — corner.py:730-733) the reference decomposes strokes into
vertical-ish / horizontal-ish segments (setSegments, corner.py:196-238),
then attempts to connect every (tate, yoko) pair at the four corners and
at T/⊥/⊢/⊣ mid-joints using per-shape tolerance boxes
(_get_connect_corner_type_maps, corner.py:518-591; _try_connect_*,
corner.py:594-726).  Connections live in a mutable graph with
*preemption*: a later exact match evicts an earlier sloppy one at the
same endpoint (connect, corner.py:288-346).  A post-pass for G/T-design
glyphs re-classifies bottom-left corners using whole-graph topology
heuristics (is_ZH_corner, corner.py:349-497).

The order-dependent mutable graph cannot be expressed relationally, so
the whole per-document analysis runs as an Arrow-batched pandas UDF over
the raw gdata string (embarrassingly parallel across docs; the within-doc
pair loop is O(T×Y) over a handful of segments).  Violations are
(errcode, tate line, yoko line) pairs — possibly several per document
(plain Validator, not SingleErrorValidator).

Where the reference would raise on truncated curve lines
(corner.py:215-216 indexes coords[2]/coords[3] directly and
validator.py:48-55 re-raises, aborting the run) we skip the line instead
so one malformed record cannot kill an executor.
"""

from __future__ import annotations

import functools
import itertools

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from gwv_spark.geom import Line, parse_gdata
from gwv_spark.parse import sql_lit
from gwv_spark.rules import RuleContext, rule, shape

# Sentinel codes.  _OK marks a legitimate connection (the reference's
# _NO_ERROR, corner.py:515); it occupies a slot but emits nothing.
_OK = "=="
# A segment end that cannot take a corner connection (the reference's
# _STYLE_NO_END, corner.py:513).
_ANY = -1

# G/T-design name gates (corner.py:510-511), evaluated as anchored rlike
# on the driver so the UDF receives plain booleans.
RE_G_DESIGN = r"^(?:u[0-9a-f]+-[gi]([0-9]{2})?|zihai-[0-9]{6})$"
RE_T_DESIGN = r"^(?:u[0-9a-f]+-[th]([0-9]{2})?|twedu-.+|lgccc-.+|hka-.+)$"


def _is_yoko(x0: int, y0: int, x1: int, y1: int) -> bool:
    """helper.py:145-150."""
    if y0 == y1 and x0 != x1:
        return True
    dx = x1 - x0
    return -dx < y1 - y0 < dx


class Conn:
    __slots__ = ("tate", "yoko", "tpos", "ypos", "code")

    def __init__(self, tate: "Seg", yoko: "Seg", tpos: int, ypos: int, code: str):
        self.tate = tate
        self.yoko = yoko
        self.tpos = tpos
        self.ypos = ypos
        self.code = code


class Seg:
    """One connectable segment (corner.py:240-277).  Straight segments
    are normalized so (x0,y0) is the left/top endpoint, swapping the
    endpoint shape types along with the coordinates."""

    __slots__ = (
        "stype", "line", "st", "et", "x0", "y0", "x1", "y1",
        "mid_ok", "c0", "c2", "cmid",
    )

    def __init__(self, stype, line: Line, st, et, p0, p1, straight: bool = True):
        x0, y0 = p0
        x1, y1 = p1
        if straight and (x1 < x0 if _is_yoko(x0, y0, x1, y1) else y1 < y0):
            st, et = et, st
            x0, y0, x1, y1 = x1, y1, x0, y0
        self.stype = stype
        self.line = line
        self.st = st
        self.et = et
        self.x0, self.y0, self.x1, self.y1 = x0, y0, x1, y1
        self.mid_ok = straight
        self.c0: Conn | None = None  # start-point connection
        self.c2: Conn | None = None  # end-point connection
        self.cmid: list[Conn] = []  # mid-point connections

    def typ(self, pos: int) -> int:
        return self.st if pos == 0 else self.et

    def pt(self, pos: int) -> tuple[int, int]:
        return (self.x0, self.y0) if pos == 0 else (self.x1, self.y1)

    def slot(self, pos: int) -> Conn | None:
        return self.c0 if pos == 0 else self.c2

    def is_vert(self) -> bool:
        return self.x0 == self.x1

    def is_hori(self) -> bool:
        return self.y0 == self.y1

    def is_yoko(self) -> bool:
        return _is_yoko(self.x0, self.y0, self.x1, self.y1)


def _segments(lines: list[Line]) -> tuple[list[Seg], list[Seg]]:
    """setSegments over all lines (corner.py:196-238) → (tate, yoko)."""
    tate: list[Seg] = []
    yoko: list[Seg] = []
    for line in lines:
        if len(line.vals) <= 2:
            continue
        st_, head, tail = line.stroke_type, line.head_type, line.tail_type
        pts = line.coords()
        if head is None or tail is None or pts is None:
            continue
        if st_ == 1:
            if len(pts) < 2:
                continue
            seg = Seg(st_, line, head, tail, pts[0], pts[1])
            (yoko if seg.is_yoko() else tate).append(seg)
        elif st_ in (2, 6):
            need = 3 if st_ == 2 else 4
            if len(pts) < need:
                continue
            p0, pe = pts[0], pts[need - 1]
            if head in (12, 22, 32):
                tate.append(Seg(st_, line, head, _ANY, p0, pe, False))
            if tail == 7 and p0[0] > pe[0]:
                # left sweep treated as a horizontal (e.g. top-left of 臼)
                yoko.append(Seg(st_, line, 2, _ANY, pe, p0, False))
        elif st_ in (3, 4, 7):
            if len(pts) < 2:
                continue
            seg = Seg(st_, line, head, _ANY, pts[0], pts[1])
            (yoko if seg.is_yoko() else tate).append(seg)
            if st_ == 7 and tail == 7 and len(pts) >= 4 and pts[1][0] > pts[3][0]:
                yoko.append(Seg(st_, line, 2, _ANY, pts[3], pts[1], False))
    return tate, yoko


def _link(t: Seg, y: Seg, tpos: int, ypos: int, code: str) -> None:
    """connect (corner.py:288-346): occupy endpoint slots with
    preemption — an exact (_OK) occupant is never evicted; any other
    occupant is disconnected from *both* of its segments first."""
    if tpos == 0 and t.c0 is not None and t.c0.code == _OK:
        return
    if tpos == 2 and t.c2 is not None and t.c2.code == _OK:
        return
    if ypos == 0 and y.c0 is not None and y.c0.code == _OK:
        return
    if ypos == 2 and y.c2 is not None and y.c2.code == _OK:
        return

    conn = Conn(t, y, tpos, ypos, code)

    def unlink(old: Conn) -> None:
        if old.tpos == 0:
            old.tate.c0 = None
        elif old.tpos == 1:
            old.tate.cmid.remove(old)
        else:
            old.tate.c2 = None
        if old.ypos == 0:
            old.yoko.c0 = None
        elif old.ypos == 1:
            old.yoko.cmid.remove(old)
        else:
            old.yoko.c2 = None

    if tpos == 0:
        if t.c0 is not None:
            unlink(t.c0)
        t.c0 = conn
    elif tpos == 1:
        t.cmid.append(conn)
    else:
        if t.c2 is not None:
            unlink(t.c2)
        t.c2 = conn

    if ypos == 0:
        if y.c0 is not None:
            unlink(y.c0)
        y.c0 = conn
    elif ypos == 1:
        y.cmid.append(conn)
    else:
        if y.c2 is not None:
            unlink(y.c2)
        y.c2 = conn


@functools.lru_cache(maxsize=4)
def _type_maps(is_g: bool, is_t: bool):
    """Tolerance boxes per (tate_pos, yoko_pos) corner and tate endpoint
    shape (corner.py:518-591).  Entries are (code, xmin, xmax, ymin,
    ymax) checked in order on (yoko_end − tate_end) deltas.  Pure in
    (is_g, is_t) and never mutated by callers, so the four possible
    structures are built once per executor instead of per document."""
    return {
        (0, 0): {  # top-left
            12: [(_OK, 0, 0, 0, 0), ("00", -7, 9, -5, 3)],
            22: [("02", -7, 9, -5, 5)],
            0: [("08", -7, 9, 0, 6)],
            32: [("09", -7, 9, -5, 0)],
        },
        (0, 2): {  # top-right
            12: [("20", -7, 9, -5, 3)],
            22: [(_OK, 0, 0, 0, 0), ("22", -7, 9, -5, 5)],
            0: [("28", -7, 9, 0, 6)],
            32: [("29", -7, 9, -5, 0)],
        },
        (2, 0): {  # bottom-left
            13: [(_OK, 0, 0, 0, 0), ("11", -8, 8, -2, 4)],
            313: [("64" if is_g else _OK, 0, 0, 0, 0), ("44", -8, 8, -14, 4)],
            413: [("46" if is_t else _OK, 0, 0, 0, 0), ("66", -8, 8, -14, 4)],
            23: [("13", -8, 8, -6, 4)],
            24: [("1a", -8, 8, -6, 4)],
            0: [("18", -8, 8, -19, -2), ("48", -8, 8, -1, 4)],
            32: [("19", -8, 8, 0, 4)],
        },
        (2, 2): {  # bottom-right
            13: [("31", -8, 8, -2, 4)],
            313: [("34", -8, 8, -14, 4)],
            413: [("36", -8, 8, -14, 4)],
            23: [(_OK, 0, 0, 0, 0), ("33", -8, 8, -6, 4)],
            24: [(_OK, 0, 0, 0, 0), ("aa", -8, 8, -6, 4)],
            0: [("38", -8, 8, -19, -2)],
            32: [("39", -8, 8, -19, 0)],
        },
    }


def _box_code(t: Seg, y: Seg, tpos: int, ypos: int, tmap, open_limit=None) -> str | None:
    """Side-effect-free core of _try_connect_corner (corner.py:594-635):
    classify one (tate endpoint, yoko endpoint) attempt against the
    ordered tolerance boxes.  Returns the code (possibly _OK) or None
    when no box matches.  Shared by the live rule (_corner_try) and the
    pre-preemption box-hits sub-check (boxhit_rows) so the relational
    oracle exercises exactly the classification the rule uses."""
    ttype = t.typ(tpos)
    if ttype not in tmap:
        return None
    if y.typ(ypos) == _ANY:
        return None
    tx, ty = t.pt(tpos)
    yx, yy = y.pt(ypos)
    dx, dy = yx - tx, yy - ty
    code = next(
        (c for c, x_min, x_max, y_min, y_max in tmap[ttype]
         if x_min <= dx <= x_max and y_min <= dy <= y_max),
        None,
    )
    if code is None:
        return None
    if ypos == 2 and y.typ(2) == 0 and (open_limit is None or open_limit <= dx):
        code = "78"  # open end sitting on a horizontal-connect shape
    return code


def _corner_try(t: Seg, y: Seg, tpos: int, ypos: int, tmap, open_limit=None) -> bool:
    """_try_connect_corner (corner.py:594-635)."""
    code = _box_code(t, y, tpos, ypos, tmap, open_limit)
    if code is None:
        return False
    _link(t, y, tpos, ypos, code)
    return True


# Corner-shaped tate endpoint resting on the middle of a horizontal
# (corner.py:500-508): endpoint shape → errcode.
_CORNER_ON_MID = {12: "90", 13: "91", 22: "92", 23: "93", 313: "94", 413: "96", 24: "9a"}


def _mid_of_yoko_try(t: Seg, y: Seg, tpos: int, limits: tuple[int, int]) -> bool:
    """_try_connect_yoko_middle (corner.py:638-683): T / ⊥ joints."""
    if not (y.mid_ok and y.is_hori()):
        return False
    ttype = t.typ(tpos)
    if ttype == _ANY:
        return False
    held = t.slot(tpos)
    if held is not None and held.yoko is y:
        return False
    tx, ty = t.pt(tpos)
    dy = y.y0 - ty
    if not -5 <= dy <= 5:
        return False
    off0, off1 = limits
    if y.st == _ANY or y.c0 is not None:
        off0 = 0
    if y.et == _ANY or y.c2 is not None:
        off1 = 0
    if not (y.x0 + off0 < tx < y.x1 - off1):
        return False
    if ttype in _CORNER_ON_MID:
        code = _CORNER_ON_MID[ttype]
    elif ttype == 0 and (tpos == 2 or dy >= 2):
        code = "98"
    elif dy == 0:
        code = _OK
    elif ttype != 0:
        code = "99"
    else:
        return False
    _link(t, y, tpos, 1, code)
    return True


def _mid_of_tate_try(t: Seg, y: Seg, ypos: int) -> bool:
    """_try_connect_tate_middle (corner.py:686-726): ⊢ / ⊣ joints."""
    if not (t.mid_ok and t.is_vert()):
        return False
    ytype = y.typ(ypos)
    if ytype == _ANY:
        return False
    held = y.slot(ypos)
    if held is not None and held.tate is t:
        return False
    yx, yy = y.pt(ypos)
    dx = yx - t.x0
    if not -7 <= dx <= 7:
        return False
    off0 = 0 if (t.st == _ANY or t.c0 is not None) else 6
    off1 = 0 if (t.et == _ANY or t.c2 is not None) else 19
    if not (t.y0 + off0 < yy < t.y1 - off1):
        return False
    if ypos == 2 and ytype == 0 and dx >= 0:
        code = "78"
    elif dx == 0:
        code = _OK  # open head and hori-connect head are interchangeable
    elif ypos == 0 or ytype == 2:
        code = "77"
    else:
        return False
    _link(t, y, 1, ypos, code)
    return True


def _zh_corner(conn: Conn, yoko: list[Seg]) -> bool:
    """is_ZH_corner (corner.py:349-497): should this vertical's bottom-left
    corner use the zh style?  Inferred from the connection topology."""
    if conn.tpos != 2 or conn.ypos != 0:
        return False
    t, y = conn.tate, conn.yoko

    # closed box to the right (└┘ with ┐) — unless double-boxed
    if (
        t.is_vert()
        and (t.c0 is None or t.c0.ypos != 2)
        and y.c2 is not None
        and y.c2.tpos == 2
    ):
        t2 = y.c2.tate
        if t2.c0 is not None and t2.c0.ypos == 2:
            return False

    # mouth-like shapes: ├ with a closing top box (曰/日/目/臼 family)
    if t.c0 is not None and t.c0.ypos == 0:
        midys = [c.yoko for c in t.cmid if c.ypos == 0]
        y2 = t.c0.yoko
        if midys and y2.c2 is not None and y2.c2.tpos == 0:
            if any(my.c2 is None and my.et == 0 for my in midys):
                return False
            if any(
                my.c2.tate is y2.c2.tate
                for my in midys
                if my.c2 is not None and my.c2.tpos == 1
            ):
                return False
        else:
            for my in midys:
                if my.c2 is not None or my.et != 0:
                    continue
                for oy in yoko:
                    if oy is my:
                        continue
                    if (
                        oy.c0 is None
                        and oy.et != _ANY
                        and oy.c2 is not None
                        and oy.c2.tpos == 1
                        and oy.x0 > my.x1
                        and -4 <= oy.y0 - my.y1 <= 4
                    ):
                        return False

    # ┼ crossing below a ├ joint
    midys = [c.yoko for c in t.cmid if c.ypos == 0 and c.yoko.c2 is None and c.yoko.et == 0]
    midts = [c.tate for c in y.cmid if c.tpos == 2]
    for my, mt in itertools.product(midys, midts):
        if my.x1 > mt.x1 and my.y0 > mt.y0:
            return False

    # bent stroke closing the box from the right
    if t.c0 is not None and t.c0.ypos == 0 and y.c2 is not None and y.c2.tpos == 0:
        y2 = t.c0.yoko
        if (
            y.c2.tate.stype == 3
            and y2.c2 is not None
            and y2.c2.tpos == 0
        ):
            t3 = y2.c2.tate
            if t3.c2 is not None and t3.c2.ypos == 2:
                return False

    # right-side verticals hanging off the same top horizontal
    if t.c0 is not None and t.c0.ypos == 0 and y.c2 is not None and y.c2.tpos == 1:
        t2 = y.c2.tate
        if t2.c0 is not None and t2.c0.ypos == 1 and t.c0.yoko is t2.c0.yoko:
            return False
        if t.cmid:
            midys = [c.yoko for c in t.cmid if c.ypos == 0]
            y2 = t.c0.yoko
            if (
                midys
                and y2.c2 is not None
                and y2.c2.tpos == 1
                and y2.c2.tate is y.c2.tate
            ):
                if any(
                    my.c2.tate is y2.c2.tate
                    for my in midys
                    if my.c2 is not None and my.c2.tpos == 1
                ):
                    return False

    # 廿-shape: two open verticals bridged by a wider horizontal
    if t.c0 is None and t.st == 0 and y.c2 is not None and y.c2.tpos == 2:
        t2 = y.c2.tate
        if t2.c0 is None and t2.st == 0:
            ymin = max(t.y0, t2.y0)
            ymax = min(t.y1, t2.y1)
            for py in yoko:
                if (
                    py.c0 is None
                    and py.c2 is None
                    and py.et == 0
                    and py.x0 < y.x0
                    and py.x1 > y.x1
                    and ymin < py.y0 < ymax
                    and ymin < py.y1 < ymax
                ):
                    return False

    return True


def _corner_violations(gdata: str, is_g: bool, is_t: bool):
    """Full per-document analysis (CornerValidator.validate,
    corner.py:734-831) → [(errcode, tate Line, yoko Line)]."""
    tate, yoko = _segments(parse_gdata(gdata))
    maps = _type_maps(is_g, is_t)

    for t in tate:
        for y in yoko:
            if t.stype in (2, 6) and y.stype in (2, 6, 7):
                continue
            # top-left; curve heads connect leniently with no error
            if (
                y.stype in (2, 6, 7)
                and y.st != _ANY
                and t.st == 12
                and -7 <= y.x0 - t.x0 <= 9
                and -5 <= y.y0 - t.y0 <= 3
            ):
                _link(t, y, 0, 0, _OK)
            else:
                _corner_try(t, y, 0, 0, maps[0, 0])
            _corner_try(t, y, 0, 2, maps[0, 2])
            _corner_try(t, y, 2, 0, maps[2, 0])
            # bottom-right; an H/T-style pair slightly apart is its own code
            if (
                y.et == 0
                and t.et == 32
                and 6 <= y.x1 - t.x1 <= 18
                and 0 <= y.y1 - t.y1 <= 8
            ):
                _link(t, y, 2, 2, "a5")
            else:
                _corner_try(t, y, 2, 2, maps[2, 2], 0)
        for y in yoko:
            _mid_of_yoko_try(t, y, 0, (7, 9))
            _mid_of_yoko_try(t, y, 2, (8, 8))

    for y in yoko:
        if y.stype in (2, 6, 7):
            continue
        for t in tate:
            _mid_of_tate_try(t, y, 0)
            _mid_of_tate_try(t, y, 2)

    out = [
        (c.code, c.tate.line, c.yoko.line)
        for y in yoko
        for c in (y.c0, y.c2, *y.cmid)
        if c is not None and c.code != _OK
    ]

    if is_g or is_t:
        for t in tate:
            conn = t.c2
            if conn is None or conn.ypos != 0 or t.et not in (13, 313, 413):
                continue
            zh = _zh_corner(conn, yoko)
            code = None
            if not zh and t.et == 313:
                code = "14"
            elif not zh and t.et == 413:
                code = "16"
            elif zh and t.et == 13:
                code = "61" if is_g else "41"
            if code is not None:
                out.append((code, t.line, conn.yoko.line))
    return out


_RESULT_TYPE = ArrayType(
    StructType(
        [
            StructField("errcode", StringType()),
            StructField("detail", ArrayType(StringType())),
        ]
    )
)


def _make_corner_udf(ignore_error: bool):
    """Per-record error quarantine (validator.py:46-55): a crashing
    record either aborts the job (default, reference parity) or is
    recorded as an ``__error__`` violation row and skipped — at
    10^12-doc scale one malformed record must not kill a multi-hour
    run, and a quarantine ROW is auditable where an executor log line
    is not."""

    @pandas_udf(_RESULT_TYPE)
    def _corner_udf(gdata: pd.Series, is_g: pd.Series, is_t: pd.Series) -> pd.Series:
        out = []
        for g, gd, td in zip(gdata, is_g, is_t):
            try:
                hits = _corner_violations(g, bool(gd), bool(td))
            except Exception as exc:  # noqa: BLE001
                if not ignore_error:
                    raise
                out.append([("__error__", [f"S{type(exc).__name__}: {exc}"])])
                continue
            out.append([(code, [tl.ref(), yl.ref()]) for code, tl, yl in hits])
        return pd.Series(out)

    return _corner_udf


# the rule's gates (corner.py:730-733), shared with boxhits
_GATE = "(NOT is_alias) AND (category != 'user-owned') AND (NOT is_hikanji) AND (NOT has_transform)"


def _design_flags() -> list:
    """The G/T-design name flags the UDFs take."""
    return [F.expr(f"doc_id RLIKE {sql_lit(p)}") for p in (RE_G_DESIGN, RE_T_DESIGN)]


@rule("corner")
def corner(ctx: RuleContext) -> DataFrame:
    # Catalyst-side prefilter before the Arrow transfer: every corner
    # violation needs a (tate, yoko) connection, i.e. >= 2 segments.
    # Types 1/3/4 yield ONE segment each in setSegments
    # (corner.py:196-238); types 2/6/7 can yield two (the extra yoko
    # sweep), so any such line keeps the doc.  Docs failing this have
    # <= 1 segment — no pair, no conn, no ZH pass, and (all line parses
    # None-guarded) no quarantine-able crash either — so skipping them
    # is exact.  Measured: excludes ~32% of the gated corpus (the
    # part-composition docs), saving their gdata parse in Python.
    base = ctx.docs.where(_GATE).where(
        "exists(spans_d, a -> get(a, 0) IN (2, 6, 7)) "
        "OR (size(filter(spans_d, a -> get(a, 0) IN (1, 3, 4))) >= 2)"
    )
    hits = _make_corner_udf(ctx.ignore_error)(F.col("gdata"), *_design_flags())
    d = (
        base.select("doc_id", hits.alias("hits"))
        .where("size(hits) > 0")
        .selectExpr("doc_id", "explode(hits) AS h")
        .selectExpr("doc_id", "h.errcode AS ec", "h.detail AS dt")
    )
    return shape(d, "corner", "ec", "dt")


# ------------------------------------------------- box-hits sub-check

def boxhit_rows(gdata: str, is_g: bool, is_t: bool):
    """Pre-preemption corner tolerance-box hits.

    Every (tate, yoko) pair × corner position whose endpoint deltas fall
    in a tolerance box — i.e. the declarative subset of
    _corner_violations BEFORE the connection graph applies preemption /
    eviction / mid-joints / the ZH post-pass.  This reuses the live
    rule's _segments and _box_code verbatim, so a relational oracle over
    these rows differentially validates the rule's segment derivation
    and box classification (corner.py:196-238, 518-635); only the
    order-dependent graph semantics remain covered by the fuzz
    differential alone."""
    tate, yoko = _segments(parse_gdata(gdata))
    maps = _type_maps(is_g, is_t)
    out = []
    for t in tate:
        for y in yoko:
            if t.stype in (2, 6) and y.stype in (2, 6, 7):
                continue
            hits = []
            if (
                y.stype in (2, 6, 7)
                and y.st != _ANY
                and t.st == 12
                and -7 <= y.x0 - t.x0 <= 9
                and -5 <= y.y0 - t.y0 <= 3
            ):
                pass  # lenient top-left curve connection — _OK, never an error
            else:
                hits.append((0, 0, _box_code(t, y, 0, 0, maps[0, 0])))
            hits.append((0, 2, _box_code(t, y, 0, 2, maps[0, 2])))
            hits.append((2, 0, _box_code(t, y, 2, 0, maps[2, 0])))
            if (
                y.et == 0
                and t.et == 32
                and 6 <= y.x1 - t.x1 <= 18
                and 0 <= y.y1 - t.y1 <= 8
            ):
                hits.append((2, 2, "a5"))
            else:
                hits.append((2, 2, _box_code(t, y, 2, 2, maps[2, 2], 0)))
            for tpos, ypos, code in hits:
                if code is not None and code != _OK:
                    out.append(
                        (
                            code,
                            f"{tpos}{ypos}",
                            f"{t.line.offset}:{t.line.text}",
                            f"{y.line.offset}:{y.line.text}",
                        )
                    )
    return out


_BOXHITS_TYPE = ArrayType(
    StructType(
        [
            StructField("errcode", StringType()),
            StructField("pos", StringType()),
            StructField("tate_ref", StringType()),
            StructField("yoko_ref", StringType()),
        ]
    )
)


@pandas_udf(_BOXHITS_TYPE)
def _boxhits_udf(gdata: pd.Series, is_g: pd.Series, is_t: pd.Series) -> pd.Series:
    return pd.Series(
        [boxhit_rows(g, bool(gd), bool(td)) for g, gd, td in zip(gdata, is_g, is_t)]
    )


def boxhits(ctx: RuleContext) -> DataFrame:
    """doc_id, errcode, pos, tate_ref, yoko_ref — same gates as the rule."""
    return (
        ctx.docs.where(_GATE)
        .select("doc_id", _boxhits_udf(F.col("gdata"), *_design_flags()).alias("hits"))
        .where("size(hits) > 0")
        .selectExpr("doc_id", "explode(hits) AS h")
        .selectExpr("doc_id", "h.errcode", "h.pos", "h.tate_ref", "h.yoko_ref")
    )
