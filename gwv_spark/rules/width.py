"""width — effective horizontal extent vs registered width class
(width.py:93-156).

Gates: category ∉ {ids, ucs-kanji, cdp, koseki, ext, bsh}, no transform.
The extent fold is order-dependent (a nonspacing part copies the
*running* min/max, width.py:132-134), so it runs as a sequential
F.aggregate over the spans array; per-part attributes (buhin width
table, width-class groups, fullwidth-name regex, '-halfwidth' sibling
existence) are joined/precomputed per span before the fold.

Verdict (width.py:147-155): looks-halfwidth := (maxX ≤ 110 ∧ minX < 90)
must equal (width class ≠ 2); codes "0"/"1"/"2" by class, no params.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gwv_spark.parse import sql_in, sql_lit
from gwv_spark.rules import EMPTY_DETAIL, RuleContext, rule, shape
from gwv_spark.rules.order import RE_REGIONS

_INF = float("inf")

# width.py:65-90 (hardcoded part placement widths, /200 box units)
BUHIN_WIDTHS: dict[str, tuple[float, float]] = {
    "left-half-circle": (15.0, 100.0),
    "right-half-circle": (100.0, 185.0),
    "palatal-hook": (40.0, 64.0),
    "short-backslash": (94.0, 110.0),
    "short-slash": (89.0, 105.0),
    "small-diamond": (76.0, 124.0),
    "vertical-short-bar": (99.0, 102.0),
    "u002c": (36.0, 56.0),
    "u002e": (44.0, 56.0),
    "u0049": (30.0, 70.0),
    "u006a": (9.0, 56.0),
    "u006c": (30.0, 70.0),
    "u02d9": (44.0, 56.0),
    "u02db": (49.0, 79.0),
    "u026a": (30.0, 70.0),
    "u0020-u0309": (41.0, 63.0),
    "u0020-u0323": (44.0, 56.0),
    "u16c1": (50.0, 50.0),
    "u2019": (36.0, 56.0),
    "u2032": (40.0, 60.0),
    "u25e6": (33.0, 67.0),
    "u25e6-fullwidth": (83.0, 117.0),
    "u26ac": (62.4, 137.6),
    "u30fb": (92.0, 108.0),
}

_RE_HALFWIDTH_NAME = r"^uff(6[1-9a-f]|[7-9a-d][0-9a-f]|e[89a-e])$"
_RE_FULLWIDTH_NAME = r"^uff([0-5][0-9a-f]|60|e[0-6])$"
_RE_HEN = "-" + RE_REGIONS + r"?01(-(var|itaiji)-|$)"

_SKIP_CATS = ["ids", "ucs-kanji", "cdp", "koseki", "ext", "bsh"]


def _is_halfwidth_name(c: str) -> str:
    return f"(endswith({c}, '-halfwidth') OR ({c} RLIKE {sql_lit(_RE_HALFWIDTH_NAME)}))"


def _is_fullwidth_name(c: str) -> str:
    return f"(endswith({c}, '-fullwidth') OR ({c} RLIKE {sql_lit(_RE_FULLWIDTH_NAME)}))"


def _dwidth(c: str, groups: dict) -> str:
    """getDWidth (width.py:53-59) as a CASE over literal sets."""
    nonspacing = sorted(groups.get("NonSpacingGlyphs-Halfwidth", []))
    half = sorted(
        set(groups.get("HalfwidthGlyphs-BMP", []))
        | set(groups.get("HalfwidthGlyphs-SMP", []))
        | set(groups.get("HalfwidthGlyphs-nonUCS", []))
        | set(groups.get("HalfwidthGlyphs-sans", []))
    )
    arms = [f"WHEN {sql_in(c, vals)} THEN {w}" for w, vals in ((0, nonspacing), (1, half)) if vals]
    return f"(CASE {' '.join(arms)} ELSE 2 END)" if arms else "2"


def _buhin_edge(gn: str, xl: str, w: str, side: int) -> str:
    """The part's placement edge from the BUHIN_WIDTHS table (side 0:
    left, 1: right), NULL for a part not in the table."""
    arms = " ".join(
        f"WHEN {gn} = {sql_lit(part)} THEN {xl} + {w} * {sql_lit(edges[side])} / 200.0D"
        for part, edges in BUHIN_WIDTHS.items()
    )
    return f"(CASE {arms} ELSE CAST(NULL AS DOUBLE) END)"


@rule("width")
def width(ctx: RuleContext) -> DataFrame:
    groups = ctx.dims.get("groups", {})
    gate = f"(NOT {sql_in('category', _SKIP_CATS)}) AND (NOT has_transform)"

    # ---- per-span effective-extent elements (line order preserved)
    # 'd' = shared parsed int columns (derive.exploded_spans).
    # The doc-level gates are plain columns ON the spans table
    # (exploded_spans carries category/has_transform per span), so the
    # gate is a pushed-down filter — joining spans against the gated doc
    # set here would shuffle the ENTIRE spans table just to re-derive
    # this predicate.
    st, dn = "get(d, 0)", "size(d)"
    n_pairs = f"CAST(floor(({dn} - 3) / 2) AS INT)"
    pair_idx = f"sequence(0, greatest({n_pairs} - 1, 0))"
    pairs_ok = (
        f"CASE WHEN {n_pairs} <= 0 THEN false ELSE forall({pair_idx}, "
        "i -> get(d, i * 2 + 3) IS NOT NULL AND get(d, i * 2 + 4) IS NOT NULL) END"
    )
    # for 99-lines KageLine.coords uses only the two placement pairs
    pairs_ok_99 = (
        f"({dn} >= 7) AND get(d, 3) IS NOT NULL AND get(d, 4) IS NOT NULL "
        "AND get(d, 5) IS NOT NULL AND get(d, 6) IS NOT NULL"
    )
    # only stroke_type == 0 lines are skipped outright (width.py:115);
    # unparsable stroke types still contribute coords like stroke lines
    sp = ctx.spans.where(gate).where(
        f"({st} IS NULL OR ({st} != 0)) "
        f"AND CASE WHEN {st} = 99 THEN {pairs_ok_99} ELSE {pairs_ok} END"
    )

    # stroke lines: min/max over the x coordinates
    xs = f"filter(transform({pair_idx}, i -> get(d, i * 2 + 3)), x -> x IS NOT NULL)"
    # part lines: placement box + part class
    xl = "CAST(get(d, 3) AS DOUBLE)"
    w = f"(CAST(get(d, 5) AS DOUBLE) - {xl})"
    elem_pre = (
        f"CASE WHEN {st} = 99 THEN named_struct('typ', 'P', "
        f"'a', {_buhin_edge('media_ref', xl, w, 0)}, 'b', {_buhin_edge('media_ref', xl, w, 1)}, "
        f"'xl', {xl}, 'w', {w}, 'dw', {_dwidth('media_ref', groups)}, 'gn', media_ref, "
        "'off', `offset`) "
        f"ELSE named_struct('typ', 'S', 'a', CAST(array_min({xs}) AS DOUBLE), "
        f"'b', CAST(array_max({xs}) AS DOUBLE), 'xl', CAST(NULL AS DOUBLE), "
        "'w', CAST(NULL AS DOUBLE), 'dw', CAST(NULL AS INT), 'gn', CAST(NULL AS STRING), "
        "'off', `offset`) END"
    )
    # parts with <8 columns have no part name — the reference crashes
    # there; we drop the line
    sp = sp.selectExpr("*", f"{elem_pre} AS elem_pre").where(
        "elem_pre.typ = 'S' OR media_ref IS NOT NULL"
    )

    # '-halfwidth' sibling existence probe (width.py:136): the probed
    # key is media_ref + '-halfwidth', so only doc_ids ENDING in
    # '-halfwidth' can ever match — filter the probe dim down to those
    # and broadcast it.  One broadcast left join over all spans (stroke
    # spans have NULL media_ref → NULL key → no match, exactly the
    # wanted semantics), no shuffle, and the heavy per-span element
    # expressions are evaluated once instead of once per stroke/part
    # branch of a union.
    probe = ctx.docs.where("endswith(doc_id, '-halfwidth')").selectExpr(
        "doc_id AS __hw", "true AS has_hw"
    )
    sp = sp.join(
        F.broadcast(probe), F.expr("concat(media_ref, '-halfwidth') = __hw"), "left"
    ).drop("__hw")

    # finalize per-span (a, b) where computable without running state
    is_part = "(elem_pre.typ = 'P')"
    wide_quote = f"({_is_fullwidth_name('elem_pre.gn')} OR has_hw IS NOT NULL)"

    def edge(field: str, wide: float, narrow: float, half: float) -> str:
        e = "elem_pre"
        return (
            f"CASE WHEN NOT {is_part} THEN {e}.{field} ELSE (CASE "
            f"WHEN {e}.{field} IS NOT NULL THEN {e}.{field} "  # buhin table
            f"WHEN {e}.dw = 0 THEN NULL "  # nonspacing: running state
            f"WHEN ({e}.dw = 2) AND {wide_quote} THEN {e}.xl + {e}.w * {sql_lit(wide)} "
            f"WHEN {e}.dw = 2 THEN {e}.xl + {e}.w * {sql_lit(narrow)} "
            f"ELSE {e}.xl + {e}.w * {sql_lit(half)} END) END"
        )

    typ = (
        f"CASE WHEN {is_part} AND (elem_pre.dw = 0) AND elem_pre.a IS NULL THEN 'N' ELSE 'V' END"
    )
    elems = sp.selectExpr(
        "doc_id",
        f"named_struct('off', elem_pre.off, 'typ', {typ}, 'a', {edge('a', 0.31, 0.06, 0.06)}, "
        f"'b', {edge('b', 0.69, 0.94, 0.44)}) AS elem",
    )
    folded = elems.groupBy("doc_id").agg(F.expr("array_sort(collect_list(elem)) AS arr"))
    inf = sql_lit(_INF)
    fold = (
        f"aggregate(arr, named_struct('mn', {inf}, 'mx', {sql_lit(-_INF)}), (acc, e) -> named_struct("
        "'mn', CASE WHEN e.typ = 'N' THEN least(acc.mn, acc.mx) ELSE least(acc.mn, e.a, e.b) END, "
        "'mx', CASE WHEN e.typ = 'N' THEN greatest(acc.mx, acc.mn) "
        "ELSE greatest(acc.mx, e.a, e.b) END))"
    )
    folded = folded.selectExpr("doc_id", f"{fold} AS mm")

    # gated doc set left-joined with the fold: a doc with ZERO surviving
    # spans still gets a verdict via the name-based overrides below.
    # Only doc_id crosses the shuffle (spans stays behind).
    def by_name(full: str, half: str, hen: str, other: str) -> str:
        return (
            f"CASE WHEN {_is_fullwidth_name('doc_id')} THEN {full} "
            f"WHEN {_is_halfwidth_name('doc_id')} THEN {half} "
            f"WHEN doc_id RLIKE {sql_lit(_RE_HEN)} THEN {hen} ELSE {other} END"
        )

    gwidth = _dwidth("doc_id", groups)
    d2 = (
        ctx.docs.where(gate)
        .select("doc_id")
        .join(folded, "doc_id", "left")
        .selectExpr(
            "*",
            f"{by_name('0.0D', '0.0D', '0.0D', f'coalesce(mm.mn, {inf})')} AS minx",
            f"{by_name('200.0D', '100.0D', '200.0D', f'coalesce(mm.mx, {sql_lit(-_INF)})')} AS maxx",
        )
        .where(f"maxx != {sql_lit(-_INF)}")
        # looks-halfwidth must equal (width class != 2)
        .where(f"((maxx <= 110) AND (minx < 90)) != ({gwidth} != 2)")
        .selectExpr("*", f"CAST({gwidth} AS STRING) AS errcode_")
    )
    return shape(d2, "width", "errcode_", EMPTY_DETAIL)
