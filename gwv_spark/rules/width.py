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

from gwv_spark.rules import RuleContext, rule, shape
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


def _is_halfwidth_name(c):
    return c.endswith("-halfwidth") | c.rlike(_RE_HALFWIDTH_NAME)


def _is_fullwidth_name(c):
    return c.endswith("-fullwidth") | c.rlike(_RE_FULLWIDTH_NAME)


def _dwidth(c, groups: dict) -> object:
    """getDWidth (width.py:53-59) as a when-chain over literal sets."""
    nonspacing = sorted(groups.get("NonSpacingGlyphs-Halfwidth", []))
    half = sorted(
        set(groups.get("HalfwidthGlyphs-BMP", []))
        | set(groups.get("HalfwidthGlyphs-SMP", []))
        | set(groups.get("HalfwidthGlyphs-nonUCS", []))
        | set(groups.get("HalfwidthGlyphs-sans", []))
    )
    out = F.lit(2)
    if half:
        out = F.when(c.isin(half), F.lit(1)).otherwise(out)
    if nonspacing:
        out = F.when(c.isin(nonspacing), F.lit(0)).otherwise(out)
    return out


@rule("width")
def width(ctx: RuleContext) -> DataFrame:
    groups = ctx.dims.get("groups", {})

    docs = ctx.docs.where(
        (~F.col("category").isin(_SKIP_CATS)) & (~F.col("has_transform"))
    ).select("doc_id", "spans")

    # ---- per-span effective-extent elements (line order preserved)
    # 'd' = shared parsed int columns (derive.exploded_spans).
    # The doc-level gates are plain columns ON the spans table
    # (exploded_spans carries category/has_transform per span), so the
    # gate is a pushed-down filter — joining spans against the gated doc
    # set here would shuffle the ENTIRE spans table just to re-derive
    # this predicate.
    sp = ctx.spans.where(
        (~F.col("category").isin(_SKIP_CATS)) & (~F.col("has_transform"))
    )
    d = F.col("d")
    st = F.get(d, 0)
    dn = F.size(d)
    n_pairs = F.floor((dn - 3) / 2).cast("int")
    pairs_ok = F.when(n_pairs <= 0, F.lit(False)).otherwise(
        F.forall(
            F.sequence(F.lit(0), F.greatest(n_pairs - 1, F.lit(0))),
            lambda i: F.get(d, 3 + i * 2).isNotNull() & F.get(d, 4 + i * 2).isNotNull(),
        )
    )
    # for 99-lines KageLine.coords uses only the two placement pairs
    pairs_ok_99 = (
        (dn >= 7)
        & F.get(d, 3).isNotNull() & F.get(d, 4).isNotNull()
        & F.get(d, 5).isNotNull() & F.get(d, 6).isNotNull()
    )
    # only stroke_type == 0 lines are skipped outright (width.py:115);
    # unparsable stroke types still contribute coords like stroke lines
    sp = sp.where(st.isNull() | (st != 0)).where(
        F.when(st == 99, pairs_ok_99).otherwise(pairs_ok)
    )

    # stroke lines: min/max over the x coordinates
    xs = F.filter(
        F.transform(F.sequence(F.lit(0), F.greatest(n_pairs - 1, F.lit(0))), lambda i: F.get(d, 3 + i * 2)),
        lambda x: x.isNotNull(),
    )
    sxmin = F.array_min(xs).cast("double")
    sxmax = F.array_max(xs).cast("double")

    # part lines: placement box + part class
    xl = F.get(d, 3).cast("double")
    xr = F.get(d, 5).cast("double")
    w = xr - xl
    gn = F.col("media_ref")
    buhin_a = F.lit(None).cast("double")
    buhin_b = F.lit(None).cast("double")
    for part, (lo, hi) in BUHIN_WIDTHS.items():
        buhin_a = F.when(gn == part, xl + w * F.lit(lo) / F.lit(200.0)).otherwise(buhin_a)
        buhin_b = F.when(gn == part, xl + w * F.lit(hi) / F.lit(200.0)).otherwise(buhin_b)
    dw = _dwidth(gn, groups)

    sp = sp.withColumn(
        "elem_pre",
        F.when(
            st == 99,
            F.struct(
                F.lit("P").alias("typ"),
                buhin_a.alias("a"),
                buhin_b.alias("b"),
                xl.alias("xl"),
                w.alias("w"),
                dw.alias("dw"),
                gn.alias("gn"),
                F.col("offset").alias("off"),
            ),
        ).otherwise(
            F.struct(
                F.lit("S").alias("typ"),
                sxmin.alias("a"),
                sxmax.alias("b"),
                F.lit(None).cast("double").alias("xl"),
                F.lit(None).cast("double").alias("w"),
                F.lit(None).cast("int").alias("dw"),
                F.lit(None).cast("string").alias("gn"),
                F.col("offset").alias("off"),
            )
        ),
    )
    # parts with <8 columns have no part name — the reference crashes
    # there; we drop the line
    sp = sp.where((F.col("elem_pre.typ") == "S") | F.col("media_ref").isNotNull())

    # '-halfwidth' sibling existence probe (width.py:136): the probed
    # key is media_ref + '-halfwidth', so only doc_ids ENDING in
    # '-halfwidth' can ever match — filter the probe dim down to those
    # and broadcast it.  One broadcast left join over all spans (stroke
    # spans have NULL media_ref → NULL key → no match, exactly the
    # wanted semantics), no shuffle, and the heavy per-span element
    # expressions are evaluated once instead of once per stroke/part
    # branch of a union.
    probe = (
        ctx.docs.where(F.col("doc_id").endswith("-halfwidth"))
        .select(F.col("doc_id").alias("__hw"))
        .withColumn("has_hw", F.lit(True))
    )
    sp = sp.join(
        F.broadcast(probe),
        F.concat(F.col("media_ref"), F.lit("-halfwidth")) == F.col("__hw"),
        "left",
    ).drop("__hw")

    # finalize per-span (a, b) where computable without running state
    is_part = F.col("elem_pre.typ") == "P"
    wide_quote = _is_fullwidth_name(F.col("elem_pre.gn")) | F.col("has_hw").isNotNull()
    a2 = F.when(~is_part, F.col("elem_pre.a")).otherwise(
        F.when(F.col("elem_pre.a").isNotNull(), F.col("elem_pre.a"))  # buhin table
        .when(F.col("elem_pre.dw") == 0, F.lit(None))  # nonspacing: running state
        .when(
            (F.col("elem_pre.dw") == 2) & wide_quote,
            F.col("elem_pre.xl") + F.col("elem_pre.w") * 0.31,
        )
        .when(F.col("elem_pre.dw") == 2, F.col("elem_pre.xl") + F.col("elem_pre.w") * 0.06)
        .otherwise(F.col("elem_pre.xl") + F.col("elem_pre.w") * 0.06)
    )
    b2 = F.when(~is_part, F.col("elem_pre.b")).otherwise(
        F.when(F.col("elem_pre.b").isNotNull(), F.col("elem_pre.b"))
        .when(F.col("elem_pre.dw") == 0, F.lit(None))
        .when(
            (F.col("elem_pre.dw") == 2) & wide_quote,
            F.col("elem_pre.xl") + F.col("elem_pre.w") * 0.69,
        )
        .when(F.col("elem_pre.dw") == 2, F.col("elem_pre.xl") + F.col("elem_pre.w") * 0.94)
        .otherwise(F.col("elem_pre.xl") + F.col("elem_pre.w") * 0.44)
    )
    typ = F.when(is_part & (F.col("elem_pre.dw") == 0) & F.col("elem_pre.a").isNull(), F.lit("N")).otherwise(F.lit("V"))
    elems = sp.select(
        "doc_id",
        F.struct(
            F.col("elem_pre.off").alias("off"),
            typ.alias("typ"),
            a2.alias("a"),
            b2.alias("b"),
        ).alias("elem"),
    )
    folded = elems.groupBy("doc_id").agg(F.array_sort(F.collect_list("elem")).alias("arr"))
    state0 = F.struct(F.lit(_INF).alias("mn"), F.lit(-_INF).alias("mx"))
    fold = F.aggregate(
        F.col("arr"),
        state0,
        lambda acc, e: F.struct(
            F.when(e["typ"] == "N", F.least(acc["mn"], acc["mx"]))
            .otherwise(F.least(acc["mn"], e["a"], e["b"]))
            .alias("mn"),
            F.when(e["typ"] == "N", F.greatest(acc["mx"], acc["mn"]))
            .otherwise(F.greatest(acc["mx"], e["a"], e["b"]))
            .alias("mx"),
        ),
    )
    folded = folded.select("doc_id", fold.alias("mm"))

    # gated doc set left-joined with the fold: a doc with ZERO surviving
    # spans still gets a verdict via the name-based overrides below.
    # Only doc_id crosses the shuffle (spans stays behind).
    d2 = docs.select("doc_id").join(folded, "doc_id", "left")
    name = F.col("doc_id")
    min_x = (
        F.when(_is_fullwidth_name(name), F.lit(0.0))
        .when(_is_halfwidth_name(name), F.lit(0.0))
        .when(name.rlike(_RE_HEN), F.lit(0.0))
        .otherwise(F.coalesce(F.col("mm.mn"), F.lit(_INF)))
    )
    max_x = (
        F.when(_is_fullwidth_name(name), F.lit(200.0))
        .when(_is_halfwidth_name(name), F.lit(100.0))
        .when(name.rlike(_RE_HEN), F.lit(200.0))
        .otherwise(F.coalesce(F.col("mm.mx"), F.lit(-_INF)))
    )
    d2 = d2.withColumn("minx", min_x).withColumn("maxx", max_x).where(
        F.col("maxx") != F.lit(-_INF)
    )
    gwidth = _dwidth(name, groups)
    looks_half = (F.col("maxx") <= 110) & (F.col("minx") < 90)
    bad = looks_half != (gwidth != 2)
    d2 = d2.where(bad).withColumn("errcode_", gwidth.cast("string"))
    return shape(d2, "width", F.col("errcode_"), F.array().cast("array<string>"))
