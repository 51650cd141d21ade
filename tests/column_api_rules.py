"""The Column-API build of the width, naming and j rules, as the rules
were written before their table-driven expressions became Spark SQL
text.  tests/test_sql_quoting.py runs both builds over dims whose names
hold quotes and backslashes, which SQL text must quote exactly; this
copy is the reference.  It is not registered as a rule."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gwv_spark.derive import GOKAN_RANGES, RE_UCS, TOGO_IN_COMPAT
from gwv_spark.rules import RuleContext
from gwv_spark.rules.j import _RE_REGION_OPTHENKA, _REGION2COL
from gwv_spark.rules.naming import (
    _RE_CDP, _RE_GL, _RE_IDC_1, _RE_IDC_2, _RE_IDC_3, _RE_IDS_HEAD, _RE_IDS_KANJI,
    _RE_KANJI, _RE_UCS_TOKEN, _RE_VALID_CDP, _RE_VALID_GL, _REDUCTION_UNROLL,
)
from gwv_spark.rules.order import RE_REGIONS
from gwv_spark.rules.width import (
    _INF, _RE_FULLWIDTH_NAME, _RE_HALFWIDTH_NAME, _RE_HEN, _SKIP_CATS, BUHIN_WIDTHS,
)
from gwv_spark.session import local_frame


def tag_s(c: Column) -> Column:
    return F.concat(F.lit("S"), c)


def tag_f(c: Column) -> Column:
    return F.concat(F.lit("F"), c.cast("double").cast("string"))


def tag_line(offset: Column, text: Column) -> Column:
    return F.concat(F.lit("L"), offset.cast("string"), F.lit(":"), text)


def default_sortkey(doc_id: Column, offset: Column | None = None) -> Column:
    if offset is None:
        return doc_id
    return F.concat(doc_id, F.lit("#"), F.lpad(offset.cast("string"), 6, "0"))


def shape(
    df: DataFrame,
    rule_id: str,
    errcode: Column,
    detail: Column,
    sortkey: Column | None = None,
) -> DataFrame:
    """Project a rule's intermediate frame onto the violations schema."""
    sk = sortkey if sortkey is not None else default_sortkey(F.col("doc_id"))
    return df.select(
        F.lit(rule_id).alias("rule_id"),
        errcode.cast("string").alias("errcode"),
        F.col("doc_id").cast("string").alias("doc_id"),
        detail.cast("array<string>").alias("detail"),
        sk.cast("string").alias("sortkey"),
    )


def _in_ranges(cp: Column, ranges: list[tuple[int, int]]) -> Column:
    cond = F.lit(False)
    for lo, hi in ranges:
        cond = cond | ((cp >= lo) & (cp <= hi))
    return cond


def is_gokan_kanji_cp(cp: Column) -> Column:
    return _in_ranges(cp, GOKAN_RANGES) & ~cp.isin(TOGO_IN_COMPAT)


# ------------------------------------------------------------ width


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


# ----------------------------------------------------------- naming


def _ruleset_match(name: Column, rs: dict) -> Column:
    cond = F.lit(False)
    if rs["strings"]:
        cond = cond | name.isin(sorted(rs["strings"]))
    if rs["regex"]:
        cond = cond | name.rlike("^(?:" + rs["regex"] + ")$")
    return cond


def naming(ctx: RuleContext) -> DataFrame:
    rules_cfg = ctx.dims["naming_rules"]
    groups = ctx.dims.get("groups", {})
    it = iter(groups.get("UCSで符号化されたCDP外字", []))
    cdp_dict = dict(zip(it, it))

    docs = ctx.docs.where(F.col("category") != "user-owned").select("doc_id")
    name0 = F.col("doc_id")
    stripped_var = F.regexp_replace(name0, r"-(var|itaiji)-[0-9]{3}$", "")
    is_var = stripped_var != name0
    d = docs.withColumn("n1", stripped_var).withColumn("is_var", is_var)
    stripped_henka = F.regexp_replace(F.col("n1"), r"-[0-9]{2}$", "")
    d = d.withColumn("is_henka", stripped_henka != F.col("n1")).withColumn(
        "name", stripped_henka
    )
    name = F.col("name")

    # --- prohibition checks ("2")
    prohibited = _ruleset_match(name, rules_cfg["dont-create"])
    gl4 = F.regexp_extract(name, _RE_GL, 2)
    gl_bad = (gl4 != "") & (~gl4.rlike(_RE_VALID_GL))
    cdp_nums = F.regexp_extract_all(name, F.lit(_RE_CDP), 2)
    cdp_bad = (gl4 == "") & F.exists(cdp_nums, lambda n: ~n.rlike(_RE_VALID_CDP))

    # --- IDS branch
    is_ids = name.rlike(_RE_IDS_HEAD)
    reduced = F.regexp_replace(name, "^kumimoji-", "")
    reduced = F.regexp_replace(reduced, _RE_IDC_1, "１")
    reduced = F.regexp_replace(reduced, _RE_IDC_2, "２")
    reduced = F.regexp_replace(reduced, _RE_IDC_3, "３")
    reduced = F.regexp_replace(reduced, _RE_KANJI, "漢")
    for _ in range(_REDUCTION_UNROLL):
        reduced = F.regexp_replace(reduced, _RE_IDS_KANJI, "漢")
    d = d.withColumn("reduced", reduced)
    ids_invalid = F.col("reduced") != "漢"

    # encoded-CDP: first cdp occurrence that (after the cdpo/cdpn→cdp
    # fallback for unknown variants) appears in the dictionary
    if cdp_dict:
        mapping = F.create_map(*[F.lit(x) for kv in cdp_dict.items() for x in kv])
    else:
        mapping = F.create_map().cast("map<string,string>")
    cdp_fulls = F.regexp_extract_all(name, F.lit(_RE_CDP), 0)
    adj = F.transform(
        cdp_fulls,
        lambda c: F.when(
            c.rlike("^cdp[on]") & mapping[c].isNull(),
            F.concat(F.lit("cdp-"), F.substring(c, -4, 4)),
        ).otherwise(c),
    )
    first_encoded = F.get(F.filter(adj, lambda c: mapping[c].isNotNull()), 0)
    d = d.withColumn("enc_cdp", first_encoded).withColumn(
        "enc_ucs", mapping[F.col("enc_cdp")]
    )

    # PUA / u3013 tokens inside the IDS name
    ucs_tokens = F.regexp_extract_all(name, F.lit(_RE_UCS_TOKEN), 0)
    bad_ucs = F.exists(
        ucs_tokens,
        lambda u: (u == "u3013") | ((u >= "ue000") & (u <= "uf8ff")),
    )

    # --- rule-set tiers
    tier_ok = (
        _ruleset_match(name, rules_cfg["rule"])
        | (~F.col("is_var") & _ruleset_match(name, rules_cfg["rule-novar"]))
        | (~F.col("is_henka") & _ruleset_match(name, rules_cfg["rule-nohenka"]))
        | (
            ~F.col("is_var")
            & ~F.col("is_henka")
            & _ruleset_match(name, rules_cfg["rule-novar-nohenka"])
        )
    )
    deprecated = _ruleset_match(name, rules_cfg["deprecated-rule"])

    errcode = (
        F.when(prohibited | gl_bad | cdp_bad, F.lit("2"))
        .when(
            is_ids,
            F.when(ids_invalid, F.lit("1"))
            .when(F.col("enc_cdp").isNotNull(), F.lit("3"))
            .when(bad_ucs, F.lit("1")),
        )
        .when(tier_ok, F.lit(None).cast("string"))
        .when(deprecated, F.lit("4"))
        .otherwise(F.lit("0"))
    )
    d = d.withColumn("errcode_", errcode).where(F.col("errcode_").isNotNull())
    detail = (
        F.when(F.col("errcode_") == "1", F.array(tag_s(F.col("reduced"))))
        .when(
            F.col("errcode_") == "3",
            F.array(tag_s(F.col("enc_cdp")), tag_s(F.col("enc_ucs"))),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    return shape(d, "naming", F.col("errcode_"), detail)


# ---------------------------------------------------------------- j


def _alias_closure(ctx: RuleContext, seeds: DataFrame, key: str) -> DataFrame:
    """{seed} ∪ {doc_id : raw entity target == seed}; keeps seed columns."""
    aliases = ctx.docs.where(F.col("entity_ref").isNotNull()).select(
        F.col("entity_ref").alias(key), F.col("doc_id").alias("__alias")
    )
    via_alias = seeds.join(aliases, key).withColumn(key + "_m", F.col("__alias")).drop("__alias")
    direct = seeds.withColumn(key + "_m", F.col(key))
    return direct.unionByName(via_alias)


def _cjksrc_df(ctx: RuleContext):
    rows = [
        (ucs, cols[2], cols[3]) + tuple(cols[i] for i in range(11))
        for ucs, cols in ctx.dims.get("cjksrc", {}).items()
    ]
    ddl = "ucs STRING, jsource STRING, ksource STRING, " + ", ".join(
        f"src{i} STRING" for i in range(11)
    )
    if not rows:
        rows = [("",) + (None,) * 13]
    return local_frame(ctx.spark, rows, ddl)


def _setup_dims(ctx: RuleContext):
    """Setup-phase dim construction (j.py:79-99), run ONCE per context.

    no_use / no_apply are config seeds expanded through one alias-
    closure hop over the corpus — dimension-sized by construction
    (closure rows = config entries + aliases pointing at them, ~10³
    regardless of corpus scale).  Left as lazy plans they were inlined
    at every use site (two probe unions + two broadcast joins), which
    re-executed the closure's corpus joins ~20× per suite run — so the
    setup materializes them to the driver (the reference holds the same
    dicts in memory, j.py:81-99) and rebuilds them as literal frames;
    memoized in ctx.dims for repeated runs over the same context."""
    memo_key = "_j_setup"
    if memo_key in ctx.dims:
        return ctx.dims[memo_key]
    jv = ctx.dims.get("jv", {"no_use_part": {}, "no_apply": []})
    # config position decides collisions: the reference builds this map
    # by dict comprehension (j.py:81-86), so the LAST config entry for a
    # given no-use part wins — max_by(idx) keeps that deterministic
    # (dropDuplicates picks an arbitrary row under parallel execution)
    no_use_rows = [
        (no_use, use, i)
        for i, (use, no_uses) in enumerate(jv["no_use_part"].items())
        for no_use in no_uses
    ]
    no_use_seeds = local_frame(ctx.spark, no_use_rows, "part STRING, use STRING, idx INT")
    no_use_local = (
        _alias_closure(ctx, no_use_seeds, "part")
        .groupBy(F.col("part_m").alias("banned"))
        .agg(F.max_by(F.col("use"), F.col("idx")).alias("use"))
        .collect()
    )
    no_apply_re = (
        "^(" + "|".join(jv["no_apply"]) + ")(-(" + RE_REGIONS + r")([0-9]{2})?$|(-[0-9]{2})?(-var-[0-9]{3})?)$"
        if jv["no_apply"]
        else None
    )
    if no_apply_re:
        na_seeds = ctx.docs.where(F.col("doc_id").rlike(no_apply_re)).select(
            F.col("doc_id").alias("part")
        )
    else:
        na_seeds = local_frame(ctx.spark, [], "part STRING")
    no_apply_local = (
        _alias_closure(ctx, na_seeds, "part")
        .select(F.col("part_m").alias("na_part"))
        .dropDuplicates()
        .collect()
    )
    # genuinely empty frames when the config has no entries — an
    # empty-string sentinel row would introduce a '' join key that a
    # malformed kage line's empty media_ref could match, fabricating a
    # violation the reference ('' not in config) never reports
    no_use = local_frame(ctx.spark, no_use_local, "banned STRING, use STRING")
    no_apply = local_frame(ctx.spark, no_apply_local, "na_part STRING")
    ctx.dims[memo_key] = (no_use, no_apply)
    return no_use, no_apply


def j(ctx: RuleContext) -> DataFrame:
    groups = ctx.dims.get("groups", {})
    source_sep = sorted(groups.get("原規格分離", []))

    no_use, no_apply = _setup_dims(ctx)

    # ---- per-glyph frame
    docs = ctx.docs.where(F.col("category").isin("ucs-kanji", "ext", "bsh")).select(
        "doc_id", "category", "is_alias", "entity_ref", "entity"
    )
    ucs_hex = F.regexp_extract(F.col("doc_id"), RE_UCS, 1)
    docs = docs.withColumn(
        "ucs", F.when(ucs_hex != "", F.concat(F.lit("u"), ucs_hex))
    ).withColumn(
        "tail",
        F.when(
            F.col("ucs").isNotNull(), F.expr("substring(doc_id, length(ucs) + 1)")
        ),
    )
    cjk = _cjksrc_df(ctx)
    docs = docs.join(F.broadcast(cjk), docs["ucs"] == cjk["ucs"], "left").drop(cjk["ucs"])

    # nomark attributes (existence + raw entity), uxxxx-j / uxxxx-ja
    # existence probes, and ucs-in-no-apply — FOUR lookups keyed by the
    # same nomark name, folded into ONE aggregated probe frame and one
    # join (four full-corpus shuffle joins otherwise)
    # ONE scan of the cached docs emits every probe row (round 1 unioned
    # three full scans — same cache read 3×): each doc contributes its
    # nomark row plus, when its name ends in -j / -ja, the existence row
    # for the stripped name.  The no-apply rows are a tiny fourth input.
    def _row(ucs, ne, hj, hja, na):
        return F.struct(
            ucs.alias("ucs"),
            ne.alias("nomark_entity"),
            hj.alias("has_j"),
            hja.alias("has_ja"),
            na.alias("ucs_no_apply"),
        )

    _null_s = F.lit(None).cast("string")
    _null_b = F.lit(None).cast("boolean")
    probe_rows = F.array(
        _row(F.col("doc_id"), F.col("raw_entity"), _null_b, _null_b, _null_b),
        F.when(
            F.col("doc_id").endswith("-j"),
            _row(
                F.expr("substring(doc_id, 1, length(doc_id) - 2)"),
                _null_s, F.lit(True), _null_b, _null_b,
            ),
        ),
        F.when(
            F.col("doc_id").endswith("-ja"),
            _row(
                F.expr("substring(doc_id, 1, length(doc_id) - 3)"),
                _null_s, _null_b, F.lit(True), _null_b,
            ),
        ),
    )
    # the join key on the consuming side (docs.ucs) is ALWAYS a plain
    # 'u<hex>' nomark name, so probe rows keyed by any other shape can
    # never match — dropping them before the groupBy cuts the one big
    # shuffle of this rule to the nomark-named subset of the corpus
    nm = (
        ctx.docs.select(
            F.explode(F.filter(probe_rows, lambda r: r.isNotNull())).alias("p")
        )
        .select("p.*")
        .where(F.col("ucs").rlike(r"^u[0-9a-f]{4,6}$"))
    )
    nap = no_apply.select(
        F.col("na_part").alias("ucs"),
        _null_s.alias("nomark_entity"),
        _null_b.alias("has_j"),
        _null_b.alias("has_ja"),
        F.lit(True).alias("ucs_no_apply"),
    )
    probe = (
        nm.unionByName(nap)
        .groupBy("ucs")
        .agg(
            F.max("nomark_entity").alias("nomark_entity"),
            F.max("has_j").alias("has_j"),
            F.max("has_ja").alias("has_ja"),
            F.max("ucs_no_apply").alias("ucs_no_apply"),
        )
    )
    docs = docs.join(probe, "ucs", "left")

    # ---- checkJV per entity: banned/no-apply part scan (j.py:101-113).
    # Both lookups key on the quoting doc (= the entity side of the main
    # frame), so ONE aggregation + ONE join serves both.
    parts = ctx.spans.where(F.col("kind") == "part").select(
        F.col("doc_id").alias("entity"), "offset", F.col("media_ref").alias("pbase")
    )
    # both dims derive from small config seeds (+ alias closure) —
    # broadcast so the big part-span side never shuffles here
    jv_parts = (
        parts.join(F.broadcast(no_apply), parts["pbase"] == no_apply["na_part"], "left")
        .join(F.broadcast(no_use), parts["pbase"] == no_use["banned"], "left")
        .where(F.col("na_part").isNotNull() | F.col("banned").isNotNull())
        .groupBy("entity")
        .agg(
            F.max(F.col("na_part").isNotNull()).alias("ent_has_no_apply_"),
            F.min(
                F.when(
                    F.col("banned").isNotNull(),
                    F.struct(F.col("offset"), F.col("banned"), F.col("use")),
                )
            ).alias("fb"),
        )
        .select(
            "entity",
            F.when(F.col("ent_has_no_apply_"), F.lit(True)).alias("ent_has_no_apply"),
            F.col("fb.banned").alias("banned_part"),
            F.col("fb.use").alias("preferred_part"),
        )
    )
    docs = docs.join(jv_parts, "entity", "left")
    # stage expressions are materialized as columns before the errcode
    # cascade: inlined, check_jv_code appears 3x and src_stage 2x (with
    # in_source_sep a literal isin over the whole source-sep group), and
    # the optimizer re-walks every copy on each execution — the same
    # fixed-cost duplication measured on ids (NOTES_r3 / round 4)
    docs = docs.withColumn(
        "check_jv_code",
        F.when(
            F.col("ent_has_no_apply").isNull() & F.col("banned_part").isNotNull(),
            F.lit("2"),
        ),
    )
    check_jv_code = F.col("check_jv_code")

    region = F.regexp_extract(F.col("tail"), _RE_REGION_OPTHENKA, 1)
    is_henka = F.regexp_extract(F.col("tail"), _RE_REGION_OPTHENKA, 2) != ""
    docs = docs.withColumn("region", F.nullif(region, F.lit(""))).withColumn(
        "is_henka", is_henka
    )
    docs = docs.withColumn(
        "in_source_sep",
        F.col("ucs").isin(source_sep) if source_sep else F.lit(False),
    )
    in_source_sep = F.col("in_source_sep")
    gokan = is_gokan_kanji_cp(F.conv(F.expr("substring(ucs, 2)"), 16, 10).cast("long"))
    no_source = F.when(F.col("is_henka"), F.lit("41")).otherwise(F.lit("40"))

    region_src = F.lit(None).cast("string")
    for r, i in sorted(_REGION2COL.items()):
        region_src = F.when(F.col("region") == r, F.col(f"src{i}")).otherwise(region_src)

    # source-check stage (j.py:143-170); NULL = fall through, '' = return False
    FALSE_ = F.lit("~")  # sentinel: reference returned False
    src_stage = (
        F.when(
            F.col("region") == "jv",
            F.when(F.col("jsource").isNotNull(), F.lit("30"))
            .when(in_source_sep, F.lit("5")),
        )
        .when(
            F.col("region") == "kv",
            F.when(F.col("ksource").isNotNull(), F.lit("31")),
        )
        .when(F.col("region").isin("gv", "tv", "vv", "hv", "jn"), FALSE_)
        .when(
            F.col("region").isin("j", "ja"),
            F.when(F.col("jsource").isNull(), no_source),
        )
        .when(
            F.col("region").isin(*sorted(_REGION2COL)),
            F.when(region_src.isNull(), no_source),
        )
        .otherwise(FALSE_)  # -i, -us, -js
    )
    docs = docs.withColumn("src_stage", src_stage)
    src_stage = F.col("src_stage")

    # post-source stage for j/ja/jv (j.py:172-195)
    nomark_diff = (
        F.col("nomark_entity").isNotNull()  # ucs in dump
        & (F.col("entity") != F.col("nomark_entity"))
        & (~F.col("is_henka"))
    )
    jv_tail_stage = (
        F.when(F.col("nomark_entity").isNull(), F.lit(None))  # 無印が見つからない
        .when(nomark_diff, F.lit("0"))
        .when(F.col("region") != "jv", F.lit(None))
        .when(F.col("has_j").isNotNull(), F.lit("1j"))
        .when(F.col("has_ja").isNotNull(), F.lit("1ja"))
        .when(F.col("ucs_no_apply").isNull(), check_jv_code)
    )

    errcode = (
        F.when(F.col("category").isin("bsh", "ext"), check_jv_code)
        .when(F.col("ucs").isNull(), F.lit(None))
        .when(
            F.col("tail") == "",
            F.when(gokan, F.lit(None)).when(
                F.col("jsource").isNull()
                & F.col("ucs_no_apply").isNull()
                & (~in_source_sep),
                check_jv_code,
            ),
        )
        .when(F.col("region").isNull(), F.lit(None))
        .when(src_stage.isNotNull(), src_stage)
        .when(~F.col("region").isin("j", "ja", "jv"), F.lit(None))
        .otherwise(jv_tail_stage)
    )
    d = (
        docs.withColumn("errcode_", errcode)
        .where(F.col("errcode_").isNotNull() & (F.col("errcode_") != "~"))
    )
    final_code = (
        F.when(F.col("errcode_") == "1j", F.lit("1"))
        .when(F.col("errcode_") == "1ja", F.lit("1"))
        .otherwise(F.col("errcode_"))
    )
    detail = (
        F.when(F.col("errcode_") == "2", F.array(tag_s(F.col("banned_part")), tag_s(F.col("preferred_part"))))
        .when(F.col("errcode_") == "30", F.array(tag_s(F.col("jsource"))))
        .when(F.col("errcode_") == "31", F.array(tag_s(F.col("ksource"))))
        .when(F.col("errcode_") == "1j", F.array(tag_s(F.lit("j"))))
        .when(F.col("errcode_") == "1ja", F.array(tag_s(F.lit("ja"))))
        .otherwise(F.array().cast("array<string>"))
    )
    return shape(d, "j", final_code, detail)
