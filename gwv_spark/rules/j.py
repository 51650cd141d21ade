"""j — region-source consistency for J-ish glyphs (j.py:73-195).

Setup (j.py:79-99) becomes two derived dimension DataFrames built from
the jv.yaml config expanded through alias closures over the corpus:
  no_use(part → preferred replacement)   and   no_apply(part set).
Alias closure of a name = {name} ∪ {docs whose raw alias target is name}
(dump.get_alias_of, dump.py:63-75).

Main pass per glyph (gate: category ∈ {ucs-kanji, ext, bsh}):
  region/henka parsed from the name tail; source columns via broadcast
  join against the cjksrc dim; codes 30/31/40/41/5; nomark-entity
  equality → 0; j/jv coexistence → 1; banned-part scan of the checked
  entity's spans → 2 (first offending part in line order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gwv_spark.derive import RE_UCS, is_gokan_kanji_cp
from gwv_spark.rules import RuleContext, rule, shape, tag_s
from gwv_spark.rules.order import RE_REGIONS
from gwv_spark.session import local_frame

_RE_REGION_OPTHENKA = "^-(" + RE_REGIONS + r")([0-9]{2})?$"
_REGION2COL = {
    "g": 0, "t": 1, "j": 2, "k": 3, "kp": 4, "v": 5,
    "h": 6, "m": 7, "u": 8, "s": 9, "uk": 10,
}


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


@rule("j")
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
