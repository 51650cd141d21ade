"""j — region-source consistency for J-ish glyphs (j.py:73-195).

Setup (j.py:79-99) becomes two derived dimension DataFrames built from
the jv.yaml config expanded through alias closures over the corpus:
  no_use(part → preferred replacement)   and   no_apply(part set),
lazy plans computed inside j's own job and broadcast to the part spans.
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

from gwv_spark import derive
from gwv_spark.derive import RE_UCS
from gwv_spark.parse import sql_in, sql_lit
from gwv_spark.rules import EMPTY_DETAIL, RuleContext, rule, shape, tag_s
from gwv_spark.rules.order import RE_REGIONS
from gwv_spark.session import local_frame

_RE_REGION_OPTHENKA = "^-(" + RE_REGIONS + r")([0-9]{2})?$"
_REGION2COL = {
    "g": 0, "t": 1, "j": 2, "k": 3, "kp": 4, "v": 5,
    "h": 6, "m": 7, "u": 8, "s": 9, "uk": 10,
}


def _alias_closure(ctx: RuleContext, seeds: DataFrame, key: str) -> DataFrame:
    """{seed} ∪ {doc_id : raw entity target == seed}; keeps seed columns."""
    aliases = ctx.docs.where("entity_ref IS NOT NULL").selectExpr(
        f"entity_ref AS {key}", f"doc_id AS {key}_m"
    )
    return seeds.selectExpr("*", f"{key} AS {key}_m").unionByName(seeds.join(aliases, key))


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


def _in_no_apply(ctx: RuleContext) -> str | None:
    """SQL text over a ctx.docs row, true exactly when its doc_id is in
    no_apply (None when the config lists no no-apply part).  The seeds
    are the docs whose name matches the config pattern, so a doc is in
    their alias closure iff its own name matches or it is an alias
    whose existing target's does (entity_exists, entity): membership
    is read off the row, with no closure join."""
    jv = ctx.dims.get("jv", {"no_use_part": {}, "no_apply": []})
    if not jv["no_apply"]:
        return None
    no_apply_re = sql_lit(
        "^(" + "|".join(jv["no_apply"]) + ")(-(" + RE_REGIONS
        + r")([0-9]{2})?$|(-[0-9]{2})?(-var-[0-9]{3})?)$"
    )
    return f"doc_id RLIKE {no_apply_re} OR (entity_exists AND entity RLIKE {no_apply_re})"


def _setup_dims(ctx: RuleContext) -> tuple[DataFrame, DataFrame]:
    """Setup-phase dims (j.py:79-99): no_use(banned → preferred use) and
    no_apply(na_part), the jv.yaml config seeds expanded through one
    alias-closure hop over the corpus.

    They stay lazy plans, so building the rule starts no Spark job;
    they are computed inside each execution of j instead of once per
    context.  They are dimension-sized by construction (closure rows =
    config entries + aliases pointing at them, ~10³ regardless of
    corpus scale) and each is used once, broadcast to the part spans.
    The glyph-side no-apply lookup reads :func:`_in_no_apply` on the
    probe rows rather than joining no_apply a second time: Spark does
    not reuse an exchange whose source is a cached relation, so a
    second join would compute no_apply twice."""
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
    no_use = (
        _alias_closure(ctx, no_use_seeds, "part")
        .groupBy(F.expr("part_m AS banned"))
        .agg(F.expr("max_by(`use`, idx) AS `use`"))
    )
    in_no_apply = _in_no_apply(ctx)
    if in_no_apply:
        no_apply = ctx.docs.where(in_no_apply).selectExpr("doc_id AS na_part").distinct()
    else:
        # genuinely empty when the config has no entries — an
        # empty-string sentinel row would introduce a '' join key that a
        # malformed kage line's empty media_ref could match, fabricating
        # a violation the reference ('' not in config) never reports
        no_apply = local_frame(ctx.spark, [], "na_part STRING")
    return no_use, no_apply


@rule("j")
def j(ctx: RuleContext) -> DataFrame:
    groups = ctx.dims.get("groups", {})
    source_sep = sorted(groups.get("原規格分離", []))

    no_use, no_apply = _setup_dims(ctx)
    in_no_apply = _in_no_apply(ctx)

    # ---- per-glyph frame
    ucs_hex = f"regexp_extract(doc_id, {sql_lit(RE_UCS)}, 1)"
    ucs = f"CASE WHEN {ucs_hex} != '' THEN concat('u', {ucs_hex}) END"
    docs = ctx.docs.where("category IN ('ucs-kanji', 'ext', 'bsh')").selectExpr(
        "category", "is_alias", "entity_ref", "entity", "doc_id", f"{ucs} AS ucs"
    ).selectExpr(
        "*", "CASE WHEN ucs IS NOT NULL THEN substring(doc_id, length(ucs) + 1) END AS tail"
    )
    docs = docs.join(F.broadcast(_cjksrc_df(ctx)), "ucs", "left")

    # nomark attributes (existence + raw entity), uxxxx-j / uxxxx-ja
    # existence probes, and ucs-in-no-apply — FOUR lookups keyed by the
    # same nomark name, folded into ONE aggregated probe frame and one
    # join (four full-corpus shuffle joins otherwise)
    # ONE scan of the cached docs emits every probe row (round 1 unioned
    # three full scans — same cache read 3×): each doc contributes its
    # nomark row (with its own no-apply membership) plus, when its name
    # ends in -j / -ja, the existence row for the stripped name.
    def _row(ucs, ne, hj, hja, na):
        return (
            f"named_struct('ucs', {ucs}, 'nomark_entity', {ne}, 'has_j', {hj}, "
            f"'has_ja', {hja}, 'ucs_no_apply', {na})"
        )

    null_s, null_b = "CAST(NULL AS STRING)", "CAST(NULL AS BOOLEAN)"
    na = f"CASE WHEN {in_no_apply} THEN true END" if in_no_apply else null_b
    probe_rows = (
        f"array({_row('doc_id', 'raw_entity', null_b, null_b, na)}, "
        "CASE WHEN endswith(doc_id, '-j') THEN "
        f"{_row('substring(doc_id, 1, length(doc_id) - 2)', null_s, 'true', null_b, null_b)} END, "
        "CASE WHEN endswith(doc_id, '-ja') THEN "
        f"{_row('substring(doc_id, 1, length(doc_id) - 3)', null_s, null_b, 'true', null_b)} END)"
    )
    # the join key on the consuming side (docs.ucs) is ALWAYS a plain
    # 'u<hex>' nomark name, so probe rows keyed by any other shape can
    # never match — dropping them before the groupBy cuts the one big
    # shuffle of this rule to the nomark-named subset of the corpus
    nm = (
        ctx.docs.selectExpr(f"explode(filter({probe_rows}, r -> r IS NOT NULL)) AS p")
        .selectExpr("p.*")
        .where("ucs RLIKE '^u[0-9a-f]{4,6}$'")
    )
    probe = nm.groupBy("ucs").agg(
        *(F.expr(f"max({c}) AS {c}") for c in ("nomark_entity", "has_j", "has_ja", "ucs_no_apply"))
    )
    docs = docs.join(probe, "ucs", "left")

    # ---- checkJV per entity: banned/no-apply part scan (j.py:101-113).
    # Both lookups key on the quoting doc (= the entity side of the main
    # frame), so ONE aggregation + ONE join serves both.
    parts = ctx.spans.where("kind = 'part'").selectExpr(
        "doc_id AS entity", "`offset`", "media_ref AS pbase"
    )
    # both dims derive from small config seeds (+ alias closure) —
    # broadcast so the big part-span side never shuffles here
    jv_parts = (
        parts.join(F.broadcast(no_apply), F.expr("pbase = na_part"), "left")
        .join(F.broadcast(no_use), F.expr("pbase = banned"), "left")
        .where("na_part IS NOT NULL OR banned IS NOT NULL")
        .groupBy("entity")
        .agg(
            F.expr("max(na_part IS NOT NULL) AS ent_has_no_apply_"),
            F.expr(
                "min(CASE WHEN banned IS NOT NULL THEN "
                "named_struct('offset', `offset`, 'banned', banned, 'use', `use`) END) AS fb"
            ),
        )
        .selectExpr(
            "entity",
            "CASE WHEN ent_has_no_apply_ THEN true END AS ent_has_no_apply",
            "fb.banned AS banned_part",
            "fb.`use` AS preferred_part",
        )
    )
    # stage expressions are materialized as columns before the errcode
    # cascade: inlined, check_jv_code appears 3x and src_stage 2x (with
    # in_source_sep a literal IN over the whole source-sep group), and
    # the optimizer re-walks every copy on each execution — the same
    # fixed-cost duplication measured on ids (NOTES_r3 / round 4)
    region_re = sql_lit(_RE_REGION_OPTHENKA)
    docs = docs.join(jv_parts, "entity", "left").selectExpr(
        "*",
        "CASE WHEN ent_has_no_apply IS NULL AND banned_part IS NOT NULL THEN '2' END"
        " AS check_jv_code",
        f"nullif(regexp_extract(tail, {region_re}, 1), '') AS region",
        f"regexp_extract(tail, {region_re}, 2) != '' AS is_henka",
        f"{sql_in('ucs', source_sep)} AS in_source_sep",
    )
    gokan = derive.is_gokan_kanji_cp("CAST(conv(substring(ucs, 2), 16, 10) AS BIGINT)")
    no_source = "CASE WHEN is_henka THEN '41' ELSE '40' END"
    region_src = (
        "CASE " + " ".join(f"WHEN region = {sql_lit(r)} THEN src{i}" for r, i in sorted(_REGION2COL.items()))
        + " END"
    )

    # source-check stage (j.py:143-170); NULL = fall through, '~' (the
    # reference returned False) = no violation
    docs = docs.selectExpr(
        "*",
        "CASE WHEN region = 'jv' THEN (CASE WHEN jsource IS NOT NULL THEN '30' "
        "WHEN in_source_sep THEN '5' END) "
        "WHEN region = 'kv' THEN (CASE WHEN ksource IS NOT NULL THEN '31' END) "
        "WHEN region IN ('gv', 'tv', 'vv', 'hv', 'jn') THEN '~' "
        f"WHEN region IN ('j', 'ja') THEN (CASE WHEN jsource IS NULL THEN {no_source} END) "
        f"WHEN {sql_in('region', sorted(_REGION2COL))} THEN "
        f"(CASE WHEN ({region_src}) IS NULL THEN {no_source} END) "
        "ELSE '~' END AS src_stage",  # -i, -us, -js
    )

    # post-source stage for j/ja/jv (j.py:172-195)
    jv_tail_stage = (
        "CASE WHEN nomark_entity IS NULL THEN NULL "  # 無印が見つからない
        "WHEN nomark_entity IS NOT NULL AND (entity != nomark_entity) AND (NOT is_henka) THEN '0' "
        "WHEN region != 'jv' THEN NULL "
        "WHEN has_j IS NOT NULL THEN '1j' "
        "WHEN has_ja IS NOT NULL THEN '1ja' "
        "WHEN ucs_no_apply IS NULL THEN check_jv_code END"
    )
    errcode = (
        "CASE WHEN category IN ('bsh', 'ext') THEN check_jv_code "
        "WHEN ucs IS NULL THEN NULL "
        f"WHEN tail = '' THEN (CASE WHEN {gokan} THEN NULL "
        "WHEN jsource IS NULL AND ucs_no_apply IS NULL AND (NOT in_source_sep) "
        "THEN check_jv_code END) "
        "WHEN region IS NULL THEN NULL "
        "WHEN src_stage IS NOT NULL THEN src_stage "
        "WHEN NOT (region IN ('j', 'ja', 'jv')) THEN NULL "
        f"ELSE ({jv_tail_stage}) END"
    )
    d = docs.selectExpr("*", f"{errcode} AS errcode_").where(
        "errcode_ IS NOT NULL AND (errcode_ != '~')"
    )
    final_code = "CASE WHEN errcode_ = '1j' THEN '1' WHEN errcode_ = '1ja' THEN '1' ELSE errcode_ END"
    detail = (
        f"CASE WHEN errcode_ = '2' THEN array({tag_s('banned_part')}, {tag_s('preferred_part')}) "
        f"WHEN errcode_ = '30' THEN array({tag_s('jsource')}) "
        f"WHEN errcode_ = '31' THEN array({tag_s('ksource')}) "
        f"WHEN errcode_ = '1j' THEN array({tag_s(sql_lit('j'))}) "
        f"WHEN errcode_ = '1ja' THEN array({tag_s(sql_lit('ja'))}) "
        f"ELSE {EMPTY_DETAIL} END"
    )
    return shape(d, "j", final_code, detail)
