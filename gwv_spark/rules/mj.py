"""mj — consistency against the MJ character-information table
(mj.py:222-281).

The MJ dim (13 key columns per row, mj.py:72-117) is exploded into a
broadcastable cross-reference table  (kfield, key, gfield) →
sorted set of glyph names  — the relational form of the reference's
in-memory inverted index (mj.py:197-207).

Codes:
  "3" UNDEFINED_MJ              (jmj-* key missing, non-hentaigana)
  "0" WRONG_ENTITY(entity, expected-list)
  "2" RELATED_UNSET(None, ucs-expected-list)
  "1" WRONG_RELATED(related, ucs-expected-list)
Expected-UCS resolution follows mj.py:262-269: non-togo expectations are
replaced by that glyph's own 'related' (or dropped when unset/absent).

Gate: category ∉ {user-owned, ids, cdp, ext, bsh}.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gwv_spark import derive
from gwv_spark.parse import sql_in, sql_lit
from gwv_spark.rules import EMPTY_DETAIL, RuleContext, rule, shape, tag_s
from gwv_spark.session import local_frame

F_JMJ, F_KOSEKI, F_JUKI, F_NYUKAN, F_X0213, F_X0212, F_UCS = 0, 1, 2, 3, 4, 5, 6
F_IVS, F_SVS, F_TOKI, F_DKW, F_SHINCHO, F_SDJT = 7, 8, 9, 10, 11, 12

_SKIP_CATS = ["user-owned", "ids", "cdp", "ext", "bsh"]

# (field, fullmatch pattern, key group, key prefix) in reference order
# (mj.py:119-179); UCS additionally excludes IDS names (mj.py:129).
_CLASSIFIERS = [
    (F_IVS, r"^u[0-9a-f]{4,6}-ue01[0-9a-f]{2}$", 0, ""),
    (F_SVS, r"^u[0-9a-f]{4,6}-ufe0[0-9a-f]$", 0, ""),
    (F_UCS, r"^u([0-9a-f]{4,6})(-.+)?$", 1, ""),
    (F_KOSEKI, r"^koseki-([0-9]{6})$", 1, ""),
    (F_JMJ, r"^jmj-([0-9]{6})$", 1, ""),
    (F_JUKI, r"^juki-([0-9a-f]{4})$", 1, ""),
    (F_NYUKAN, r"^nyukan-([0-9a-f]{4})$", 1, ""),
    (F_TOKI, r"^toki-([0-9]{8})$", 1, ""),
    (F_DKW, r"^dkw-([0-9]{5}d{0,2}|h[0-9]{4})$", 1, ""),
    (F_X0213, r"^jx1-200[04]-([0-9a-f]{4})$", 1, "1-"),
    (F_X0213, r"^jx2-([0-9a-f]{4})$", 1, "2-"),
    (F_X0212, r"^jsp-([0-9a-f]{4})$", 1, ""),
    (F_SHINCHO, r"^shincho-([0-9]{5})$", 1, ""),
    (F_SDJT, r"^sdjt-([0-9]{5})$", 1, ""),
]
_RE_IDS_FULL = r"^(u2ff[0-9a-f]|u31ef)-.+$"


def _field_key(name: str) -> tuple[str, str]:
    """(field, key) of a glyph name as SQL text: the first classifier
    that matches, in reference order.  The key is already lower case
    (every pattern matches lower-case letters only), like the MJ
    table's keys (:func:`_mj_dfs` lowers them), so no Spark ``lower()``
    runs: its first evaluation initialises ICU case mapping (~1.5 s of
    one task thread per JVM)."""
    fields, keys = [], []
    for f_id, pat, grp, prefix in _CLASSIFIERS:
        matched = f"({name} RLIKE {sql_lit(pat)})"
        if f_id == F_UCS:
            matched = f"({matched} AND NOT ({name} RLIKE {sql_lit(_RE_IDS_FULL)}))"
        key = name if grp == 0 else f"regexp_extract({name}, {sql_lit(pat)}, {grp})"
        if prefix:
            key = f"concat({sql_lit(prefix)}, {key})"
        fields.append(f"WHEN {matched} THEN {f_id}")
        keys.append(f"WHEN {matched} THEN {key}")
    return (
        f"(CASE {' '.join(fields)} ELSE CAST(NULL AS INT) END)",
        f"(CASE {' '.join(keys)} ELSE CAST(NULL AS STRING) END)",
    )


def _key2gw(field: int, key: str) -> str:
    if field == F_UCS:
        return "u" + key
    if field in (F_IVS, F_SVS):
        return key
    prefix = {
        F_KOSEKI: "koseki-", F_JMJ: "jmj-", F_JUKI: "juki-",
        F_NYUKAN: "nyukan-", F_X0212: "jsp-", F_TOKI: "toki-",
        F_DKW: "dkw-", F_SHINCHO: "shincho-", F_SDJT: "sdjt-",
    }.get(field)
    if prefix is not None:
        return prefix + key
    if field == F_X0213:
        return ("jx1-2004-" + key[2:]) if key[0] == "1" else ("jx2-" + key[2:])
    raise KeyError(field)


def _mj_dfs(ctx: RuleContext):
    """key2idx(field, key, idx) and idx2gw(idx, field, gw)."""
    table = ctx.dims.get("mj", [])
    k2i, i2g = [], []
    for idx, row in enumerate(table):
        for field, keys in enumerate(row):
            if keys is None:
                continue
            if not isinstance(keys, list):
                keys = [keys]
            for key in keys:
                k2i.append((field, key.lower(), idx))
                i2g.append((idx, field, _key2gw(field, key)))
    spark = ctx.spark
    key2idx = local_frame(spark, k2i or [(-1, "", -1)], "field INT, key STRING, idx INT")
    idx2gw = local_frame(spark, i2g or [(-1, -1, "")], "idx INT, field INT, gw STRING")
    return key2idx, idx2gw


@rule("mj")
def mj(ctx: RuleContext) -> DataFrame:
    if ctx.attrs is None:
        from gwv_spark.engine import empty_violations

        return empty_violations(ctx.spark)

    key2idx, idx2gw = _mj_dfs(ctx)
    k2i = key2idx.selectExpr("field AS kfield", "key", "idx")
    i2g = idx2gw.selectExpr("idx", "field AS gfield", "gw")
    # cross-reference: (kfield, key) × gfield → sorted glyph-name set
    xref = (
        k2i.join(i2g, "idx")
        .where("kfield != gfield")
        .groupBy("kfield", "key", "gfield")
        .agg(F.expr("sort_array(collect_set(gw)) AS gws"))
    )

    field, key = _field_key("doc_id")
    docs = (
        ctx.docs.where(f"NOT {sql_in('category', _SKIP_CATS)}")
        .selectExpr("doc_id", "entity_ref", "is_alias", "entity", f"{field} AS field", f"{key} AS key")
        .where("field IS NOT NULL")
    )
    # does the key exist in the MJ table at all?
    keyed = key2idx.selectExpr("field", "key", "true AS has_idx").dropDuplicates(["field", "key"])
    docs = docs.join(F.broadcast(keyed), ["field", "key"], "left")

    # ---------- entity branch (mj.py:238-260)
    e_field, e_key = _field_key("entity_ref")
    docs = docs.selectExpr("*", f"{e_field} AS e_field", f"{e_key} AS e_key").selectExpr(
        "*",
        "entity_ref IS NOT NULL AND (NOT (doc_id RLIKE '-itaiji-[0-9]{3}$')) "
        "AND e_field IS NOT NULL AND (e_field != field) AS check_entity",
    )
    ent_exp = xref.selectExpr(
        "kfield AS field", "key", "gfield AS e_field", "gws AS entity_expected"
    )
    docs = docs.join(F.broadcast(ent_exp), ["field", "key", "e_field"], "left")
    exp_from_ent = xref.selectExpr(
        "kfield AS e_field", "key AS e_key", "gfield AS field", "gws AS expected_from_entity"
    )
    docs = docs.join(F.broadcast(exp_from_ent), ["e_field", "e_key", "field"], "left")
    entity_base = f"CASE WHEN e_field = {F_UCS} THEN get(split(entity_ref, '-', -1), 0) ELSE entity_ref END"
    own_base = f"CASE WHEN field = {F_UCS} THEN get(split(doc_id, '-', -1), 0) ELSE doc_id END"
    wrong_entity = (
        "(check_entity AND entity_expected IS NOT NULL AND (size(entity_expected) > 0) "
        f"AND (NOT array_contains(entity_expected, {entity_base})) "
        "AND expected_from_entity IS NOT NULL AND (size(expected_from_entity) > 0) "
        f"AND (NOT array_contains(expected_from_entity, {own_base})))"
    )

    # ---------- expected-UCS resolution (mj.py:262-269)
    raw_ucs = (
        k2i.join(i2g.where(f"gfield = {F_UCS}"), "idx")
        .selectExpr("kfield AS field", "key", "gw AS ucs")
        .dropDuplicates()
    )
    hex_ = "regexp_extract(ucs, '^u([0-9a-f]{4,6})$', 1)"
    togo = f"{derive.is_togo_kanji_cp(f'CAST(conv({hex_}, 16, 10) AS BIGINT)')} AND ({hex_} != '')"
    doc_related = ctx.docs.selectExpr("doc_id AS ucs").join(
        ctx.attrs.selectExpr("doc_id AS ucs", "related AS __ucs_related"), "ucs", "left"
    ).selectExpr("ucs", "coalesce(__ucs_related, 'u3013') AS ucs_related")
    resolved = (
        raw_ucs.selectExpr("*", f"{togo} AS is_togo")
        .join(doc_related, "ucs", "left")
        .selectExpr(
            "*",
            "CASE WHEN is_togo THEN ucs ELSE coalesce(ucs_related, 'u3013') END AS resolved",
        )
        .where("resolved != 'u3013'")
        .groupBy("field", "key")
        .agg(F.expr("sort_array(collect_set(resolved)) AS ucs_expected"))
    )
    docs = docs.join(F.broadcast(resolved), ["field", "key"], "left")

    # effective related: own, else the checked entity's (mj.py:272-274)
    ent_rel = ctx.attrs.selectExpr("doc_id AS entity", "related AS __entity_related")
    docs = (
        docs.join(ctx.attrs.selectExpr("doc_id", "related AS __related"), "doc_id", "left")
        .join(ent_rel, "entity", "left")
        .selectExpr(
            "*",
            "coalesce(__related, 'u3013') AS related",
            "coalesce(__entity_related, 'u3013') AS entity_related",
        )
        .selectExpr(
            "*",
            "CASE WHEN (related = 'u3013') AND is_alias THEN entity_related ELSE related END"
            " AS eff_related",
        )
    )

    errcode = (
        f"CASE WHEN has_idx IS NULL AND (field = {F_JMJ}) AND (key < '090000') THEN '3' "
        "WHEN has_idx IS NULL THEN NULL "
        f"WHEN {wrong_entity} THEN '0' "
        "WHEN ucs_expected IS NOT NULL AND (size(ucs_expected) > 0) THEN (CASE "
        "WHEN eff_related = 'u3013' THEN '2' "
        "WHEN NOT array_contains(ucs_expected, eff_related) THEN '1' END) END"
    )
    d = docs.selectExpr("*", f"{errcode} AS errcode_").where("errcode_ IS NOT NULL")
    list_tag = lambda c: f"concat('A', array_join({c}, {sql_lit(chr(31))}))"  # noqa: E731
    detail = (
        f"CASE WHEN errcode_ = '3' THEN {EMPTY_DETAIL} "
        f"WHEN errcode_ = '0' THEN array({tag_s('entity_ref')}, {list_tag('entity_expected')}) "
        f"WHEN errcode_ = '2' THEN array('N', {list_tag('ucs_expected')}) "
        f"ELSE array({tag_s('eff_related')}, {list_tag('ucs_expected')}) END"
    )
    return shape(d, "mj", "errcode_", detail)
