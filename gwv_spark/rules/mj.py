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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gwv_spark import derive
from gwv_spark.rules import RuleContext, rule, shape, tag_s
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


def _field_key(name: Column) -> tuple[Column, Column]:
    field = F.lit(None).cast("int")
    key = F.lit(None).cast("string")
    for f_id, pat, grp, prefix in reversed(_CLASSIFIERS):
        extracted = name if grp == 0 else F.regexp_extract(name, pat, grp)
        matched = name.rlike(pat)
        if f_id == F_UCS:
            matched = matched & ~name.rlike(_RE_IDS_FULL)
        k = F.concat(F.lit(prefix), extracted) if prefix else extracted
        field = F.when(matched, F.lit(f_id)).otherwise(field)
        key = F.when(matched, k).otherwise(key)
    # reference order: earlier classifiers win → build reversed, so the
    # first matching pattern ends up outermost
    return field, key


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
    # cross-reference: (kfield, key) × gfield → sorted glyph-name set
    xref = (
        key2idx.join(idx2gw, "idx")
        .where(key2idx["field"] != idx2gw["field"])
        .groupBy(key2idx["field"].alias("kfield"), "key", idx2gw["field"].alias("gfield"))
        .agg(F.sort_array(F.collect_set("gw")).alias("gws"))
    )

    docs = ctx.docs.where(~F.col("category").isin(_SKIP_CATS)).select(
        "doc_id", "entity_ref", "is_alias", "entity"
    )
    field, key = _field_key(F.col("doc_id"))
    docs = (
        docs.withColumn("field", field)
        .withColumn("key", F.lower(key))
        .where(F.col("field").isNotNull())
    )
    # does the key exist in the MJ table at all?
    keyed = key2idx.select("field", "key").dropDuplicates().withColumn("has_idx", F.lit(True))
    docs = docs.join(F.broadcast(keyed), ["field", "key"], "left")

    undefined_mj = (
        F.col("has_idx").isNull() & (F.col("field") == F_JMJ) & (F.col("key") < "090000")
    )

    # ---------- entity branch (mj.py:238-260)
    e_field, e_key = _field_key(F.col("entity_ref"))
    docs = (
        docs.withColumn("e_field", e_field)
        .withColumn("e_key", F.lower(e_key))
        .withColumn(
            "check_entity",
            F.col("entity_ref").isNotNull()
            & (~F.col("doc_id").rlike(r"-itaiji-[0-9]{3}$"))
            & F.col("e_field").isNotNull()
            & (F.col("e_field") != F.col("field")),
        )
    )
    ent_exp = xref.select(
        F.col("kfield").alias("field"), F.col("key").alias("key"),
        F.col("gfield").alias("e_field"), F.col("gws").alias("entity_expected"),
    )
    docs = docs.join(F.broadcast(ent_exp), ["field", "key", "e_field"], "left")
    exp_from_ent = xref.select(
        F.col("kfield").alias("e_field"), F.col("key").alias("e_key"),
        F.col("gfield").alias("field"), F.col("gws").alias("expected_from_entity"),
    )
    docs = docs.join(F.broadcast(exp_from_ent), ["e_field", "e_key", "field"], "left")
    entity_base = F.when(
        F.col("e_field") == F_UCS, F.get(F.split(F.col("entity_ref"), "-", -1), 0)
    ).otherwise(F.col("entity_ref"))
    own_base = F.when(
        F.col("field") == F_UCS, F.get(F.split(F.col("doc_id"), "-", -1), 0)
    ).otherwise(F.col("doc_id"))
    wrong_entity = (
        F.col("check_entity")
        & F.col("entity_expected").isNotNull()
        & (F.size("entity_expected") > 0)
        & (~F.array_contains(F.col("entity_expected"), entity_base))
        & F.col("expected_from_entity").isNotNull()
        & (F.size("expected_from_entity") > 0)
        & (~F.array_contains(F.col("expected_from_entity"), own_base))
    )

    # ---------- expected-UCS resolution (mj.py:262-269)
    raw_ucs = (
        key2idx.join(idx2gw, "idx")
        .where(idx2gw["field"] == F_UCS)
        .select(key2idx["field"].alias("field"), "key", F.col("gw").alias("ucs"))
        .dropDuplicates()
    )
    cp = F.conv(F.regexp_extract(F.col("ucs"), r"^u([0-9a-f]{4,6})$", 1), 16, 10).cast("long")
    togo = derive.is_togo_kanji_cp(cp) & (F.regexp_extract(F.col("ucs"), r"^u([0-9a-f]{4,6})$", 1) != "")
    doc_related = ctx.docs.select(F.col("doc_id").alias("ucs")).join(
        ctx.attrs.select(F.col("doc_id").alias("ucs"), F.col("related").alias("ucs_related")),
        "ucs",
        "left",
    ).withColumn("ucs_related", F.coalesce(F.col("ucs_related"), F.lit("u3013")))
    resolved = (
        raw_ucs.withColumn("is_togo", togo)
        .join(doc_related, "ucs", "left")
        .withColumn(
            "resolved",
            F.when(F.col("is_togo"), F.col("ucs")).otherwise(
                F.coalesce(F.col("ucs_related"), F.lit("u3013"))
            ),
        )
        .where(F.col("resolved") != "u3013")
        .groupBy("field", "key")
        .agg(F.sort_array(F.collect_set("resolved")).alias("ucs_expected"))
    )
    docs = docs.join(F.broadcast(resolved), ["field", "key"], "left")

    # effective related: own, else the checked entity's (mj.py:272-274)
    docs = docs.join(ctx.attrs.select("doc_id", "related"), "doc_id", "left").withColumn(
        "related", F.coalesce(F.col("related"), F.lit("u3013"))
    )
    ent_rel = ctx.attrs.select(
        F.col("doc_id").alias("entity"), F.col("related").alias("entity_related")
    )
    docs = docs.join(ent_rel, "entity", "left").withColumn(
        "entity_related", F.coalesce(F.col("entity_related"), F.lit("u3013"))
    )
    eff_related = F.when(
        (F.col("related") == "u3013") & F.col("is_alias"), F.col("entity_related")
    ).otherwise(F.col("related"))
    docs = docs.withColumn("eff_related", eff_related)

    has_ucs_exp = F.col("ucs_expected").isNotNull() & (F.size("ucs_expected") > 0)
    errcode = (
        F.when(undefined_mj, F.lit("3"))
        .when(F.col("has_idx").isNull(), F.lit(None))
        .when(wrong_entity, F.lit("0"))
        .when(
            has_ucs_exp,
            F.when(F.col("eff_related") == "u3013", F.lit("2")).when(
                ~F.array_contains(F.col("ucs_expected"), F.col("eff_related")), F.lit("1")
            ),
        )
    )
    d = docs.withColumn("errcode_", errcode).where(F.col("errcode_").isNotNull())
    list_tag = lambda c: F.concat(F.lit("A"), F.array_join(c, "\x1f"))  # noqa: E731
    detail = (
        F.when(F.col("errcode_") == "3", F.array().cast("array<string>"))
        .when(
            F.col("errcode_") == "0",
            F.array(tag_s(F.col("entity_ref")), list_tag(F.col("entity_expected"))),
        )
        .when(
            F.col("errcode_") == "2",
            F.array(F.lit("N"), list_tag(F.col("ucs_expected"))),
        )
        .otherwise(
            F.array(tag_s(F.col("eff_related")), list_tag(F.col("ucs_expected")))
        )
    )
    return shape(d, "mj", F.col("errcode_"), detail)
