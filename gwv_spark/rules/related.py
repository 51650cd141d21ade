"""related — the 'related' attribute of ucs-kanji glyphs must be the
glyph's own codepoint, remapped through kCompatibilityVariant for
compatibility ideographs (related.py:52-92).

Inputs: doc_attrs(doc_id, related) and the cjksrc dimension
(compat-variant column).  Codes:
  "0"  WRONG_RELATED(related, correct)
  "1"  MISSING_RELATED(correct)                (related == u3013, no alias)
  "2"  ENTITY_NOT_FOUND(entity)
  "10" WRONG_ENTITY_RELATED(entity, entity_related, correct)
  "11" MISSING_ENTITY_RELATED(entity, correct)
Gokan (compat) glyphs without a kCompatibilityVariant entry are skipped
(related.py:56-61); alias targets that are togo kanji are skipped
(related.py:69-73).

Shape: broadcast join vs the cjksrc dim + one self join on entity_ref.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gwv_spark import derive
from gwv_spark.derive import RE_UCS
from gwv_spark.parse import sql_lit
from gwv_spark.rules import RuleContext, rule, shape, tag_s
from gwv_spark.session import local_frame


def _cjksrc_compat_df(ctx: RuleContext):
    """(ucs, compat_ucs): the glyph name of each kCompatibilityVariant
    ('U+F900' → 'uf900'), lowered here in Python: a Spark ``lower()``
    initialises ICU case mapping in the executor the first time it runs
    (~1.5 s of one task thread per JVM)."""
    rows = [
        (ucs, "u" + cols[11][2:].lower())
        for ucs, cols in ctx.dims.get("cjksrc", {}).items()
        if cols[11] is not None
    ]
    return local_frame(ctx.spark, rows or [("", "")], "ucs STRING, compat_ucs STRING")


@rule("related")
def related(ctx: RuleContext) -> DataFrame:
    if ctx.attrs is None:
        from gwv_spark.engine import empty_violations

        return empty_violations(ctx.spark)

    docs = (
        ctx.docs.where("category = 'ucs-kanji'")
        .join(ctx.attrs.selectExpr("doc_id", "related AS __related"), "doc_id", "left")
        .selectExpr(
            "*",
            "coalesce(__related, 'u3013') AS related",
            f"concat('u', regexp_extract(doc_id, {sql_lit(RE_UCS)}, 1)) AS exp0",
        )
        .selectExpr(
            "*",
            f"{derive.is_gokan_kanji_cp('CAST(conv(substring(exp0, 2), 16, 10) AS BIGINT)')} AS is_gokan",
        )
    )
    compat = _cjksrc_compat_df(ctx).selectExpr("ucs AS exp0", "compat_ucs")
    # gokan without a compat mapping: rule skips the glyph entirely
    docs = (
        docs.join(F.broadcast(compat), "exp0", "left")
        .where("NOT (is_gokan AND compat_ucs IS NULL)")
        .selectExpr("*", "CASE WHEN is_gokan THEN compat_ucs ELSE exp0 END AS expected")
    )

    # entity attributes: existence is precomputed (derive.with_entity);
    # only the entity's related needs a lookup, against the slim attrs
    # table instead of the corpus
    ent = ctx.attrs.selectExpr("doc_id AS entity_ref", "related AS __ent_related")
    d = docs.join(ent, "entity_ref", "left").selectExpr(
        "*",
        "CASE WHEN entity_exists THEN coalesce(__ent_related, 'u3013') END AS ent_related",
    )

    ent_cp = f"CAST(conv(regexp_extract(entity_ref, {sql_lit(RE_UCS)}, 1), 16, 10) AS BIGINT)"
    ent_togo_kanji = (
        f"{derive.category('entity_ref')} = 'ucs-kanji' AND {derive.is_togo_kanji_cp(ent_cp)}"
    )
    errcode = (
        "CASE WHEN NOT related IN ('u3013') AND related != expected THEN '0' "
        f"WHEN entity_ref IS NOT NULL THEN CASE WHEN {ent_togo_kanji} THEN NULL "
        "WHEN NOT coalesce(entity_exists, false) THEN '2' "
        "WHEN ent_related = 'u3013' THEN '11' WHEN expected != ent_related THEN '10' END "
        "WHEN related = 'u3013' THEN '1' END"
    )
    d = d.selectExpr("*", f"{errcode} AS errcode_").where("errcode_ IS NOT NULL")
    detail = (
        f"CASE WHEN errcode_ = '0' THEN array({tag_s('related')}, {tag_s('expected')}) "
        f"WHEN errcode_ = '1' THEN array({tag_s('expected')}) "
        f"WHEN errcode_ = '2' THEN array({tag_s('entity_ref')}) "
        f"WHEN errcode_ = '10' THEN array({tag_s('entity_ref')}, {tag_s('ent_related')}, "
        f"{tag_s('expected')}) "
        f"ELSE array({tag_s('entity_ref')}, {tag_s('expected')}) END"
    )
    return shape(d, "related", "errcode_", detail)
