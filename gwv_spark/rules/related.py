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
from gwv_spark.rules import RuleContext, rule, shape, tag_s
from gwv_spark.session import local_frame


def _cjksrc_compat_df(ctx: RuleContext):
    rows = [
        (ucs, cols[11])
        for ucs, cols in ctx.dims.get("cjksrc", {}).items()
        if cols[11] is not None
    ]
    return local_frame(ctx.spark, rows or [("", "")], "ucs STRING, compat STRING")


@rule("related")
def related(ctx: RuleContext) -> DataFrame:
    if ctx.attrs is None:
        from gwv_spark.engine import empty_violations

        return empty_violations(ctx.spark)

    docs = (
        ctx.docs.where(F.col("category") == "ucs-kanji")
        .join(ctx.attrs.select("doc_id", "related"), "doc_id", "left")
        .withColumn("related", F.coalesce(F.col("related"), F.lit("u3013")))
        .withColumn("exp0", F.concat(F.lit("u"), F.regexp_extract(F.col("doc_id"), RE_UCS, 1)))
    )
    cp = F.conv(F.expr("substring(exp0, 2)"), 16, 10).cast("long")
    docs = docs.withColumn("is_gokan", derive.is_gokan_kanji_cp(cp))
    compat = _cjksrc_compat_df(ctx).select(
        F.col("ucs").alias("exp0"), F.col("compat").alias("compat")
    )
    docs = docs.join(F.broadcast(compat), "exp0", "left")
    # gokan without a compat mapping: rule skips the glyph entirely
    docs = docs.where(~(F.col("is_gokan") & F.col("compat").isNull()))
    expected = F.when(
        F.col("is_gokan"),
        F.concat(F.lit("u"), F.lower(F.expr("substring(compat, 3)"))),
    ).otherwise(F.col("exp0"))
    docs = docs.withColumn("expected", expected)

    # entity attributes: existence is precomputed (derive.with_entity);
    # only the entity's related needs a lookup, against the slim attrs
    # table instead of the corpus
    ent = ctx.attrs.select(
        F.col("doc_id").alias("entity_ref"), F.col("related").alias("ent_related")
    )
    d = (
        docs.join(ent, "entity_ref", "left")
        .withColumn("ent_exists", F.col("entity_exists"))
        .withColumn(
            "ent_related",
            F.when(
                F.col("entity_exists"), F.coalesce(F.col("ent_related"), F.lit("u3013"))
            ),
        )
    )

    ent_hex = F.regexp_extract(F.col("entity_ref"), RE_UCS, 1)
    ent_cat = derive.category(F.col("entity_ref"))
    ent_togo_kanji = (ent_cat == "ucs-kanji") & derive.is_togo_kanji_cp(
        F.conv(ent_hex, 16, 10).cast("long")
    )

    code0 = ~F.col("related").isin("u3013") & (F.col("related") != F.col("expected"))
    errcode = (
        F.when(code0, F.lit("0"))
        .when(
            F.col("entity_ref").isNotNull(),
            F.when(ent_togo_kanji, F.lit(None))
            .when(~F.coalesce(F.col("ent_exists"), F.lit(False)), F.lit("2"))
            .when(F.col("ent_related") == "u3013", F.lit("11"))
            .when(F.col("expected") != F.col("ent_related"), F.lit("10")),
        )
        .when(F.col("related") == "u3013", F.lit("1"))
    )
    d = d.withColumn("errcode_", errcode).where(F.col("errcode_").isNotNull())
    detail = (
        F.when(
            F.col("errcode_") == "0",
            F.array(tag_s(F.col("related")), tag_s(F.col("expected"))),
        )
        .when(F.col("errcode_") == "1", F.array(tag_s(F.col("expected"))))
        .when(F.col("errcode_") == "2", F.array(tag_s(F.col("entity_ref"))))
        .when(
            F.col("errcode_") == "10",
            F.array(tag_s(F.col("entity_ref")), tag_s(F.col("ent_related")), tag_s(F.col("expected"))),
        )
        .otherwise(F.array(tag_s(F.col("entity_ref")), tag_s(F.col("expected"))))
    )
    return shape(d, "related", F.col("errcode_"), detail)
