"""mustrenew — versioned part quotes, keyed BY PART (mustrenew.py:30-61).

For every 99-line quote 'base@version' from a non-alias, non-user-owned
doc: group quoters by the full versioned name; classify the part by
whether the quoted base's *current* gdata itself contains '@' (is_old).
Output rows: [part_name, *sorted(quoter doc_ids)] under code "@" when
is_old else "0".  Both codes always appear in the report, even empty
(handled by engine.result_json's always-present map).

This is the one genuinely global shuffle aggregation of the rule suite:
explode → join on base → groupBy(part_full) with sort_array(collect_set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gwv_spark.rules import RuleContext, rule, shape, tag_s


@rule("mustrenew")
def mustrenew(ctx: RuleContext) -> DataFrame:
    quotes = (
        ctx.spans.where(
            (~F.col("is_alias"))
            & (F.col("category") != "user-owned")
            & (F.col("kind") == "part")
        )
        .select(
            "doc_id",
            F.col("part_full"),  # shared parsed column (derive.exploded_spans)
            F.col("media_ref").alias("part_base"),
        )
        .where(F.col("part_full").contains("@"))
    )
    # Only bases whose gdata contains '@' matter: a FALSE row and a
    # MISSING row both coalesce to is_old=False, so the left join's
    # right side keeps only the TRUE rows.  That side is version-quote
    # sparse, so at any corpus scale the join is a broadcast (AQE, from
    # the measured size) instead of a full-corpus shuffle of
    # (doc_id, bool) — the quotes side then never shuffles for the join.
    old_bases = ctx.docs.where(F.col("gdata").contains("@")).select(
        F.col("doc_id").alias("part_base"),
        F.lit(True).alias("base_is_old"),
    )
    j = quotes.join(old_bases, "part_base", "left").withColumn(
        "is_old", F.coalesce(F.col("base_is_old"), F.lit(False))
    )
    # EXPLICIT SALTING (north rule): part_full is the one genuinely
    # skewed aggregation key in the suite — a popular part is quoted by
    # an unbounded number of documents, so a single-phase
    # groupBy(part_full).collect_set would funnel every quoter of a hot
    # part through one reduce task.  Two phases: partial sets per
    # (part_full, salt) bound each task's key fan-in to ~1/N_SALT, then
    # the merge phase combines N_SALT small sets per part.  AQE's skew
    # handling covers joins but not aggregations, hence manual.
    n_salt = 16
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_salt))
    partial = j.groupBy("part_full", salt.alias("__salt")).agg(
        F.max(F.col("is_old")).alias("is_old"),
        F.collect_set(F.col("doc_id")).alias("qs"),
    )
    grouped = partial.groupBy("part_full").agg(
        F.max(F.col("is_old")).alias("is_old"),
        F.sort_array(
            F.array_distinct(F.flatten(F.collect_list(F.col("qs"))))
        ).alias("quoters"),
    )
    # reference rows are keyed by the part name, quoters as params
    out = grouped.select(
        F.col("part_full").alias("doc_id"),
        F.when(F.col("is_old"), F.lit("@")).otherwise(F.lit("0")).alias("errcode_"),
        F.transform(F.col("quoters"), lambda q: tag_s(q)).alias("detail_"),
    )
    return shape(out, "mustrenew", F.col("errcode_"), F.col("detail_"))
