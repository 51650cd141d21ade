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
    quotes = ctx.spans.where(
        "(NOT is_alias) AND (category != 'user-owned') AND (kind = 'part') "
        "AND contains(part_full, '@')"
    ).selectExpr(
        # part_full: shared parsed column (derive.exploded_spans)
        "doc_id", "part_full", "media_ref AS part_base"
    )
    # Only bases whose gdata contains '@' matter: a FALSE row and a
    # MISSING row both coalesce to is_old=False, so the left join's
    # right side keeps only the TRUE rows.  That side is version-quote
    # sparse, so at any corpus scale the join is a broadcast (AQE, from
    # the measured size) instead of a full-corpus shuffle of
    # (doc_id, bool) — the quotes side then never shuffles for the join.
    old_bases = ctx.docs.where("contains(gdata, '@')").selectExpr(
        "doc_id AS part_base", "true AS base_is_old"
    )
    j = quotes.join(old_bases, "part_base", "left").selectExpr(
        "*", "coalesce(base_is_old, false) AS is_old"
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
    partial = j.groupBy("part_full", F.expr(f"pmod(xxhash64(doc_id), {n_salt}) AS __salt")).agg(
        F.expr("max(is_old) AS is_old"), F.expr("collect_set(doc_id) AS qs")
    )
    grouped = partial.groupBy("part_full").agg(
        F.expr("max(is_old) AS is_old"),
        F.expr("sort_array(array_distinct(flatten(collect_list(qs)))) AS quoters"),
    )
    # reference rows are keyed by the part name, quoters as params
    out = grouped.selectExpr(
        "part_full AS doc_id",
        "CASE WHEN is_old THEN '@' ELSE '0' END AS errcode_",
        f"transform(quoters, q -> {tag_s('q')}) AS detail_",
    )
    return shape(out, "mustrenew", "errcode_", "detail_")
