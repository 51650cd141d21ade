"""delquote — referential integrity of part quotes (delquote.py:22-30).

Every quoted part's base name (before '@') must exist as a doc_id.
One violation per distinct offending part name per document, param =
the full quoted name.

Spark shape: explode part spans → dropDuplicates → LEFT ANTI join
against the doc_id catalog.  This is the canonical RI check of the
north rule: at small catalog cardinality AQE turns the anti join into a
broadcast; at 10^12 rows it is a shuffled sort-merge anti join where the
skewed doc_id prefixes are handled by AQE skew-join splitting (the quote
side is pre-deduplicated, which also bounds the shuffle volume).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gwv_spark.rules import RuleContext, rule, shape, tag_s


def quote_probe(ctx: RuleContext) -> DataFrame:
    """The RI probe side: distinct (doc_id, part_full, part_base) quoted
    part references.  Shared with the retraction fold
    (incremental.ri_probes)."""
    return (
        ctx.spans.where(F.col("kind") == "part")
        .select(
            "doc_id",
            F.col("part_full"),  # shared parsed column (derive.exploded_spans)
            F.col("media_ref").alias("part_base"),
        )
        .where(F.col("part_full").isNotNull())
        .dropDuplicates(["doc_id", "part_full"])
    )


def missing_quotes(ctx: RuleContext) -> DataFrame:
    """Flat RI core: (doc_id, part_full) of dangling part quotes."""
    catalog = ctx.docs.select(F.col("doc_id").alias("part_base"))
    return quote_probe(ctx).join(catalog, "part_base", "left_anti").select(
        "doc_id", "part_full"
    )


def shape_missing(missing: DataFrame) -> DataFrame:
    """Project the RI core (doc_id, part_full) onto the violations
    schema — shared by the shuffled rule and the retraction fold
    (incremental.shape_ri_state), so the two paths cannot drift."""
    return shape(
        missing,
        "delquote",
        F.lit("0"),
        F.array(tag_s(F.col("part_full"))),
        F.concat(F.col("doc_id"), F.lit("#"), F.col("part_full")),
    )


@rule("delquote")
def delquote(ctx: RuleContext) -> DataFrame:
    return shape_missing(missing_quotes(ctx))
