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

from gwv_spark.rules import RuleContext, rule, shape, tag_s


def quote_probe(ctx: RuleContext) -> DataFrame:
    """The RI probe side: distinct (doc_id, part_full, part_base) quoted
    part references.  Shared with the retraction fold
    (incremental.ri_probes)."""
    return (
        ctx.spans.where("kind = 'part' AND part_full IS NOT NULL")
        # part_full: shared parsed column (derive.exploded_spans)
        .selectExpr("doc_id", "part_full", "media_ref AS part_base")
        .dropDuplicates(["doc_id", "part_full"])
    )


def missing_quotes(ctx: RuleContext) -> DataFrame:
    """Flat RI core: (doc_id, part_full) of dangling part quotes."""
    catalog = ctx.docs.selectExpr("doc_id AS part_base")
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
        "'0'",
        f"array({tag_s('part_full')})",
        "concat(doc_id, '#', part_full)",
    )


@rule("delquote")
def delquote(ctx: RuleContext) -> DataFrame:
    return shape_missing(missing_quotes(ctx))
