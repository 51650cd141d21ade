"""donotuse — quoting a part whose current gdata contains 'do-not-use'
(donotuse.py:23-39).

Gate: not alias.  One violation per offending document; params are the
offending *full* part names spliced in line order (duplicates kept —
the reference appends per line, donotuse.py:27-32).

Shape: explode part spans → join quoted doc's gdata (equi join on the
base name) → filter contains → groupBy doc with order-preserving
collect via array_sort on (offset, name) structs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gwv_spark.rules import RuleContext, rule, shape, tag_s


@rule("donotuse")
def donotuse(ctx: RuleContext) -> DataFrame:
    quotes = ctx.spans.where(
        "(NOT is_alias) AND (kind = 'part') AND part_full IS NOT NULL"
    ).selectExpr(
        # part_full: shared parsed column (derive.exploded_spans)
        "doc_id", "`offset`", "part_full", "media_ref AS part_base"
    )
    targets = ctx.docs.where("contains(gdata, 'do-not-use')").selectExpr(
        "doc_id AS part_base"
    )
    grouped = (
        quotes.join(targets, "part_base")
        .groupBy("doc_id")
        .agg(F.expr(
            "array_sort(collect_list(named_struct('offset', `offset`, 'part_full', part_full)))"
            " AS ordered"
        ))
    )
    return shape(grouped, "donotuse", "'0'", f"transform(ordered, s -> {tag_s('s.part_full')})")
