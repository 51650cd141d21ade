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
    quotes = (
        ctx.spans.where((~F.col("is_alias")) & (F.col("kind") == "part"))
        .select(
            "doc_id",
            "offset",
            F.col("part_full"),  # shared parsed column (derive.exploded_spans)
            F.col("media_ref").alias("part_base"),
        )
        .where(F.col("part_full").isNotNull())
    )
    targets = ctx.docs.where(F.col("gdata").contains("do-not-use")).select(
        F.col("doc_id").alias("part_base")
    )
    bad = quotes.join(targets, "part_base")
    grouped = bad.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("offset"), F.col("part_full")))
        ).alias("ordered")
    )
    detail = F.transform(F.col("ordered"), lambda s: tag_s(s["part_full"]))
    return shape(grouped, "donotuse", F.lit("0"), detail)
