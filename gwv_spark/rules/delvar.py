"""delvar — the derivation base of a variant name must exist
(delvar.py:30-44).

Three anchored patterns tried in order (delvar.py:25-27); the first
match's group(1) is the base; violation iff the base is not a doc_id.
LEFT ANTI join on the derived key — same RI shape as delquote but on a
*derived* join key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gwv_spark.rules import RuleContext, rule, shape, tag_s
from gwv_spark.rules.order import RE_REGIONS

_RE1 = r"^(.+)-(?:(?:var|itaiji)-[0-9]{3}|[0-9]{2})$"
_RE2 = r"^(u[0-9a-f]{4,5}-" + RE_REGIONS + r")[0-9]{2}$"
_RE3 = r"^(u[0-9a-f]{4,5}|cdp[on]?-[0-9a-f]{4})-.+$"

_SKIP_CATS = ["user-owned", "koseki", "toki", "ext", "bsh"]


def derived_base(name):  # Column -> Column
    """The derivation base of a variant name (first matching pattern's
    group 1), NULL when no pattern matches (delvar.py:25-27)."""
    m1 = F.regexp_extract(name, _RE1, 1)
    m2 = F.regexp_extract(name, _RE2, 1)
    m3 = F.regexp_extract(name, _RE3, 1)
    return F.when(m1 != "", m1).when(m2 != "", m2).when(m3 != "", m3)


def variant_probe(ctx: RuleContext) -> DataFrame:
    """The RI probe side: (doc_id, base) derivation-base candidates.
    Shared with the retraction fold (incremental.ri_probes)."""
    docs = ctx.docs.where(~F.col("category").isin(_SKIP_CATS))
    return docs.select("doc_id", derived_base(F.col("doc_id")).alias("base")).where(
        F.col("base").isNotNull()
    )


def missing_bases(ctx: RuleContext) -> DataFrame:
    """Flat RI core: (doc_id, base) where the derivation base is absent
    from the corpus."""
    catalog = ctx.docs.select(F.col("doc_id").alias("base"))
    return variant_probe(ctx).join(catalog, "base", "left_anti")


def shape_missing(missing: DataFrame) -> DataFrame:
    """Project the RI core (doc_id, base) onto the violations schema —
    shared by the shuffled rule and the retraction fold
    (incremental.shape_ri_state)."""
    return shape(missing, "delvar", F.lit("0"), F.array(tag_s(F.col("base"))))


@rule("delvar")
def delvar(ctx: RuleContext) -> DataFrame:
    return shape_missing(missing_bases(ctx))
