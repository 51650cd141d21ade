"""delvar — the derivation base of a variant name must exist
(delvar.py:30-44).

Three anchored patterns tried in order (delvar.py:25-27); the first
match's group(1) is the base; violation iff the base is not a doc_id.
LEFT ANTI join on the derived key — same RI shape as delquote but on a
*derived* join key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from gwv_spark.parse import sql_in, sql_lit
from gwv_spark.rules import RuleContext, rule, shape, tag_s
from gwv_spark.rules.order import RE_REGIONS

_RE1 = r"^(.+)-(?:(?:var|itaiji)-[0-9]{3}|[0-9]{2})$"
_RE2 = r"^(u[0-9a-f]{4,5}-" + RE_REGIONS + r")[0-9]{2}$"
_RE3 = r"^(u[0-9a-f]{4,5}|cdp[on]?-[0-9a-f]{4})-.+$"

_SKIP_CATS = ["user-owned", "koseki", "toki", "ext", "bsh"]


def derived_base(name: str) -> str:
    """The derivation base of a variant name (first matching pattern's
    group 1), NULL when no pattern matches (delvar.py:25-27)."""
    m1, m2, m3 = (f"regexp_extract({name}, {sql_lit(p)}, 1)" for p in (_RE1, _RE2, _RE3))
    return f"(CASE WHEN {m1} != '' THEN {m1} WHEN {m2} != '' THEN {m2} WHEN {m3} != '' THEN {m3} END)"


def variant_probe(ctx: RuleContext) -> DataFrame:
    """The RI probe side: (doc_id, base) derivation-base candidates.
    Shared with the retraction fold (incremental.ri_probes)."""
    docs = ctx.docs.where(f"NOT {sql_in('category', _SKIP_CATS)}")
    return docs.selectExpr("doc_id", f"{derived_base('doc_id')} AS base").where(
        "base IS NOT NULL"
    )


def missing_bases(ctx: RuleContext) -> DataFrame:
    """Flat RI core: (doc_id, base) where the derivation base is absent
    from the corpus."""
    catalog = ctx.docs.selectExpr("doc_id AS base")
    return variant_probe(ctx).join(catalog, "base", "left_anti")


def shape_missing(missing: DataFrame) -> DataFrame:
    """Project the RI core (doc_id, base) onto the violations schema —
    shared by the shuffled rule and the retraction fold
    (incremental.shape_ri_state)."""
    return shape(missing, "delvar", "'0'", f"array({tag_s('base')})")


@rule("delvar")
def delvar(ctx: RuleContext) -> DataFrame:
    return shape_missing(missing_bases(ctx))
