"""ucsalias — alias-shape rules for UCS glyphs (ucsalias.py:53-98).

Gate: is_alias AND category ∈ {ucs-kanji, ucs-hikanji}.  entity is the
*raw* alias target string (no deref).  Codes:

  suffixed names:
    "10"/"20"  uxxxx-var/itaiji-NNN aliasing uxxxx's raw entity
    "1"        uxxxx-<region> aliasing uxxxx itself (no params)
  bare uxxxx:
    "0"        alias of non-UCS / IDS target (unless 'undefined')
    "11"/"21"  alias of its own -var-NNN / -itaiji-NNN
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from gwv_spark.parse import sql_lit

from gwv_spark.derive import RE_UCS
from gwv_spark.rules import EMPTY_DETAIL, RuleContext, rule, shape, tag_s
from gwv_spark.rules.order import RE_REGIONS

_RE_TAIL_VAR_ITAIJI = r"^-(var|itaiji)-[0-9]{3}$"
_RE_SOURCES_FULL = "^-" + RE_REGIONS + "$"
_RE_UCS_PREFIX = r"^u[0-9a-f]+(-|$)"
_RE_IDS_PREFIX = r"^(u2ff[0-9a-f]|u31ef)-"


@rule("ucsalias")
def ucsalias(ctx: RuleContext) -> DataFrame:
    nomark = f"concat('u', regexp_extract(doc_id, {sql_lit(RE_UCS)}, 1))"
    docs = ctx.docs.where(
        "is_alias AND category IN ('ucs-kanji', 'ucs-hikanji')"
    ).selectExpr(
        "doc_id",
        "entity_ref AS entity",
        f"{nomark} AS nomark",
        f"substring(doc_id, length({nomark}) + 1) AS tail",
    )
    # nomark lookup: raw entity + existence (dump.get_entity_name)
    nomark_side = ctx.docs.selectExpr("doc_id AS nomark", "raw_entity AS nomark_entity")
    d = docs.join(nomark_side, "nomark", "left")

    tail_vi = f"regexp_extract(tail, {sql_lit(_RE_TAIL_VAR_ITAIJI)}, 1)"
    suffixed_code = (
        f"CASE WHEN {tail_vi} != '' THEN (CASE WHEN nomark_entity IS NOT NULL "
        f"AND entity = nomark_entity THEN (CASE WHEN {tail_vi} = 'var' THEN '10' ELSE '20' END) END) "
        f"WHEN tail RLIKE {sql_lit(_RE_SOURCES_FULL)} THEN (CASE WHEN entity = nomark THEN '1' END) END"
    )
    # bare-uxxxx branch
    entity_tail_vi = (
        "CASE WHEN startswith(entity, concat(nomark, '-')) THEN regexp_extract("
        f"substring(entity, length(nomark) + 1), {sql_lit(_RE_TAIL_VAR_ITAIJI)}, 1) ELSE '' END"
    )
    bare_code = (
        f"CASE WHEN (NOT (entity RLIKE {sql_lit(_RE_UCS_PREFIX)})) OR "
        f"(entity RLIKE {sql_lit(_RE_IDS_PREFIX)}) THEN (CASE WHEN entity != 'undefined' THEN '0' END) "
        f"WHEN ({entity_tail_vi}) != '' THEN "
        f"(CASE WHEN ({entity_tail_vi}) = 'var' THEN '11' ELSE '21' END) END"
    )
    d = d.selectExpr(
        "*", f"CASE WHEN tail != '' THEN ({suffixed_code}) ELSE ({bare_code}) END AS errcode"
    ).where("errcode IS NOT NULL")
    detail = f"CASE WHEN errcode = '1' THEN {EMPTY_DETAIL} ELSE array({tag_s('entity')}) END"
    return shape(d, "ucsalias", "errcode", detail)
