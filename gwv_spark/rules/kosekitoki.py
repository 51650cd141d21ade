"""kosekitoki — toki-00XXXXXX must alias koseki-XXXXXX's entity
(kosekitoki.py:34-57).

Two different entity semantics appear here (both join against the
corpus):
- toki's own entity: existence-checked deref (validatorctx.py:32-37);
- koseki's entity: raw deref (dump.py:59-61) but only when the koseki
  doc exists — else the koseki *name* stands in.

Codes: "0" NOT_ALIAS (no params), "1" NOT_ALIAS_OF_KOSEKI(entity),
"2" NOT_ALIAS_OF_ENTITY_OF_KOSEKI(entity, koseki_entity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from gwv_spark.rules import EMPTY_DETAIL, RuleContext, rule, shape, tag_s


@rule("kosekitoki")
def kosekitoki(ctx: RuleContext) -> DataFrame:
    num = "regexp_extract(doc_id, '^toki-([0-9]{8})$', 1)"
    toki = (
        ctx.docs.where("category = 'toki'")
        .selectExpr("doc_id", "is_alias", "entity", f"{num} AS num")
        .where("startswith(num, '00')")
        .selectExpr("*", "concat('koseki-', substring(num, 3)) AS koseki_name")
    )
    # The probed key is always 'koseki-' + 6 digits (num is 8 digits
    # with a '00' prefix), so only doc_ids of exactly that shape can
    # match — a static, name-structure-guaranteed prefilter that bounds
    # this side at 10^6 rows REGARDLESS of corpus scale (vs shuffling
    # the whole corpus's (doc_id, raw_entity) projection).
    koseki = ctx.docs.where("doc_id RLIKE '^koseki-[0-9]{6}$'").selectExpr(
        "doc_id AS koseki_name", "raw_entity AS koseki_raw_entity"
    )
    bad = (
        toki.join(koseki, "koseki_name", "left")
        .selectExpr("*", "coalesce(koseki_raw_entity, koseki_name) AS koseki_entity")
        .where("entity != koseki_entity")
    )
    errcode = (
        "CASE WHEN NOT is_alias THEN '0' WHEN koseki_entity = koseki_name THEN '1' ELSE '2' END"
    )
    detail = (
        f"CASE WHEN NOT is_alias THEN {EMPTY_DETAIL} "
        f"WHEN koseki_entity = koseki_name THEN array({tag_s('entity')}) "
        f"ELSE array({tag_s('entity')}, {tag_s('koseki_entity')}) END"
    )
    return shape(bad, "kosekitoki", errcode, detail)
