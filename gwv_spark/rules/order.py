"""order — first/last part's henka suffix must match its position
(order.py:50-82 in the reference).

Gates: not alias, not user-owned, no transform, >1 span.  First span
checked before last (SingleErrorValidator short-circuit).  The henka
code is the first match of ``-REGIONS?(\\d{2})(-(var|itaiji)-\\d{3})?(@|$)``
searched inside the part name (order.py:47).

Fully native: element_at on the spans array + regexp_extract + a
coalesce(when...) chain — no explode, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from gwv_spark import parse
from gwv_spark.parse import sql_lit
from gwv_spark.rules import RuleContext, rule, shape, tag_s

RE_REGIONS = r"(?:[gtvh]v?|[mis]|k[pv]?|u[ks]?|j[asvn]?)"
_RE_VARS = "-" + RE_REGIONS + r"?(\d{2})(?:-(?:var|itaiji)-\d{3})?(?:@|$)"


def _henka(part_name: str) -> str:
    return f"regexp_extract({part_name}, {sql_lit(_RE_VARS)}, 1)"


@rule("order")
def order(ctx: RuleContext) -> DataFrame:
    docs = ctx.docs.where(
        "(NOT is_alias) AND (category != 'user-owned') AND (NOT has_transform) "
        "AND (n_spans > 1)"
    )
    d = docs.selectExpr(
        "doc_id",
        f"{parse.part_name_full('get(spans, 0).text')} AS first_part",
        f"{parse.part_name_full('element_at(spans, -1).text')} AS last_part",
    ).selectExpr(
        "doc_id", "first_part", "last_part",
        f"{_henka('first_part')} AS fh", f"{_henka('last_part')} AS lh",
    )
    first_code = "CASE WHEN fh = '02' THEN '2' WHEN fh IN ('04', '14', '24') THEN '4' WHEN fh = '06' THEN '6' END"
    last_code = (
        "CASE WHEN lh = '01' THEN '11' WHEN lh = '03' THEN '13' "
        "WHEN lh IN ('05', '10', '11', '15') THEN '15' END"
    )
    d = d.selectExpr(
        "*",
        f"coalesce(CASE WHEN first_part IS NOT NULL THEN {first_code} END, "
        f"CASE WHEN last_part IS NOT NULL THEN {last_code} END) AS errcode",
    ).where("errcode IS NOT NULL")
    param = "CASE WHEN errcode IN ('2', '4', '6') THEN first_part ELSE last_part END"
    return shape(d, "order", "errcode", f"array({tag_s(param)})")
