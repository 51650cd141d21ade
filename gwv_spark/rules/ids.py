"""ids — IDC structure in the *name* vs the entity's first part
(ids.py:101-197).

Gate: category = ids.  Works on the existence-checked entity's spans
(ids.py:104, via validatorctx.entity).  Per IDC class of the first name
token, checks the first part's henka suffix code, the aspect ratio of
its placement box (thresholds 1.8 / 0.65), and that the IDS's first
kanji is quoted by span 0.  Codes 1/2/3/6/10/12/13/15/22/23/33/90.

Replicates the reference's quirks: the 'u2ffe, u2fff' tuple typo makes
those IDCs fall through to UNKNOWN_IDC (ids.py:192), and the suffix
regex uses a lookahead (ids.py:83).

Shape: self join on entity + array expressions over the entity's spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gwv_spark import parse
from gwv_spark.parse import sql_in, sql_lit
from gwv_spark.rules import RuleContext, rule, shape, tag_line, tag_s
from gwv_spark.rules.order import RE_REGIONS

_RE_VARS_LOOKAHEAD = "-" + RE_REGIONS + r"?([0-9]{2})(?:-(?:var|itaiji)-[0-9]{3})?(?=@|$)"
_RE_IDC_FULL = r"^(u2ff[0-9a-f]|u31ef)$"

_LR = ("u2ff0", "u2ff2")
_TB = ("u2ff1", "u2ff3")
_SURROUND = ("u2ff4", "u2ff5", "u2ff6", "u2ff7", "u2ff8", "u2ff9", "u2ffa", "u2ffc", "u2ffd")


@rule("ids")
def ids(ctx: RuleContext) -> DataFrame:
    d0 = ctx.docs.where("category = 'ids'").select(
        "doc_id", "entity", "is_alias", "spans", "spans_d"
    )
    # existence-checked entity spans (validatorctx.py:32-37): the
    # precomputed ``entity`` column falls back to the doc itself, so a
    # doc with entity == doc_id already CARRIES its entity spans — no
    # join, no shuffle.  Only alias docs (entity != doc_id, a small
    # minority of the ids category) fetch the target's spans via the
    # equi join; that branch's left side is tiny, so AQE broadcasts it
    # and the full-corpus right side never shuffles.
    self_d = d0.where("entity = doc_id").selectExpr(
        "doc_id", "entity", "is_alias", "spans AS espans", "spans_d AS espans_d"
    )
    ent_spans = ctx.docs.selectExpr(
        "doc_id AS entity", "spans AS espans", "spans_d AS espans_d"
    )
    # explicit broadcast of the alias side: left to AQE, both SMJ inputs
    # materialize their shuffles before the runtime conversion decision,
    # so the full corpus would still shuffle on entity.  Alias ids docs
    # are a domain-bounded sliver (aliases OF ids expressions); if that
    # ever outgrows broadcast limits, drop the hint and this degrades to
    # the plain co-partitioned SMJ, still correct.
    alias_d = ent_spans.join(
        F.broadcast(d0.where("entity != doc_id").drop("spans", "spans_d")), "entity"
    )
    d = self_d.unionByName(alias_d)

    # First-span parse comes from the STORED per-span int arrays
    # (derive.prepare spans_d) materialized as ONE column.  Inlining
    # parse.int_data(first_text) here instead would copy its whole
    # expression tree into each of x1/y1/x2/y2/aspect/dx/dy — measured
    # ~1 s of per-execution optimizer time on this rule alone (the bulk
    # of ids' fixed cost in NOTES_r3), for a value the ingest layer
    # already stores.
    d = d.selectExpr(
        "*",
        "get(espans, 0).text AS ft",
        "get(espans_d, 0) AS fd0",
        f"{parse.part_name_full('get(espans, 0).text')} AS fp",
    )
    x1, y1, x2, y2 = (f"get(fd0, {i})" for i in (3, 4, 5, 6))
    # the reference crashes on 7-col 99 lines (fp NULL)
    d = d.where(
        f"(get(fd0, 0) = 99) AND (size(espans) > 1) AND {x1} IS NOT NULL AND {y1} IS NOT NULL "
        f"AND {x2} IS NOT NULL AND {y2} IS NOT NULL AND fp IS NOT NULL"
    )
    d = d.selectExpr(
        "*",
        f"CASE WHEN {y1} = {y2} THEN {sql_lit(float('inf'))} "
        f"ELSE abs(CAST(({x1} - {x2}) AS DOUBLE) / ({y1} - {y2})) END AS aspect",
        f"CAST(({x2} - {x1}) AS DOUBLE) AS dx",
        f"CAST(({y2} - {y1}) AS DOUBLE) AS dy",
        "split(doc_id, '-', -1) AS sname",
        f"nullif(regexp_extract(fp, {sql_lit(_RE_VARS_LOOKAHEAD)}, 1), '') AS fbt",
    ).selectExpr(
        "*",
        "sname[0] AS idc",
        "get(sname, 1) AS sn1",
        # first kanji token of the IDS name: one filter pass, stored
        "get(filter(transform(sname, (t, i) -> named_struct('t', t, 'i', i)), "
        f"s -> NOT (s.t RLIKE {sql_lit(_RE_IDC_FULL)})), 0) AS first_tok",
    )
    # ('cdp' merges with the next token)
    d = d.selectExpr(
        "*",
        "CASE WHEN first_tok.t = 'cdp' THEN concat('cdp-', get(sname, first_tok.i + 1)) "
        "ELSE first_tok.t END AS first_kanji",
    )
    # first entity span quoting first_kanji (ids.py:86-98), stored as
    # one struct: its offset and text as separate columns would copy
    # the whole filter-lambda tree (part_name_full per span)
    fk = (
        "get(filter(espans, s -> (s.kind = 'part') AND s.media_ref IS NOT NULL AND "
        f"coalesce(startswith({parse.part_name_full('s.text')}, first_kanji), false)), 0)"
    )
    d = d.selectExpr("*", f"{fk} AS fk").selectExpr(
        "*", "fk.`offset` AS fk_off", "fk.text AS fk_text"
    )
    is_complicated = (
        f"(({sql_in('sn1', _LR)} AND {sql_in('idc', _TB)}) "
        f"OR ({sql_in('sn1', _TB)} AND {sql_in('idc', _LR)}))"
    )
    fk_not_first = "(first_kanji IS NOT NULL AND fk_off IS NOT NULL AND (fk_off != 0))"
    lr_code = (
        "CASE WHEN fbt IN ('03', '04', '09', '14', '24') AND (dx > 175.0D) THEN '1' "
        "WHEN fbt = '02' THEN '2' "
        f"WHEN (NOT {is_complicated}) AND (NOT coalesce(fbt IN ('01', '08'), false)) "
        "AND (aspect > 1.8D) THEN '6' "
        f"WHEN {fk_not_first} THEN '3' END"
    )
    tb_code = (
        "CASE WHEN fbt IN ('01', '02', '08') AND (dy > 175.0D) THEN '10' "
        "WHEN fbt IN ('04', '14', '24') THEN '12' "
        f"WHEN (NOT {is_complicated}) AND (NOT coalesce(fbt IN ('03', '09'), false)) "
        "AND (aspect < 0.65D) THEN '15' "
        f"WHEN {fk_not_first} THEN '13' END"
    )
    surround_code = f"CASE WHEN fbt IN ('02', '06', '07') THEN '22' WHEN {fk_not_first} THEN '23' END"
    errcode = (
        f"CASE WHEN {sql_in('idc', _LR)} THEN ({lr_code}) "
        f"WHEN {sql_in('idc', _TB)} THEN ({tb_code}) "
        f"WHEN {sql_in('idc', _SURROUND)} THEN ({surround_code}) "
        f"WHEN idc = 'u2ffb' THEN (CASE WHEN {fk_not_first} THEN '33' END) "
        # 'u2ffe, u2fff' tuple typo in the reference: only u31ef passes
        "WHEN idc = 'u31ef' THEN NULL ELSE '90' END"
    )
    d = d.selectExpr("*", f"{errcode} AS errcode_").where("errcode_ IS NOT NULL")
    detail = (
        f"CASE WHEN errcode_ IN ('1', '2', '10', '12', '22') THEN array({tag_s('fp')}) "
        "WHEN errcode_ IN ('3', '13', '23', '33') THEN "
        f"array({tag_line('fk_off', 'fk_text')}) "
        f"WHEN errcode_ IN ('6', '15') THEN array({tag_line('0', 'ft')}) "
        f"ELSE array({tag_s('idc')}) END"
    )
    return shape(d, "ids", "errcode_", detail)
