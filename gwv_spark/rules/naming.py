"""naming — glyph-name grammar (naming.py:102-169).

Pipeline per name (gate: not user-owned):
1. strip '-(var|itaiji)-NNN' then a 2-digit henka suffix (102-113);
2. 'dont-create' rule set → "2"; invalid GL / CDP numbers → "2";
3. IDS names (kumimoji-/u2ffX-/u31ef- prefix): iterated regex reduction
   to the single symbol 漢 (127-137) → "1"; encoded-CDP lookup → "3";
   PUA / u3013 members → "1";
4. 4-tier rule-set acceptance, else deprecated → "4", else → "0".

Everything Catalyst-native: the rule sets compile to one fullmatch-
anchored rlike each (the YAML alternations are RE-compatible with Java),
the reduction loop is unrolled (name lengths bound the iteration count),
and the cdp dictionary becomes a literal map (small dim; broadcast join
at larger cardinality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from gwv_spark.parse import sql_in, sql_lit
from gwv_spark.rules import EMPTY_DETAIL, RuleContext, rule, shape, tag_s

_RE_GL = r"^(j78|j83|j90|jsp|jx1-200[04]|jx2|k0|g0|c[0-9a-f])-([0-9a-f]{4})$"
_RE_VALID_GL = r"^(2[1-9a-f]|[3-6][0-9a-f]|7[0-9a-e]){2}$"
_RE_CDP = r"\bcdp([on]?)-([0-9a-f]{4})\b"
_RE_VALID_CDP = r"^(8[1-9a-f]|9[0-9a-f]|a0|c[67])(a[1-9a-f]|[4-6b-e][0-9a-f]|[7f][0-9a-e])$"
_RE_IDS_HEAD = r"^(kumimoji|u2ff[0-9a-f]|u31ef)-"
_RE_IDC_1 = r"\bu2ff[ef]\b"
_RE_IDC_2 = r"\b(u2ff[014-9a-d]|u31ef)\b"
_RE_IDC_3 = r"\bu2ff[23]\b"
_RE_KANJI = r"\b(?:u[23]?[0-9a-f]{4}(?:-u(?:e01[0-9a-f]{2}|fe0[0-9a-f]))?|cdp[on]?-[0-9a-f]{4})\b"
_RE_IDS_KANJI = "１-漢|２-漢-漢|３-漢-漢-漢"
_RE_UCS_TOKEN = r"\bu[23]?[0-9a-f]{4}\b"

_REDUCTION_UNROLL = 16


def _ruleset_match(name: str, rs: dict) -> str:
    cond = ["false"]
    if rs["strings"]:
        cond.append(sql_in(name, sorted(rs["strings"])))
    if rs["regex"]:
        cond.append(f"({name} RLIKE {sql_lit('^(?:' + rs['regex'] + ')$')})")
    return "(" + " OR ".join(cond) + ")"


def _replace(x: str, pattern: str, repl: str) -> str:
    return f"regexp_replace({x}, {sql_lit(pattern)}, {sql_lit(repl)})"


@rule("naming")
def naming(ctx: RuleContext) -> DataFrame:
    rules_cfg = ctx.dims["naming_rules"]
    groups = ctx.dims.get("groups", {})
    it = iter(groups.get("UCSで符号化されたCDP外字", []))
    cdp_dict = dict(zip(it, it))

    # strip the variant, then the henka suffix
    d = ctx.docs.where("category != 'user-owned'").selectExpr(
        "doc_id", f"{_replace('doc_id', r'-(var|itaiji)-[0-9]{3}$', '')} AS n1"
    ).selectExpr(
        "doc_id",
        "n1 != doc_id AS is_var",
        f"{_replace('n1', r'-[0-9]{2}$', '')} != n1 AS is_henka",
        f"{_replace('n1', r'-[0-9]{2}$', '')} AS name",
    )

    # --- prohibition checks ("2")
    prohibited = _ruleset_match("name", rules_cfg["dont-create"])
    gl4 = f"regexp_extract(name, {sql_lit(_RE_GL)}, 2)"
    gl_bad = f"(({gl4} != '') AND (NOT ({gl4} RLIKE {sql_lit(_RE_VALID_GL)})))"
    cdp_bad = (
        f"(({gl4} = '') AND exists(regexp_extract_all(name, {sql_lit(_RE_CDP)}, 2), "
        f"n -> NOT (n RLIKE {sql_lit(_RE_VALID_CDP)})))"
    )

    # --- IDS branch
    reduced = _replace("name", "^kumimoji-", "")
    for pattern, repl in [(_RE_IDC_1, "１"), (_RE_IDC_2, "２"), (_RE_IDC_3, "３"), (_RE_KANJI, "漢")]:
        reduced = _replace(reduced, pattern, repl)
    for _ in range(_REDUCTION_UNROLL):
        reduced = _replace(reduced, _RE_IDS_KANJI, "漢")

    # encoded-CDP: first cdp occurrence that (after the cdpo/cdpn→cdp
    # fallback for unknown variants) appears in the dictionary
    if cdp_dict:
        mapping = "map(" + ", ".join(sql_lit(x) for kv in cdp_dict.items() for x in kv) + ")"
    else:
        mapping = "CAST(map() AS MAP<STRING, STRING>)"
    adj = (
        f"transform(regexp_extract_all(name, {sql_lit(_RE_CDP)}, 0), c -> CASE WHEN "
        f"(c RLIKE '^cdp[on]') AND {mapping}[c] IS NULL THEN concat('cdp-', substring(c, -4, 4)) "
        "ELSE c END)"
    )
    d = d.selectExpr(
        "*",
        f"{reduced} AS reduced",
        f"get(filter({adj}, c -> {mapping}[c] IS NOT NULL), 0) AS enc_cdp",
    ).selectExpr("*", f"{mapping}[enc_cdp] AS enc_ucs")

    # PUA / u3013 tokens inside the IDS name
    bad_ucs = (
        f"exists(regexp_extract_all(name, {sql_lit(_RE_UCS_TOKEN)}, 0), "
        "u -> (u = 'u3013') OR ((u >= 'ue000') AND (u <= 'uf8ff')))"
    )

    # --- rule-set tiers
    tier_ok = (
        f"({_ruleset_match('name', rules_cfg['rule'])} "
        f"OR ((NOT is_var) AND {_ruleset_match('name', rules_cfg['rule-novar'])}) "
        f"OR ((NOT is_henka) AND {_ruleset_match('name', rules_cfg['rule-nohenka'])}) "
        f"OR ((NOT is_var) AND (NOT is_henka) "
        f"AND {_ruleset_match('name', rules_cfg['rule-novar-nohenka'])}))"
    )
    deprecated = _ruleset_match("name", rules_cfg["deprecated-rule"])

    errcode = (
        f"CASE WHEN {prohibited} OR {gl_bad} OR {cdp_bad} THEN '2' "
        f"WHEN name RLIKE {sql_lit(_RE_IDS_HEAD)} THEN (CASE WHEN reduced != '漢' THEN '1' "
        f"WHEN enc_cdp IS NOT NULL THEN '3' WHEN {bad_ucs} THEN '1' END) "
        f"WHEN {tier_ok} THEN CAST(NULL AS STRING) "
        f"WHEN {deprecated} THEN '4' ELSE '0' END"
    )
    d = d.selectExpr("*", f"{errcode} AS errcode_").where("errcode_ IS NOT NULL")
    detail = (
        f"CASE WHEN errcode_ = '1' THEN array({tag_s('reduced')}) "
        f"WHEN errcode_ = '3' THEN array({tag_s('enc_cdp')}, {tag_s('enc_ucs')}) "
        f"ELSE {EMPTY_DETAIL} END"
    )
    return shape(d, "naming", "errcode_", detail)
