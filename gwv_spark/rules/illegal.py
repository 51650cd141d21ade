"""illegal — per-line schema validation + whole-record alias/blank shape
checks (illegal.py:333-365 and helpers 92-331).

Per line (dispatch on parsed stroke type, illegal.py:338-348):
  99-line: column count must be 8 or 11 → "4"
  0-line:  exact meta forms / transform forms (7 cols) / len 4 or 7 →
           "4"/"5"/"6"
  stroke:  unknown type → "0"; arity vs datalens{1:7,2:9,3:9,4:9,6:11,
           7:11,9:7} → "1"/"2"/"3"; type 9 → "9"; geometry sanity →
           "10"/"11"/"30"/"31"/"40"/"41"; (stype,head,tail) combo not in
           the 88-entry allowed set (+4 for hikanji) → "6"
Whole record: alias_like (illegal.py:102-138) → "7" when not a true
alias; blank_like (92-99) → "8" unless gdata == '0:-1:-1:-1'.

Line-error params serialize as (first-3-columns prefix, line)
(illegal.py:357-363).  Everything is Catalyst-native; the whole-record
checks fold over the spans array without exploding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from gwv_spark.parse import sql_in
from gwv_spark.rules import EMPTY_DETAIL, RuleContext, rule, shape, tag_line, tag_s

# kage-editor stroke-shape combinations (illegal.py:141-231)
KEIJO_KUMIAWASE = [
    (1, 0, 0), (1, 0, 2), (1, 0, 32), (1, 0, 13), (1, 0, 23), (1, 0, 4),
    (1, 0, 313), (1, 0, 413), (1, 0, 24), (1, 2, 0), (1, 2, 2), (1, 32, 0),
    (1, 32, 32), (1, 32, 13), (1, 32, 23), (1, 32, 4), (1, 32, 313),
    (1, 32, 413), (1, 32, 24), (1, 12, 0), (1, 12, 32), (1, 12, 13),
    (1, 12, 23), (1, 12, 313), (1, 12, 413), (1, 12, 24), (1, 22, 0),
    (1, 22, 32), (1, 22, 13), (1, 22, 23), (1, 22, 4), (1, 22, 313),
    (1, 22, 413), (1, 22, 24), (2, 0, 7), (2, 0, 5), (2, 32, 7), (2, 32, 4),
    (2, 32, 5), (2, 12, 7), (2, 22, 7), (2, 22, 4), (2, 22, 5), (2, 7, 0),
    (2, 7, 8), (2, 7, 4), (2, 27, 0), (3, 0, 0), (3, 0, 5), (3, 0, 32),
    (3, 32, 0), (3, 32, 5), (3, 32, 32), (3, 12, 0), (3, 12, 5), (3, 12, 32),
    (3, 22, 0), (3, 22, 5), (3, 22, 32), (4, 0, 0), (4, 0, 5), (4, 22, 0),
    (4, 22, 5), (6, 0, 7), (6, 0, 5), (6, 32, 7), (6, 32, 4), (6, 32, 5),
    (6, 12, 7), (6, 22, 7), (6, 22, 4), (6, 22, 5), (6, 7, 0), (6, 7, 8),
    (6, 7, 4), (6, 27, 0), (7, 0, 7), (7, 32, 7), (7, 12, 7), (7, 22, 7),
    (0, 0, 0), (0, -1, -1), (0, 99, 1), (0, 99, 2), (0, 99, 3), (0, 98, 0),
    (0, 97, 0), (9, 0, 0),
]
HIKANJI_EXTRA = [(2, 32, 0), (6, 32, 0), (2, 32, 8), (6, 32, 8)]

_COMBO = [f"{a},{b},{c}" for a, b, c in KEIJO_KUMIAWASE]
_COMBO_HIKANJI = _COMBO + [f"{a},{b},{c}" for a, b, c in HIKANJI_EXTRA]


def _yoko(x0: str, y0: str, x1: str, y1: str) -> str:
    dx, dy = f"({x1} - {x0})", f"({y1} - {y0})"
    return f"({y0} = {y1} AND {x0} != {x1} OR -{dx} < {dy} AND {dy} < {dx})"


# The stroke-line code reads the stroke, head and tail types with the
# hikanji `% 100` applied, and the column count the type expects; each
# is a column of its own, so the code below names each once.
_STROKE_TYPES = [
    f"CASE WHEN is_hikanji AND get(d, {i}) >= 0 THEN get(d, {i}) % 100 ELSE get(d, {i}) END AS {c}"
    for i, c in enumerate(["st_eff", "s0", "s1"])
]
_EXPECTED_LEN = (
    "CASE WHEN st_eff = 1 THEN 7 WHEN st_eff IN (2, 3, 4) THEN 9 "
    "WHEN st_eff IN (6, 7) THEN 11 WHEN st_eff = 9 THEN 7 END AS exp_len"
)


def _line_errcode() -> str:
    """The per-line code over the span's parsed ints ``d`` and the
    columns of _STROKE_TYPES and _EXPECTED_LEN (SQL text)."""
    dn, st, c1, c2 = "size(d)", "get(d, 0)", "get(d, 1)", "get(d, 2)"

    # ---- 99-line (illegal.py:244-248)
    e99 = f"CASE WHEN NOT {dn} IN (8, 11) THEN '4' END"

    # ---- 0-line (illegal.py:251-263)
    pair12 = f"concat_ws(',', CAST({c1} AS STRING), CAST({c2} AS STRING))"
    exact_ok = (
        f"{dn} = 4 AND {pair12} = '0,0' AND get(d, 3) = 0 "
        f"OR {dn} = 4 AND {pair12} = '-1,-1' AND get(d, 3) = -1"
    )
    both = f"{c1} IS NOT NULL AND {c2} IS NOT NULL"
    transform_form = f"{both} AND {sql_in(pair12, ['99,1', '99,2', '99,3', '98,0', '97,0'])}"
    e0 = (
        f"CASE WHEN {exact_ok} THEN CAST(NULL AS STRING) ELSE CASE "
        f"WHEN {transform_form} THEN CASE WHEN {dn} != 7 THEN '4' END "
        f"WHEN NOT {dn} IN (4, 7) THEN '4' "
        f"WHEN {pair12} IN ('0,0', '-1,-1') AND {both} THEN '5' ELSE '6' END END"
    )

    # ---- stroke line (illegal.py:266-322)
    extras = f"slice(d, exp_len + 1, greatest({dn} - exp_len, 0))"
    combo = "concat_ws(',', CAST(st_eff AS STRING), CAST(s0 AS STRING), CAST(s1 AS STRING))"
    combo_bad = (
        f"CASE WHEN is_hikanji THEN NOT {sql_in(combo, _COMBO_HIKANJI)} "
        f"ELSE NOT {sql_in(combo, _COMBO)} END"
    )
    n_pairs = f"CAST(floor(({dn} - 3) / 2) AS INT)"
    pairs_ok = (
        f"CASE WHEN {n_pairs} <= 0 THEN true ELSE forall(sequence(0, greatest({n_pairs} - 1, 0)), "
        "i -> get(d, i * 2 + 3) IS NOT NULL AND get(d, i * 2 + 4) IS NOT NULL) END"
    )
    x0, y0, x1, y1, x2 = (f"get(d, {i})" for i in range(3, 8))
    yoko = _yoko(x0, y0, x1, y1)
    geo = (
        f"CASE WHEN {pairs_ok} THEN CASE "
        f"WHEN st_eff = 1 THEN CASE WHEN {yoko} THEN CASE WHEN s0 IN (12, 22, 32) "
        "OR s1 IN (32, 13, 23, 24, 313, 413) THEN '10' END "
        "ELSE CASE WHEN s0 = 2 OR s1 = 2 THEN '11' END END "
        f"WHEN st_eff = 3 THEN CASE WHEN {yoko} THEN '30' WHEN s1 = 5 AND {x1} = {x2} THEN '31' END "
        f"WHEN st_eff = 4 THEN CASE WHEN {yoko} THEN '40' WHEN s1 = 5 AND {x1} >= {x2} THEN '41' END "
        "END END"
    )
    estroke = (
        f"CASE WHEN {st} IS NULL THEN '0' "
        "WHEN NOT st_eff IN (1, 2, 3, 4, 6, 7, 9) THEN '0' "
        f"WHEN {dn} < exp_len THEN '1' "
        f"WHEN {dn} > exp_len THEN CASE WHEN exists({extras}, x -> x IS NULL OR x != 0) "
        "THEN '2' ELSE '3' END "
        "WHEN st_eff = 9 THEN '9' "
        f"WHEN {c1} IS NULL OR {c2} IS NULL THEN '6' "
        f"WHEN {geo} IS NOT NULL THEN {geo} "
        f"WHEN {combo_bad} THEN '6' END"
    )
    return f"CASE WHEN {st} = 99 THEN {e99} WHEN {st} = 0 THEN {e0} ELSE {estroke} END"


def _span_alias_class(dd: str) -> str:
    """'F' fail / 'P' pass / 'Q' no-effect 200x200 quote
    (is_alias_like, illegal.py:102-138) — over the shared parsed int
    array, no re-parse."""
    dn, st, sx, sy = f"size({dd})", f"get({dd}, 0)", f"get({dd}, 1)", f"get({dd}, 2)"
    g = {i: f"get({dd}, {i})" for i in (3, 4, 5, 6, 9, 10)}
    coords_200 = f"{dn} >= 7 AND {g[3]} = 0 AND {g[4]} = 0 AND {g[5]} = 200 AND {g[6]} = 200"
    adj = f"{sx} > 100"
    sx_adj = f"CASE WHEN {adj} THEN {sx} - 200 ELSE {sx} END"
    sx2 = f"CASE WHEN {adj} THEN {g[9]} ELSE 0 END"
    sy2 = f"CASE WHEN {adj} THEN {g[10]} ELSE 0 END"
    stretch_ok = (
        f"{coords_200} AND {sx} IS NOT NULL AND {sy} IS NOT NULL "
        f"AND CASE WHEN {adj} THEN {dn} >= 11 AND {g[9]} IS NOT NULL AND {g[10]} IS NOT NULL "
        "ELSE true END "
        f"AND ({sx_adj} = 0 AND {sy} = 0 OR {sx_adj} = {sx2} AND {sy} = {sy2})"
    )
    return (
        f"CASE WHEN {st} IS NULL OR {st} < 0 THEN 'F' "
        f"WHEN {st} = 0 THEN CASE WHEN {dn} >= 3 AND {sx} IN (97, 98, 99) THEN 'F' ELSE 'P' END "
        f"WHEN {st} = 99 THEN CASE WHEN {stretch_ok} THEN 'Q' ELSE 'F' END "
        f"WHEN {st} % 100 = 9 THEN 'P' ELSE 'F' END"
    )


def _span_blank_ok(dd: str) -> str:
    st = f"get({dd}, 0)"
    return f"NOT ({st} IS NULL OR {st} < 0 OR {st} = 99 OR {st} % 100 IN (1, 2, 3, 4, 6, 7))"


@rule("illegal")
def illegal(ctx: RuleContext) -> DataFrame:
    # ---- per-line codes ('d' = shared parsed int columns,
    # derive.exploded_spans)
    sp = (
        ctx.spans.where("category != 'user-owned'")
        .selectExpr("*", *_STROKE_TYPES)
        .selectExpr("*", _EXPECTED_LEN)
        .selectExpr("*", f"{_line_errcode()} AS errcode_")
        .where("errcode_ IS NOT NULL")
    )
    prefix3 = "array_join(slice(split(text, ':', -1), 1, 3), ':')"
    line_v = shape(
        sp,
        "illegal",
        "errcode_",
        f"array({tag_s(prefix3)}, {tag_line('`offset`', 'text')})",
        f"concat({prefix3}, '#', doc_id, '#', lpad(CAST(`offset` AS STRING), 6, '0'))",
    )

    # ---- whole-record codes: a narrow higher-order-function pass over
    # docs.spans — per-doc reductions need NO shuffle (the earlier
    # groupBy(doc_id) over exploded spans re-shuffled the whole corpus
    # just to regroup rows that were already co-located per document).
    #
    # Expression-sharing note: an expression referenced N times is
    # inlined N times (CollapseProject + predicate pushdown collapse
    # intermediate Projects, and the optimizer does not CSE across HOF
    # boundaries), so the earlier exists/filter/forall formulation
    # re-ran the full int_data parse 3x per span and the class twice.
    # Here every shared value is bound ONCE as a lambda variable of a
    # higher-order function, which is a structural guarantee of single
    # evaluation:
    #   parse   — the STORED per-span int arrays (docs.spans_d,
    #             derive.prepare) — zero parse work at rule time
    #   class   — struct fields of the flags transform (once per span)
    #   fold    — ONE aggregate() producing (any_f, n_q, all_blank)
    #   verdict — transform over a 1-element array as a let-binding, so
    #             the fold result is a lambda variable, evaluated once
    # The two record codes come out of one explode — one pass per doc,
    # no .where branches for pushdown to duplicate into.
    fl = (
        "transform(spans_d, dd -> named_struct("
        f"'cls', {_span_alias_class('dd')}, 'bok', {_span_blank_ok('dd')}))"
    )
    folded = (
        f"aggregate({fl}, named_struct('any_f', false, 'n_q', 0, 'all_blank', true), "
        "(a, f) -> named_struct('any_f', a.any_f OR f.cls = 'F', "
        "'n_q', a.n_q + CAST(f.cls = 'Q' AS INT), 'all_blank', a.all_blank AND f.bok))"
    )
    exact_blank = "(n_spans = 1 AND element_at(spans, 1).text = '0:-1:-1:-1')"
    codes = (
        f"flatten(transform(array({folded}), t -> array_compact(array("  # let-bind the fold
        "CASE WHEN NOT is_alias AND NOT t.any_f AND t.n_q = 1 THEN '7' END, "
        f"CASE WHEN t.all_blank AND NOT {exact_blank} THEN '8' END))))"
    )
    rec_v = ctx.docs.where("category != 'user-owned'").selectExpr(
        "doc_id", f"explode({codes}) AS ec"
    )
    record_v = shape(rec_v, "illegal", "ec", EMPTY_DETAIL)
    return line_v.unionByName(record_v)
