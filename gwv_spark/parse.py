"""Spark SQL expression builders for the KAGE line grammar.

The reference parses every record in interpreted Python
(kagedata.py:20-110 in /root/reference).  Here the same semantics are
Catalyst expressions, so the whole parse stays inside whole-stage
codegen — no Python in the hot path.  Every builder takes and returns
Spark SQL text: a caller enters a whole expression with one
``F.expr``/``selectExpr``, one JVM round trip where a Column tree would
cost one per node (plus the delete of each dropped node's proxy).

Semantics reproduced (cited against the reference):

- ``kageInt`` (kagedata.py:20-34): ``int(s)`` except ``''``/whitespace → 0;
  invalid → error.  The suppressed variant (kagedata.py:37-42) → NULL.
  Python ``int`` accepts an optional sign and underscore digit grouping
  (``'1_0'`` → 10), which the expression mirrors exactly.
- line columns: ``:``-separated; column 7 of a type-99 line is a string
  part name, optionally ``name@version`` (kagedata.py:70-78, 94-98).
- alias detection (kagedata.py:5-17): gdata with no ``$`` equal to
  ``99:0:0:0:0:200:200:<entity>`` where entity has no ``:``.
- has_transform (kagedata.py:51-57): any line with ≥2 columns,
  stroke_type 0 and head_type in (97, 98, 99).
"""

from __future__ import annotations

import math

ALIAS_PREFIX = "99:0:0:0:0:200:200:"

# Matches exactly the strings CPython's int() accepts after .strip()
# (sign, decimal digits, single underscores between digits).
_PY_INT_RE = r"^[+-]?[0-9](?:_?[0-9])*$"


def sql_lit(v) -> str:
    """A Python value as a Spark SQL literal of the same type.

    Spark SQL unescapes backslash sequences in string literals, so a
    regex such as ``\\b`` written into SQL text unquoted would silently
    become ``b``; every string goes through here, which escapes each
    backslash and quote.  Floats carry the ``D`` suffix: a bare ``0.5``
    is a DECIMAL in Spark SQL."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"{v!r}D"
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_in(x: str, values) -> str:
    """``x IN (values)`` over literals; FALSE for no values."""
    values = list(values)
    return f"{x} IN ({', '.join(map(sql_lit, values))})" if values else "false"


def kage_int(x: str) -> str:
    """kageIntSuppressError: '' → 0, invalid → NULL (int)."""
    t = f"trim({x})"
    return (
        f"CASE WHEN {t} = '' THEN 0 WHEN {t} RLIKE {sql_lit(_PY_INT_RE)} "
        f"THEN CAST(regexp_replace({t}, '_', '') AS INT) ELSE CAST(NULL AS INT) END"
    )


def int_data(text: str) -> str:
    """All columns parsed with kageInt semantics → ARRAY<INT> (NULL slots
    for unparsable columns; column 7 of a 99-line is forced NULL, matching
    kagedata.py:70-76)."""
    cols = f"split({text}, ':', -1)"
    parsed = f"transform({cols}, c -> {kage_int('c')})"
    return (
        f"CASE WHEN {kage_int(f'get({cols}, 0)')} = 99 THEN transform({parsed}, "
        "(c, i) -> CASE WHEN i = 7 THEN CAST(NULL AS INT) ELSE c END) "
        f"ELSE {parsed} END"
    )


def part_name_full(text: str) -> str:
    """Column 7 of a 99-line (may include '@version'); NULL otherwise or
    when the line has <8 columns (kagedata.py:77-78)."""
    cols = f"split({text}, ':', -1)"
    return (
        f"CASE WHEN {kage_int(f'get({cols}, 0)')} = 99 AND size({cols}) >= 8 "
        f"THEN get({cols}, 7) ELSE CAST(NULL AS STRING) END"
    )


def gdata_to_spans(gdata: str) -> str:
    """gdata string → ARRAY<STRUCT<kind, text, media_ref, offset>>.

    One span per '$'-separated line, in order (kagedata.py:45-49);
    kind = 'part' | 'meta' | 'stroke' from the stroke type (FIXTURES.md
    §1); media_ref = the part name before any '@version' for kind='part'
    (delquote.py:26), else NULL.
    """
    st = kage_int("get(split(t, ':', -1), 0)")
    sep = sql_lit(r"\$")
    return (
        f"transform(split({gdata}, {sep}, -1), (t, i) -> named_struct("
        f"'kind', CASE WHEN {st} = 99 THEN 'part' WHEN {st} = 0 THEN 'meta' ELSE 'stroke' END, "
        "'text', t, "
        f"'media_ref', get(split({part_name_full('t')}, '@', -1), 0), "
        "'offset', CAST(i AS INT)))"
    )


def spans_to_gdata(spans: str) -> str:
    """Inverse of gdata_to_spans (exact: span.text keeps the raw line)."""
    return f"array_join(transform({spans}, s -> s.text), '$', '')"


def entity_ref(gdata: str) -> str:
    """Alias target name, NULL if the record is not an alias
    (get_entity_name, kagedata.py:9-17)."""
    rest = f"substring({gdata}, {len(ALIAS_PREFIX) + 1}, {1 << 30})"
    return (
        f"CASE WHEN NOT contains({gdata}, '$') AND startswith({gdata}, "
        f"{sql_lit(ALIAS_PREFIX)}) AND NOT contains({rest}, ':') THEN {rest} "
        "ELSE CAST(NULL AS STRING) END"
    )


def has_transform(spans: str) -> str:
    """True iff any meta line 0:97/98/99:... is present (kagedata.py:51-57).

    The per-line predicate is coalesced to FALSE: an unparsable stroke
    type makes ``kage_int(...) == 0`` NULL, and under SQL three-valued
    logic a NULL element turns the whole ``exists`` NULL — which a
    ``NOT has_transform`` gate then silently drops.  The reference's
    ``None == 0`` is plain False (kagedata.py:51-57)."""
    cols = "split(s.text, ':', -1)"
    return (
        f"exists({spans}, s -> coalesce(size({cols}) >= 2 "
        f"AND {kage_int(f'get({cols}, 0)')} = 0 "
        f"AND {kage_int(f'get({cols}, 1)')} IN (97, 98, 99), false))"
    )
