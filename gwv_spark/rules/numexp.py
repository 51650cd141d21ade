"""numexp — raw-text canonicality of every line (numexp.py:40-63).

Per line, first match wins (the reference `continue`s / `break`s):
  "0" BLANK_LINE                       line == ''
  "1" INVALID_CHAR                     any char outside [0-9a-z_:@-]
  "2" NOT_AN_INT                       first offending column not int()-able
  "3" NONNORMALIZED_NUMBER_EXPRESSION  first offending column has
                                       str(int(col)) != col
Column 7 is skipped when column 0 is literally '99' (numexp.py:51-52).
Param: the (line_number, raw text) pair.

Fully Catalyst-native: split + transform + filter array expressions; no
gates (the rule sees every record).  Scales as a narrow map over the
corpus — no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from gwv_spark.parse import _PY_INT_RE, sql_lit
from gwv_spark.rules import RuleContext, rule, shape, tag_line, default_sortkey

_INVALID_CHAR_RE = "[^0-9a-z_:@-]"

# A line made entirely of canonical ints (0 | -?[1-9]\d*) separated by
# ':' can violate nothing — one anchored regex rejects the overwhelming
# majority of lines before the per-column scan below runs.  Lines with a
# part name (letters), non-canonical ints, bad chars, or blanks all fail
# this and take the exact per-column path.
_CANONICAL_LINE_RE = r"^(0|-?[1-9][0-9]*)(:(0|-?[1-9][0-9]*))*$"


def classify(spans_df: DataFrame) -> DataFrame:
    """Flat per-line classification: (doc_id, offset, line_text, errcode)
    for offending lines only."""
    cols = "split(text, ':', -1)"
    # Per-column violation class: 0 ok / 1 non-canonical / 2 not-an-int,
    # with the type-99 column-7 skip.  int() accepts whitespace padding,
    # but any whitespace was already caught by INVALID_CHAR at line level.
    col_class = (
        f"CASE WHEN (j = 7) AND (get({cols}, 0) = '99') THEN 0 "
        f"WHEN NOT (c RLIKE {sql_lit(_PY_INT_RE)}) THEN 2 "
        "WHEN CAST(CAST(regexp_replace(c, '_', '') AS BIGINT) AS STRING) != c THEN 1 "
        "ELSE 0 END"
    )
    first_bad = (
        f"get(filter(transform({cols}, (c, j) -> named_struct('c', {col_class})), "
        "s -> s.c > 0), 0).c"
    )
    errcode = (
        f"CASE WHEN text = '' THEN '0' WHEN text RLIKE {sql_lit(_INVALID_CHAR_RE)} THEN '1' "
        f"WHEN {first_bad} = 2 THEN '2' WHEN {first_bad} = 1 THEN '3' END"
    )
    return (
        spans_df.where(f"NOT (text RLIKE {sql_lit(_CANONICAL_LINE_RE)})")
        .selectExpr("doc_id", "`offset`", "text AS line_text", f"{errcode} AS errcode")
        .where("errcode IS NOT NULL")
    )


@rule("numexp")
def numexp(ctx: RuleContext) -> DataFrame:
    out = classify(ctx.spans)
    return shape(
        out,
        "numexp",
        "errcode",
        f"array({tag_line('`offset`', 'line_text')})",
        default_sortkey("doc_id", "`offset`"),
    )
