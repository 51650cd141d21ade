"""Output checks, run outside every timed region.

- The DuckDB mirror: the registry's ``gwv_<rule>_violations`` oracle SQL
  (``gwv_spark/gwv_sql.py``), pointed at the generated corpus, for the 17
  rules that have one here.  Each rule's rows in a Spark violations
  output are projected onto the oracle's columns (the same projections
  the registry's Spark side applies) and compared as multisets.
- ``corner`` has no oracle without the vendored reference, so its rows
  are compared (both ways, as multisets) with the rows another engine
  path wrote for the same files.
"""

from __future__ import annotations

from contextlib import contextmanager
from pathlib import Path

import duckdb

from gwv_spark.rules import ALL_RULE_IDS

MIRRORED = [r for r in ALL_RULE_IDS if r != "corner"]

# Spark's array_join gives '' for an empty detail array
_PARAMS = "coalesce(array_to_string(list_transform(detail, x -> substr(x, 2)), '|'), '')"
_UNTAG0 = "substr(detail[1], 2)"
# detail[1] of a line-level violation is 'L<offset>:<line text>'
_LINE = (
    "CAST(substr(detail[1], 2, strpos(detail[1], ':') - 2) AS INTEGER) AS \"offset\", "
    "substr(detail[1], strpos(detail[1], ':') + 1) AS line_text"
)

# rule -> projection of its violation rows onto the oracle's columns
# (mirrors the registry's gwv_<rule>_violations Spark functions)
PROJECTIONS = {
    "numexp": f"doc_id, {_LINE}, errcode",
    "skew": f"doc_id, {_LINE}, errcode",
    "delquote": f"doc_id, {_UNTAG0} AS part_full",
    "delvar": f"doc_id, {_UNTAG0} AS base",
    "order": f"doc_id, errcode, {_UNTAG0} AS part_name",
    "kosekitoki": f"doc_id, errcode, nullif({_PARAMS}, '') AS params",
    "ucsalias": f"doc_id, errcode, CASE WHEN len(detail) > 0 THEN {_UNTAG0} END AS entity_param",
    "donotuse": f"doc_id, {_PARAMS} AS parts",
    "mustrenew": f"doc_id AS part_name, errcode, {_PARAMS} AS quoters",
    "related": f"doc_id, errcode, {_PARAMS} AS params",
    "naming": f"doc_id, errcode, {_PARAMS} AS params",
    "j": f"doc_id, errcode, {_PARAMS} AS params",
    "dup": f"doc_id, errcode, {_PARAMS} AS params",
    "ids": "doc_id, errcode, sortkey AS detail_key",
    "illegal": "doc_id, errcode, sortkey AS detail_key",
    "mj": "doc_id, errcode",
    "width": "doc_id, errcode",
}


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '1GB'")
    return con


@contextmanager
def _registry_at(docs_sql: str, attrs: Path | None):
    """Point the registry's oracle SQL at the ``docs_sql`` relation (and
    the doc_attrs file ``attrs``) instead of its built-in synthetic
    corpus."""
    from gwv_spark import queries as Q

    saved = Q.synth_docs_sql, Q.synth_dir_for
    Q.synth_docs_sql = lambda sf: docs_sql
    Q.synth_dir_for = lambda sf, root=None: attrs.parent if attrs else Path("/nonexistent")
    try:
        yield Q.REGISTRY
    finally:
        Q.synth_docs_sql, Q.synth_dir_for = saved


def load_mirror(con, docs_sql: str, attrs: Path | None, rules=MIRRORED, prefix: str = "o_") -> None:
    """Materialize each rule's oracle rows over ``docs_sql`` as table
    ``<prefix><rule>``.  ``attrs`` (a doc_attrs.parquet) is needed only
    by the related and mj oracles."""
    with _registry_at(docs_sql, attrs) as reg:
        for rid in rules:
            sql = reg[f"gwv_{rid}_violations"].oracle_fn("bench")
            con.execute(f"CREATE OR REPLACE TABLE {prefix}{rid} AS {sql}")


def violations_view(con, name: str, glob: str) -> None:
    """View over a hive-partitioned violations output (rule_id from the
    directory names)."""
    con.execute(
        f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
        f"read_parquet('{glob}', hive_partitioning = true, union_by_name = true)"
    )


def _diff(con, left: str, right: str, cols: list[str]) -> int:
    sel = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    n = 0
    for a, b in ((left, right), (right, left)):
        n += con.execute(
            f"SELECT count(*) FROM (SELECT {sel} FROM {a} EXCEPT ALL SELECT {sel} FROM {b})"
        ).fetchone()[0]
    return n


def mirror_mismatches(con, view: str, rules=MIRRORED, prefix: str = "o_") -> dict[str, int]:
    """Rows that differ (both directions) between each rule's projected
    rows in ``view`` and its oracle table; only non-zero entries."""
    out = {}
    for rid in rules:
        proj = f"(SELECT {PROJECTIONS[rid]} FROM {view} WHERE rule_id = '{rid}')"
        cols = sorted(c[0] for c in con.execute(f"DESCRIBE {prefix}{rid}").fetchall())
        got = sorted(c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {proj}").fetchall())
        if got != cols:
            raise RuntimeError(f"{rid}: projection columns {got} != oracle {cols}")
        n = _diff(con, proj, f"{prefix}{rid}", cols)
        if n:
            out[rid] = n
    return out


ROW_COLS = ["rule_id", "errcode", "doc_id", "detail", "sortkey"]


def rows_mismatch(con, left: str, right: str, rules: list[str]) -> int:
    """Rows of ``rules`` in one view and not the other (exceptAll both
    ways) over the full violation row."""
    inlist = ", ".join(f"'{r}'" for r in rules)
    return _diff(
        con,
        f"(SELECT * FROM {left} WHERE rule_id IN ({inlist}))",
        f"(SELECT * FROM {right} WHERE rule_id IN ({inlist}))",
        ROW_COLS,
    )


def pairs_mismatch(con, left: str, right: str) -> int:
    """Rows of two (rule_id, doc_id, detail) relations that differ."""
    return _diff(con, left, right, ["rule_id", "doc_id", "detail"])


def unknown_rules(con, view: str) -> list[str]:
    known = set(ALL_RULE_IDS)
    got = [r[0] for r in con.execute(f"SELECT DISTINCT rule_id FROM {view}").fetchall()]
    return sorted(r for r in got if r not in known)
