"""Rule framework: each validation rule compiles to a DataFrame plan.

A rule is a function ``(RuleContext) -> DataFrame[VIOLATIONS_SCHEMA]``
registered under its rule_id.  This replaces the reference's dynamically
imported ``Validator`` classes (validator.py:16-23,
validators/__init__.py:16-35) with a declarative registry: the engine
unions the violation plans and lets Catalyst share the underlying scan.

Violations schema (FIXTURES.md §6):

    rule_id STRING, errcode STRING, doc_id STRING,
    detail ARRAY<STRING>, sortkey STRING

``detail`` holds the reference's error params, each element tagged with a
one-char type prefix so the report writer can rebuild the reference's
exact JSON params:  'S<str>', 'I<int>', 'L<offset>:<line text>'
(a KageLine serializes as (line_number, strdata),
validators/__init__.py:57-60).  ``sortkey`` fixes within-errcode order
(the reference emits in sorted-doc iteration order, validator.py:42).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from gwv_spark.parse import sql_lit

VIOLATION_COLS = ["rule_id", "errcode", "doc_id", "detail", "sortkey"]

VIOLATIONS_DDL = (
    "rule_id STRING, errcode STRING, doc_id STRING, "
    "detail ARRAY<STRING>, sortkey STRING"
)


@dataclass
class RuleContext:
    spark: SparkSession
    docs: DataFrame  # prepared documents (derive.prepare)
    spans: DataFrame  # exploded spans (derive.exploded_spans)
    attrs: DataFrame | None = None  # doc_attrs(doc_id, related, ts)
    dims: dict[str, DataFrame] = field(default_factory=dict)
    # --ignore-error (gwv.py:28-32): quarantine per-record UDF crashes
    # as __error__ violation rows instead of failing the job
    ignore_error: bool = False
    # Prepared-plan cache: rule_id -> built violations DataFrame.  A
    # DataFrame is an immutable logical plan, so one build per context is
    # sound.  A build is a few hundred py4j round trips (tools/
    # plan_calls.py) and 0.05-1 s of the JVM parsing and analysing each
    # step; the cache saves that on repeated runs over one context.
    plan_cache: dict[str, DataFrame] = field(default_factory=dict)

    def plan(self, rule_id: str) -> DataFrame:
        df = self.plan_cache.get(rule_id)
        if df is None:
            df = RULES[rule_id](self)
            self.plan_cache[rule_id] = df
        return df


RuleFn = Callable[[RuleContext], DataFrame]

RULES: dict[str, RuleFn] = {}

# Reference registry order (validators/__init__.py:16-35) — report order.
ALL_RULE_IDS = [
    "corner", "related", "illegal", "skew", "donotuse", "kosekitoki",
    "mj", "ucsalias", "dup", "naming", "ids", "order", "delquote",
    "delvar", "numexp", "mustrenew", "j", "width",
]


def rule(rule_id: str):
    def deco(fn: RuleFn) -> RuleFn:
        RULES[rule_id] = fn
        return fn

    return deco


def tag_s(c: str) -> str:
    return f"concat('S', {c})"


def tag_f(c: str) -> str:
    return f"concat('F', CAST(CAST({c} AS DOUBLE) AS STRING))"


def tag_line(offset: str, text: str) -> str:
    return f"concat('L', CAST({offset} AS STRING), ':', {text})"


def default_sortkey(doc_id: str, offset: str | None = None) -> str:
    if offset is None:
        return doc_id
    return f"concat({doc_id}, '#', lpad(CAST({offset} AS STRING), 6, '0'))"


EMPTY_DETAIL = "CAST(array() AS ARRAY<STRING>)"


def shape(
    df: DataFrame,
    rule_id: str,
    errcode: str,
    detail: str,
    sortkey: str | None = None,
) -> DataFrame:
    """Project a rule's intermediate frame onto the violations schema.
    The column arguments are Spark SQL text."""
    sk = sortkey if sortkey is not None else default_sortkey("doc_id")
    return df.selectExpr(
        f"{sql_lit(rule_id)} AS rule_id",
        f"CAST({errcode} AS STRING) AS errcode",
        "CAST(doc_id AS STRING) AS doc_id",
        f"CAST({detail} AS ARRAY<STRING>) AS detail",
        f"CAST({sk} AS STRING) AS sortkey",
    )


def decode_detail(elem: str):
    """Inverse of the tag_* encoders (Python side, report writer only)."""
    tag, rest = elem[0], elem[1:]
    if tag == "S":
        return rest
    if tag == "I":
        return int(rest)
    if tag == "F":
        return float(rest)
    if tag == "N":
        return None
    if tag == "A":  # list of strings, US-separated
        return rest.split("\x1f") if rest else []
    if tag == "L":
        off, _, text = rest.partition(":")
        return [int(off), text]
    raise ValueError(f"unknown detail tag in {elem!r}")


def load_all_rules() -> None:
    """Import every rule module so the registry is populated.  A module
    that fails to import raises: a missing rule must fail the run, never
    leave its verdicts reading "pass"."""
    import importlib

    for mod in [
        "numexp", "delquote", "delvar", "order", "kosekitoki", "donotuse",
        "ucsalias", "mustrenew", "skew", "illegal", "width", "naming",
        "related", "ids", "dup", "corner", "j", "mj",
    ]:
        importlib.import_module(f"gwv_spark.rules.{mod}")
