"""Derived columns computed once per document and shared by every rule.

The reference computes category / is_hikanji once per record in
``ValidatorContext.__post_init__`` (validatorctx.py:24-30) and alias
attributes lazily (dump.py:20-30).  Here they are plain Catalyst
expressions materialized by :func:`prepare`, so Catalyst folds the regex
literals and every rule shares one scan.  The expression builders take
and return Spark SQL text (see :mod:`gwv_spark.parse`).

Category semantics: ``categorize`` (helper.py:88-133) — an ordered,
anchored alternation; ``user-owned`` wins if the name contains ``_``;
UCS names split into kanji/hikanji by codepoint range
(helper.py:18-59).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gwv_spark import parse
from gwv_spark.parse import sql_in, sql_lit

# Unicode ideograph ranges (helper.py:18-30), inclusive.
TOGO_RANGES = [
    (0x3400, 0x4DBF),
    (0x4E00, 0x9FFF),
    (0x20000, 0x2A6DF),
    (0x2A700, 0x2B73F),
    (0x2B740, 0x2B81D),
    (0x2B820, 0x2CEAD),
    (0x2CEB0, 0x2EBE0),
    (0x2EBF0, 0x2EE5D),
    (0x30000, 0x3134A),
    (0x31350, 0x323AF),
    (0x323B0, 0x33479),
]
TOGO_IN_COMPAT = [
    0xFA0E, 0xFA0F, 0xFA11, 0xFA13, 0xFA14, 0xFA1F,
    0xFA21, 0xFA23, 0xFA24, 0xFA27, 0xFA28, 0xFA29,
]
GOKAN_RANGES = [(0xF900, 0xFA6D), (0xFA70, 0xFAD9), (0x2F800, 0x2FA1D)]

RE_IDS = r"^(?:u2ff[0-9a-f]|u31ef)-.+$"
RE_UCS = r"^u([0-9a-f]{4,6})(?:-.+)?$"
RE_CDP = r"^(cdp[on]?)-([0-9a-f]{4})(?:-.+)?$"
RE_KOSEKI = r"^koseki-([0-9]{6})$"
RE_TOKI = r"^toki-([0-9]{8})$"
RE_EXT = r"^irg(2015|2017|2021)-([0-9]{5})$"
RE_BSH = r"^unstable-bsh-([0-9a-f]{4})$"


def _in_ranges(cp: str, ranges: list[tuple[int, int]]) -> str:
    return "(" + " OR ".join(["false"] + [f"{cp} >= {lo} AND {cp} <= {hi}" for lo, hi in ranges]) + ")"


def is_togo_kanji_cp(cp: str) -> str:
    return f"({_in_ranges(cp, TOGO_RANGES)} OR {sql_in(cp, TOGO_IN_COMPAT)})"


def is_gokan_kanji_cp(cp: str) -> str:
    return f"({_in_ranges(cp, GOKAN_RANGES)} AND NOT {sql_in(cp, TOGO_IN_COMPAT)})"


def category(name: str) -> str:
    """Ordered classification identical to helper.py:88-133."""
    cp = f"CAST(conv(regexp_extract({name}, {sql_lit(RE_UCS)}, 1), 16, 10) AS BIGINT)"
    ucs_cat = (
        f"CASE WHEN {is_togo_kanji_cp(cp)} OR {is_gokan_kanji_cp(cp)} "
        "THEN 'ucs-kanji' ELSE 'ucs-hikanji' END"
    )
    arms = [
        ("'ids'", RE_IDS), (ucs_cat, RE_UCS), ("'cdp'", RE_CDP),
        ("'koseki'", RE_KOSEKI), ("'toki'", RE_TOKI), ("'ext'", RE_EXT), ("'bsh'", RE_BSH),
    ]
    whens = " ".join(f"WHEN {name} RLIKE {sql_lit(pat)} THEN {val}" for val, pat in arms)
    return f"CASE WHEN contains({name}, '_') THEN 'user-owned' {whens} ELSE 'other' END"


def is_hikanji(name: str, cat: str) -> str:
    """helper.py:136-142: ucs-hikanji, or koseki number starting with 9."""
    koseki_first = f"substring(regexp_extract({name}, {sql_lit(RE_KOSEKI)}, 1), 1, 1)"
    return (
        f"CASE WHEN {cat} = 'ucs-hikanji' THEN true "
        f"ELSE {cat} = 'koseki' AND {koseki_first} = '9' END"
    )


def prepare(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → + gdata, n_spans, entity_ref, is_alias,
    category, is_hikanji, has_transform, spans_d.

    These are exactly the per-record attributes the reference derives
    lazily (dump.py:20-30, validatorctx.py:24-30), hoisted to one pass.
    One projection per dependency level: a column that later columns
    read more than once (gdata, entity_ref, category) is computed once
    in the projection below them.

    ``spans_d`` holds the parsed KAGE int columns of EVERY span,
    materialized once per doc (kagedata.py:65-80 parses each line once
    into KageLine.data; this is that stored parse).  Whole-record rules
    (illegal codes 7/8) fold over it instead of re-running the
    ~10-column kageInt parse per query; exploded_spans reuses it
    per-span.  On a real deployment this is a stored column of the
    Iceberg spans table written at ingest.
    """
    df = documents.selectExpr(
        "*", f"{parse.spans_to_gdata('spans')} AS gdata", "size(spans) AS n_spans"
    )
    df = df.selectExpr("*", f"{parse.entity_ref('gdata')} AS entity_ref")
    df = df.selectExpr(
        "*", "entity_ref IS NOT NULL AS is_alias", f"{category('doc_id')} AS category"
    )
    return df.selectExpr(
        "*",
        f"{is_hikanji('doc_id', 'category')} AS is_hikanji",
        f"{parse.has_transform('spans')} AS has_transform",
        f"transform(spans, s -> {parse.int_data('s.text')}) AS spans_d",
    )


def with_entity(prepared: DataFrame) -> DataFrame:
    """Resolve the alias FK once for the whole corpus (one self join).

    Adds:
    - ``raw_entity`` — dump.get_entity_name semantics (dump.py:59-61):
      the alias target string even if dangling, else the name itself;
    - ``entity_exists`` — the target is present in the corpus;
    - ``entity`` — ValidatorContext.entity semantics (validatorctx.py:
      32-37): the target if present, else the doc itself.

    The reference re-derives this lazily per record; here it is ONE
    shuffle join paid at context build (at a real deployment: at ingest,
    stored in the Iceberg table), after which every rule reads plain
    columns instead of re-joining the corpus.

    Skew note: ~90% of docs are not aliases (entity_ref IS NULL).  A
    naive left join would shuffle every null-key row into one hot
    partition; instead only the alias rows join, and the non-alias rows
    bypass the shuffle entirely (union of the two cases)."""
    aliases = prepared.where("entity_ref IS NOT NULL")
    others = prepared.where("entity_ref IS NULL")
    targets = prepared.selectExpr("doc_id AS __tgt")
    resolved = (
        aliases.join(targets, F.expr("entity_ref = __tgt"), "left")
        .selectExpr(
            "*",
            "__tgt IS NOT NULL AS entity_exists",
            "CASE WHEN __tgt IS NOT NULL THEN entity_ref ELSE doc_id END AS entity",
        )
        .drop("__tgt")
    )
    passthrough = others.selectExpr("*", "false AS entity_exists", "doc_id AS entity")
    return resolved.unionByName(passthrough).selectExpr(
        "*", "coalesce(entity_ref, doc_id) AS raw_entity"
    )


def exploded_spans(prepared: DataFrame) -> DataFrame:
    """One row per span, keeping the shared per-doc attributes.

    The parsed integer columns (``d``, KAGE semantics) and the raw part
    reference (``part_full``) are computed HERE, once — the reference
    parses each line once into ``KageLine.data`` (kagedata.py:65-80) and
    every validator reads that; rules re-deriving the parse per
    expression would re-run the per-column regex for every rule (~10×
    the work).  At ingest on a real deployment these land as stored
    columns of the Iceberg spans table."""
    keep = ["doc_id", "category", "is_hikanji", "is_alias", "entity_ref", "has_transform", "n_spans"]
    return prepared.selectExpr(
        *keep, "posexplode(arrays_zip(spans, spans_d)) AS (pos, z)"
    ).selectExpr(
        *keep,
        "z.spans.kind AS kind",
        "z.spans.text AS text",
        "z.spans.media_ref AS media_ref",
        "z.spans.`offset` AS `offset`",
        "z.spans_d AS d",
        f"{parse.part_name_full('z.spans.text')} AS part_full",
    )
