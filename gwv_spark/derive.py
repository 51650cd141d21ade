"""Derived columns computed once per document and shared by every rule.

The reference computes category / is_hikanji once per record in
``ValidatorContext.__post_init__`` (validatorctx.py:24-30) and alias
attributes lazily (dump.py:20-30).  Here they are plain Catalyst
expressions materialized by :func:`prepare`, so Catalyst folds the regex
literals and every rule shares one scan.

Category semantics: ``categorize`` (helper.py:88-133) — an ordered,
anchored alternation; ``user-owned`` wins if the name contains ``_``;
UCS names split into kanji/hikanji by codepoint range
(helper.py:18-59).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gwv_spark import parse

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


def _in_ranges(cp: Column, ranges: list[tuple[int, int]]) -> Column:
    cond = F.lit(False)
    for lo, hi in ranges:
        cond = cond | ((cp >= lo) & (cp <= hi))
    return cond


def is_togo_kanji_cp(cp: Column) -> Column:
    return _in_ranges(cp, TOGO_RANGES) | cp.isin(TOGO_IN_COMPAT)


def is_gokan_kanji_cp(cp: Column) -> Column:
    return _in_ranges(cp, GOKAN_RANGES) & ~cp.isin(TOGO_IN_COMPAT)


def category(name: Column) -> Column:
    """Ordered classification identical to helper.py:88-133."""
    ucs_hex = F.regexp_extract(name, RE_UCS, 1)
    cp = F.conv(ucs_hex, 16, 10).cast("long")
    ucs_cat = F.when(
        is_togo_kanji_cp(cp) | is_gokan_kanji_cp(cp), F.lit("ucs-kanji")
    ).otherwise(F.lit("ucs-hikanji"))
    return (
        F.when(name.contains("_"), F.lit("user-owned"))
        .when(name.rlike(RE_IDS), F.lit("ids"))
        .when(name.rlike(RE_UCS), ucs_cat)
        .when(name.rlike(RE_CDP), F.lit("cdp"))
        .when(name.rlike(RE_KOSEKI), F.lit("koseki"))
        .when(name.rlike(RE_TOKI), F.lit("toki"))
        .when(name.rlike(RE_EXT), F.lit("ext"))
        .when(name.rlike(RE_BSH), F.lit("bsh"))
        .otherwise(F.lit("other"))
    )


def is_hikanji(name: Column, cat: Column) -> Column:
    """helper.py:136-142: ucs-hikanji, or koseki number starting with 9."""
    koseki_first = F.substring(F.regexp_extract(name, RE_KOSEKI, 1), 1, 1)
    return F.when(cat == "ucs-hikanji", F.lit(True)).otherwise(
        (cat == "koseki") & (koseki_first == "9")
    )


def prepare(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → + gdata, n_spans, is_alias, entity_ref,
    category, is_hikanji, has_transform.

    These are exactly the per-record attributes the reference derives
    lazily (dump.py:20-30, validatorctx.py:24-30), hoisted to one pass.
    """
    df = documents.withColumn("gdata", parse.spans_to_gdata(F.col("spans")))
    df = df.withColumn("n_spans", F.size("spans"))
    df = df.withColumn("entity_ref", parse.entity_ref(F.col("gdata")))
    df = df.withColumn("is_alias", F.col("entity_ref").isNotNull())
    df = df.withColumn("category", category(F.col("doc_id")))
    df = df.withColumn("is_hikanji", is_hikanji(F.col("doc_id"), F.col("category")))
    df = df.withColumn("has_transform", parse.has_transform(F.col("spans")))
    # parsed KAGE int columns for EVERY span, materialized once per doc
    # (kagedata.py:65-80 parses each line once into KageLine.data; this
    # is that stored parse).  Whole-record rules (illegal codes 7/8) fold
    # over this instead of re-running the ~10-column kageInt parse per
    # query; exploded_spans reuses it per-span.  On a real deployment
    # this is a stored column of the Iceberg spans table written at
    # ingest.
    df = df.withColumn(
        "spans_d", F.transform(F.col("spans"), lambda s: parse.int_data(s["text"]))
    )
    return df


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
    aliases = prepared.where(F.col("entity_ref").isNotNull())
    others = prepared.where(F.col("entity_ref").isNull())
    targets = prepared.select(F.col("doc_id").alias("__tgt"))
    resolved = (
        aliases.join(targets, F.col("entity_ref") == F.col("__tgt"), "left")
        .withColumn("entity_exists", F.col("__tgt").isNotNull())
        .withColumn(
            "entity",
            F.when(F.col("entity_exists"), F.col("entity_ref")).otherwise(
                F.col("doc_id")
            ),
        )
        .drop("__tgt")
    )
    passthrough = others.withColumn("entity_exists", F.lit(False)).withColumn(
        "entity", F.col("doc_id")
    )
    return resolved.unionByName(passthrough).withColumn(
        "raw_entity", F.coalesce(F.col("entity_ref"), F.col("doc_id"))
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
    df = prepared.select(
        "doc_id",
        "category",
        "is_hikanji",
        "is_alias",
        "entity_ref",
        "has_transform",
        "n_spans",
        F.posexplode(F.arrays_zip("spans", "spans_d")).alias("pos", "z"),
    )
    return df.select(
        "*",
        F.col("z.spans.kind").alias("kind"),
        F.col("z.spans.text").alias("text"),
        F.col("z.spans.media_ref").alias("media_ref"),
        F.col("z.spans.offset").alias("offset"),
        F.col("z.spans_d").alias("d"),
    ).drop("z", "pos").withColumn(
        "part_full", parse.part_name_full(F.col("text"))
    )
