"""Training-data text pipeline operators over a documents(text) table.

All hot paths are Catalyst-native (split/explode/groupBy/join on JVM
columns); hashing uses md5 (identical in Spark and DuckDB, which is what
makes these operators oracle-checkable).  simhash uses a vectorized
pandas UDF (bit-twiddling is numpy's home turf, Arrow-batched).

Scale notes: every near-dup detector here avoids the O(n²) cross join —
exact dedup is a hash groupBy; MinHash-LSH joins on band buckets;
n-gram Jaccard joins on shared shingles (inverted-index join) with the
pair aggregation shuffled on (doc_a, doc_b).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"

# Small fixed marker lists per language (shared with the DuckDB oracle).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "is", "of", "and"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "una", "para"],
    "de": ["der", "die", "und", "das", "ein"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}
STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def tokens(text: Column) -> Column:
    return F.split(F.trim(text), TOKEN_SPLIT_RE)


def hash60(c: Column) -> Column:
    """First 15 hex chars of md5 as a non-negative bigint (60 bits) —
    reproducible verbatim in DuckDB: ('0x'||substr(md5(x),1,15))::ubigint."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


# ---------------------------------------------------------------- profiling

def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc token count, char count, punctuation ratio, stopword
    ratio, mean token length — the quality-scoring feature row."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    n_chars = F.length(F.col(text_col))
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))
    n_alpha = F.length(F.regexp_replace(F.col(text_col), r"[^a-zA-Z]", ""))
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_tok.cast("bigint").alias("n_tokens"),
        n_chars.cast("bigint").alias("n_chars"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(n_stop / F.greatest(n_tok, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 6).alias("alpha_ratio"),
        F.round(
            (n_chars - (n_tok - 1)) / F.greatest(n_tok, F.lit(1)), 6
        ).alias("mean_token_len"),
    )


def token_quality_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """token_stats plus the derived heuristic quality score in [0,1]
    (length band + punctuation sanity + stopword presence — a
    C4/Gopher-style filter) as one per-doc feature row: the stats and
    the score come from ONE pass, which is also how the driver oracle
    checks them (one registry entry, every column hashed)."""
    ts = token_stats(df, text_col, id_col)
    len_ok = (F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 100000)
    punct_ok = F.col("punct_ratio") <= 0.2
    score = (
        F.when(len_ok, 0.4).otherwise(0.0)
        + F.when(punct_ok, 0.3).otherwise(0.0)
        + F.round(F.least(F.col("stopword_ratio") * 3, F.lit(0.3)), 6)
    )
    return ts.withColumn("quality", F.round(score, 6))


def langid(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-token language scorer: argmax of per-language marker hits,
    deterministic tie-break by language code; 'und' when no marker hits."""
    toks = tokens(F.col(text_col))
    scores = [
        F.size(F.filter(toks, lambda t: t.isin(ws))).alias(f"score_{lang}")
        for lang, ws in sorted(LANG_MARKERS.items())
    ]
    scored = df.select(F.col(id_col).alias("doc_id"), *scores)
    langs = sorted(LANG_MARKERS)
    # argmax with deterministic tie-break: first language (alphabetical)
    # reaching the max score wins; no marker hits at all → 'und'
    mx = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when((mx > 0) & (F.col(f"score_{lang}") == mx), F.lit(lang)).otherwise(pred)
    return scored.select("doc_id", pred.alias("pred_lang"))


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-sensitive rolling document fingerprint: fold
    acc = (acc * 31 + h28(token)) mod (2^31 - 1) over the token sequence
    (h28 = first 7 hex chars of md5).  Mirrors DuckDB's list_reduce."""
    tok_h = F.transform(
        tokens(F.col(text_col)),
        lambda t: F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("bigint"),
    )
    acc = F.aggregate(
        tok_h,
        F.lit(0).cast("bigint"),
        lambda a, h: (a * 31 + h) % F.lit(2147483647).cast("bigint"),
    )
    return df.select(F.col(id_col).alias("doc_id"), acc.alias("fingerprint"))


# ---------------------------------------------------------------- dedup

def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash — hash groupBy, one shuffle
    keyed on the digest (uniformly distributed, no skew)."""
    h = df.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
    return (
        h.groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


def shingles(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Distinct word n-gram shingles per doc (the near-dup unit).

    ``max_df`` drops shingles occurring in more than that many documents
    (stop-shingles).  Without the cut, one shingle present in k docs
    contributes k² rows to any inverted-index self-join — at corpus
    scale a boilerplate phrase turns the join quadratic.  The semi-join
    keys on the shingle, the same key the downstream join shuffles on."""
    toks = tokens(F.col(text_col))
    n_sh = F.size(toks) - n + 1
    # guard: sequence(1, x) with x<1 would produce a DESCENDING range
    sh = F.when(
        n_sh > 0,
        F.transform(
            F.sequence(F.lit(1), n_sh), lambda i: F.array_join(F.slice(toks, i, n), " ")
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = df.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array_distinct(sh)).alias("shingle")
    )
    if max_df is not None:
        keep = (
            out.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_df)
            .select("shingle")
        )
        out = out.join(keep, "shingle", "left_semi")
    return out


def _jaccard_of_pairs(sh: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for a GIVEN candidate pair set only: the pair list
    drives the joins, so cost is Σ_cand |shingles(doc_a)| — proportional
    to candidate count × doc size, never posting-list²."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join:
    explode distinct shingles → join on shingle (doc_a < doc_b) →
    |∩| per pair → Jaccard with per-doc set sizes.  No cross join; the
    shuffle is keyed on shingle then on the pair.  Pass ``max_df`` at
    scale — without it one stop-shingle in k docs makes k² join rows."""
    sh = shingles(df, n, text_col, id_col, max_df=max_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    k: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """k-permutation MinHash over word n-gram shingles.  Hash family:
    h_i(s) = hash60(i || ':' || s) — md5-derived so the DuckDB oracle can
    reproduce it bit-for-bit."""
    sh = shingles(df, n, text_col, id_col, max_df=max_df)
    mins = [
        F.min(hash60(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 16,
    band_size: int = 4,
    threshold: float = 0.7,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup candidates, verified by exact
    Jaccard computed ONLY for the candidate pairs.  Candidate generation
    is a groupBy on (band_id, band_hash) — the LSH bucket join — so cost
    scales with collisions, not n²; verification cost scales with the
    candidate count (round 1 verified against the full co-shingle pair
    set, throwing the LSH pruning away)."""
    sig = minhash_signatures(df, k, n, text_col, id_col, max_df=max_df)
    n_bands = k // band_size
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                ",", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_id", "band_hash")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_id", "band_hash")
    cand = (
        a.join(b, ["band_id", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    sh = shingles(df, n, text_col, id_col, max_df=max_df)
    return _jaccard_of_pairs(sh, cand, threshold)


# ---------------------------------------------------------------- simhash

def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over token occurrences — fully Catalyst-native.

    explode tokens → md5 per token (JVM) → 64 per-bit ±1 vote SUMs in
    ONE groupBy(doc_id) (map-side partial aggregation; whole-stage
    codegen end to end) → assemble the signed 64-bit hash from the vote
    signs.  Replaces round 1's per-row-per-token Python loop inside a
    pandas UDF (7.7 s of the sf0.1 text budget).  The 64-bit token hash
    is the first 8 md5 bytes big-endian, carried as two 32-bit halves so
    no expression overflows a signed bigint."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).where(F.col("tok") != "")
    md5h = F.md5(F.col("tok"))
    hashed = toks.select(
        "doc_id",
        F.conv(F.substring(md5h, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(md5h, 9, 8), 16, 10).cast("long").alias("lo"),
    )
    votes = [
        F.sum(
            F.when(
                F.shiftrightunsigned(
                    F.col("hi") if i >= 32 else F.col("lo"), i - 32 if i >= 32 else i
                ).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    acc = hashed.groupBy("doc_id").agg(*votes)
    val = F.lit(0).cast("long")
    for i in range(63):
        val = val + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    # bit 63 is the sign bit of the two's-complement result
    val = val + F.when(
        F.col("b63") > 0, F.lit(-(1 << 63)).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    sig = acc.select("doc_id", val.alias("simhash"))
    # docs with no tokens produce no vote rows; they hash to 0
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(sig, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("simhash"), F.lit(0).cast("long")).alias("simhash"))
    )


def nonblank_simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """:func:`simhash64` of the documents that have a token.  Token-less
    documents (null/empty/whitespace text) all hash to the same empty
    signature, which carries no content evidence, so near-dup pairing
    leaves them out (see :func:`simhash_near_pairs`)."""
    nonblank = df.where(F.trim(F.coalesce(F.col(text_col), F.lit(""))) != "")
    return simhash64(nonblank, text_col, id_col)


def simhash_blocks(sig: DataFrame, max_hamming: int) -> DataFrame:
    """One row per (signature row, block): the 64-bit ``simhash`` split
    into ``max_hamming + 1`` blocks of ``64 // (max_hamming + 1)`` bits,
    as (block_id, block_val) beside every column of ``sig``.  Any two
    signatures within Hamming distance k share one exact block, so an
    equi-join on (block_id, block_val) finds every candidate pair."""
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    block = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("block_id"),
                    F.shiftrightunsigned(F.col("simhash"), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("block_val"),
                )
                for i in range(n_blocks)
            ]
        )
    )
    return sig.select("*", block.alias("b")).select(*sig.columns, "b.block_id", "b.block_val")


def simhash_block_pairs(
    a_blocks: DataFrame, b_blocks: DataFrame, max_hamming: int, keep: Column
) -> DataFrame:
    """Near-dup pairs (doc_a < doc_b, hamming), each once, from the
    equi-join of two :func:`simhash_blocks` frames on (block_id,
    block_val): the candidates that satisfy ``keep`` — over the left
    doc id ``a``, the right doc id ``b`` and the other columns of
    ``b_blocks`` — verified within ``max_hamming`` by one XOR popcount."""
    a = a_blocks.select(
        F.col("doc_id").alias("a"), F.col("simhash").alias("sh_a"), "block_id", "block_val"
    )
    b = b_blocks.withColumnRenamed("doc_id", "b").withColumnRenamed("simhash", "sh_b")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["block_id", "block_val"])
        .where(keep & (ham <= max_hamming))
        .select(F.least("a", "b").alias("doc_a"), F.greatest("a", "b").alias("doc_b"),
                ham.alias("hamming"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k, using the
    block-permutation trick: split the 64-bit hash into (k+1) blocks —
    any pair within distance k shares at least one exact block, so the
    candidate join is an equi-join on (block_id, block_value).

    Token-less documents are excluded (:func:`nonblank_simhash64`):
    including them would declare every pair of blank docs a near-dup
    and blow the block join up to ~N²/2 candidate rows over the blank
    population.  Exact-dedup of blanks belongs to exact_dup_groups,
    where identical text IS the claim.

    ``max_bucket`` is the boilerplate safety valve (the jaccard
    ``max_df`` stop-shingle cap's analogue, textops.py jaccard_pairs):
    a (block_id, block_val) bucket holding more than this many docs is
    dropped from candidate generation — such a bucket means a large
    population shares a signature block (template/boilerplate text),
    and joining it costs |bucket|²/2 rows while a pair in it is still
    reachable through its other k blocks unless those are equally
    degenerate.  None (default) preserves exact block-permutation
    semantics — the shipped oracle checks that form."""
    blocks = simhash_blocks(nonblank_simhash64(df, text_col, id_col), max_hamming)
    if max_bucket is not None:
        sizes = blocks.groupBy("block_id", "block_val").agg(
            F.count(F.lit(1)).alias("_bn")
        )
        blocks = (
            blocks.join(F.broadcast(sizes.where(F.col("_bn") > max_bucket)),
                        ["block_id", "block_val"], "left_anti")
        )
    return simhash_block_pairs(blocks, blocks, max_hamming, F.col("a") < F.col("b"))


# ------------------------------------------- recall-vs-radius curve

ND_CURVE_LEVELS = (0, 1, 2, 4, 8)
ND_CURVE_RADII = (1, 3, 7)  # 64 must split into (k+1) equal blocks
ND_CURVE_TOKENS = 30


def _nd_curve_docs(n_per_level: int) -> list[tuple]:
    """Deterministic planted token-distance gradient: base doc i holds
    ND_CURVE_TOKENS id-specific tokens; its variant replaces the first
    `level` of them (level cycling through ND_CURVE_LEVELS).  Rows:
    (doc_id, text, level, base) — level/base NULL on base docs."""
    rows = []
    levels = list(ND_CURVE_LEVELS)
    for i in range(n_per_level * len(levels)):
        level = levels[i % len(levels)]
        toks = [f"w{i:04d}x{j:02d}" for j in range(ND_CURVE_TOKENS)]
        base_id = f"nd{i:05d}"
        rows.append((base_id, " ".join(toks), None, None))
        var = [f"q{i:04d}x{j:02d}" for j in range(level)] + toks[level:]
        rows.append((f"pd{i:05d}", " ".join(var), level, base_id))
    return rows


def _simhash64_py(text: str | None) -> int:
    """Python mirror of :func:`simhash64` for the driver-side expected
    table of :func:`ensure_neardup_curve`: whitespace tokens, md5 first
    8 bytes big-endian as two 32-bit halves (bits 32-63 from the first
    half), ±1 votes per bit, ties and token-less docs hash to 0.  Exact
    equality with the Catalyst expression is asserted in
    tests/test_streaming.py, so the two cannot drift silently."""
    import hashlib
    import re

    if not text:
        return 0
    toks = [t for t in re.split(r"\s+", text.strip()) if t != ""]
    votes = [0] * 64
    for t in toks:
        h = hashlib.md5(t.encode("utf-8")).hexdigest()
        hi, lo = int(h[:8], 16), int(h[8:16], 16)
        for i in range(32):
            votes[i] += 1 if (lo >> i) & 1 else -1
            votes[32 + i] += 1 if (hi >> i) & 1 else -1
    val = 0
    for i in range(63):
        if votes[i] > 0:
            val += 1 << i
    if votes[63] > 0:
        val -= 1 << 63
    return val


def ensure_neardup_curve(out_dir, n_per_level: int = 20, overwrite: bool = False):
    """Write nd_curve_docs.parquet (the planted gradient corpus) and
    nd_curve_expected.parquet — the recall-vs-radius operating curve
    computed DRIVER-SIDE from the Python SimHash mirror
    (:func:`_simhash64_py`, asserted bit-identical to the Catalyst
    expression): for each (max_hamming, n_edits) cell, the
    fraction of planted pairs within that Hamming radius.  Block
    permutation is lossless AT the radius (every pair with hamming ≤ k
    shares one of the k+1 exact blocks), so this expected table is the
    exact detection set, making the 200k-soak lesson ("the radius is
    the knob users must choose") a measured, shipped table instead of
    operational folklore."""
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = Path(out_dir)
    docs_path = out / "nd_curve_docs.parquet"
    exp_path = out / "nd_curve_expected.parquet"
    if not overwrite and docs_path.exists() and exp_path.exists():
        return out
    rows = _nd_curve_docs(n_per_level)
    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.string()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "level": pa.array([r[2] for r in rows], pa.int32()),
                "base": pa.array([r[3] for r in rows], pa.string()),
            }
        ),
        docs_path,
    )
    sig = {r[0]: _simhash64_py(r[1]) for r in rows}
    exp = []
    for k in ND_CURVE_RADII:
        for lvl in ND_CURVE_LEVELS:
            pairs = [
                (r[3], r[0]) for r in rows if r[2] == lvl
            ]
            det = sum(
                1 for b, v in pairs
                if bin((sig[b] ^ sig[v]) & ((1 << 64) - 1)).count("1") <= k
            )
            exp.append(
                (k, lvl, len(pairs), det, round(det / len(pairs), 6))
            )
    pq.write_table(
        pa.table(
            {
                "max_hamming": pa.array([e[0] for e in exp], pa.int32()),
                "n_edits": pa.array([e[1] for e in exp], pa.int32()),
                "n_planted": pa.array([e[2] for e in exp], pa.int64()),
                "n_detected": pa.array([e[3] for e in exp], pa.int64()),
                "recall": pa.array([e[4] for e in exp], pa.float64()),
            }
        ),
        exp_path,
    )
    return out


def simhash_recall_curve(docs: DataFrame) -> DataFrame:
    """The measured operating curve over a planted-gradient corpus
    (ensure_neardup_curve's docs table): recall of simhash_near_pairs
    per (max_hamming, n_edits).  One near-pairs run per radius — each a
    bucketed candidate join over the full doc set, so the curve costs
    |ND_CURVE_RADII| detection passes, not an all-pairs scan."""
    planted = docs.where(F.col("level").isNotNull()).select(
        F.col("base").alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("level").alias("n_edits"),
    )
    out = None
    for k in ND_CURVE_RADII:
        pairs = simhash_near_pairs(
            docs.select("doc_id", "text"), max_hamming=k
        ).select("doc_a", "doc_b", F.lit(True).alias("hit"))
        cell = (
            planted.join(pairs, ["doc_a", "doc_b"], "left")
            .groupBy("n_edits")
            .agg(
                F.count(F.lit(1)).alias("n_planted"),
                F.count("hit").alias("n_detected"),
            )
            .select(
                F.lit(k).cast("int").alias("max_hamming"),
                F.col("n_edits").cast("int"),
                "n_planted",
                "n_detected",
                F.round(F.col("n_detected") / F.col("n_planted"), 6).alias("recall"),
            )
        )
        out = cell if out is None else out.unionByName(cell)
    return out
