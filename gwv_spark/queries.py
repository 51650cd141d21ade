"""Query registry: every operator exposed through the driver contract.

Each entry pairs a Spark DataFrame plan with a DuckDB oracle SQL string
over the same tables.  Column names are aliased identically on both
sides; numeric results are engineered to be *bitwise identical*:

- money aggregates: cast to DECIMAL before summing (exact in both
  engines, same scale rules), cast the exact sum to double at the end;
- ratios: integer / integer in double (one IEEE op on identical inputs);
- no F.round on engine-divergent floats (Spark's round goes through
  Double.toString and can disagree with DuckDB at repr boundaries) —
  round only where both sides round the same exact value.

gwv rule queries run over the synthetic spans corpus (generated
deterministically into .synth/<sf>/ — corpus.ensure_corpus_for_sf_dir);
the oracle reads the same parquet via read_parquet().
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gwv_spark import mediaops, sketch, stats, textops, vectorops
from gwv_spark.corpus import ensure_corpus_for_sf_dir, n_docs_for_sf_dir, synth_dir_for


@dataclass
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle_fn: Callable[[str], str] | None  # sf_dir -> SQL (None: rows-only)


REGISTRY: dict[str, QuerySpec] = {}


def oracle_sqls(sf_dir: str) -> dict[str, str]:
    """Oracle SQL of every registered query that has one.  An oracle
    computed from the vendored reference cannot be built without it:
    that entry alone is left out, with a warning naming it."""
    import warnings

    from gwv_spark.ref_expected import ReferenceUnavailable

    out = {}
    for name, spec in REGISTRY.items():
        if spec.oracle_fn is None:
            continue
        try:
            out[name] = spec.oracle_fn(sf_dir)
        except ReferenceUnavailable as e:
            warnings.warn(f"no oracle for {name}: {e}", stacklevel=2)
    return out


def q(name: str, oracle: Callable[[str], str] | None = None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def _par_floor(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Input-parallelism floor: a small-SF table is one parquet file =
    ONE scan partition, so every per-row expression (tokenize, shingle,
    hash) runs single-task no matter how many cores exist.  Repartition
    up to the session's parallelism iff the scan is below it — at real
    scale the input already has >= that many splits and this is a no-op,
    so no shuffle is added on the 100 TB path.  Results are partition-
    agnostic (every registered query is an aggregation/join)."""
    n = spark.sparkContext.defaultParallelism
    # file count, not .rdd.getNumPartitions(): touching .rdd forces the
    # Python<->JVM RDD conversion path on every call.  A scan with >= n
    # files already has >= n splits; a scan with fewer may still split
    # large files by maxPartitionBytes, in which case this repartition is
    # a cheap no-op-shaped round-robin only taken at tiny SF.
    if len(df.inputFiles()) < n:
        return df.repartition(n)
    return df


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _par_floor(spark, spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def synth_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_corpus_for_sf_dir(sf_dir)
    return _par_floor(spark, spark.read.parquet(str(d / "documents.parquet")))


def synth_docs_sql(sf_dir: str) -> str:
    d = synth_dir_for(sf_dir)
    return f"read_parquet('{d}/documents.parquet')"


# =====================================================================
# Relational / TPC-H-style
# =====================================================================

_DEC_PRICE = "decimal(14,2)"
_DEC_FACTOR = "decimal(6,2)"


def _disc_price():
    return F.col("l_extendedprice").cast(_DEC_PRICE) * (
        F.lit(1.0) - F.col("l_discount")
    ).cast(_DEC_FACTOR)


@q(
    "tpch_q1_pricing_summary",
    lambda sf: """
    SELECT l_returnflag, l_linestatus,
           (SUM(CAST(l_quantity AS DECIMAL(12,2))))::DOUBLE AS sum_qty,
           (SUM(CAST(l_extendedprice AS DECIMAL(14,2))))::DOUBLE AS sum_base_price,
           (SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1.0 - l_discount AS DECIMAL(6,2))))::DOUBLE AS sum_disc_price,
           (SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1.0 - l_discount AS DECIMAL(6,2)) * CAST(1.0 + l_tax AS DECIMAL(6,2))))::DOUBLE AS sum_charge,
           (SUM(CAST(l_quantity AS DECIMAL(12,2))))::DOUBLE / COUNT(*) AS avg_qty,
           (SUM(CAST(l_extendedprice AS DECIMAL(14,2))))::DOUBLE / COUNT(*) AS avg_price,
           (SUM(CAST(l_discount AS DECIMAL(8,2))))::DOUBLE / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    cnt = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast(_DEC_PRICE)).cast("double").alias("sum_base_price"),
        F.sum(_disc_price()).cast("double").alias("sum_disc_price"),
        F.sum(_disc_price() * (F.lit(1.0) + F.col("l_tax")).cast(_DEC_FACTOR))
        .cast("double")
        .alias("sum_charge"),
        (F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double") / cnt).alias("avg_qty"),
        (F.sum(F.col("l_extendedprice").cast(_DEC_PRICE)).cast("double") / cnt).alias("avg_price"),
        (F.sum(F.col("l_discount").cast("decimal(8,2)")).cast("double") / cnt).alias("avg_disc"),
        cnt.alias("count_order"),
    )


@q(
    "tpch_q3_top_unshipped",
    lambda sf: """
    SELECT l_orderkey,
           (SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1.0 - l_discount AS DECIMAL(6,2))))::DOUBLE AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark, sf_dir):
    cutoff = F.lit("1998-03-15").cast("timestamp")
    c = T(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = T(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@q(
    "tpch_q5_region_revenue",
    lambda sf: """
    SELECT n_name,
           (SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1.0 - l_discount AS DECIMAL(6,2))))::DOUBLE AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def tpch_q5(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


@q(
    "events_funnel_transitions",
    lambda sf: """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type, COUNT(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def events_funnel(spark, sf_dir):
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@q(
    "events_hourly_rollup",
    lambda sf: """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           (SUM(CAST(value AS DECIMAL(12,2))))::DOUBLE AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )


# =====================================================================
# Validation-engine stats layer (north rule)
# =====================================================================

_DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@q(
    "stats_documents_columns",
    lambda sf: "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column, COUNT(*) AS n_rows,
               SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
               COUNT(DISTINCT {c}) AS n_distinct,
               MIN({c})::VARCHAR AS min_value, MAX({c})::VARCHAR AS max_value
        FROM documents"""
        for c in _DOC_COLS
    ),
)
def stats_documents_columns(spark, sf_dir):
    return stats.column_stats(T(spark, sf_dir, "documents"), _DOC_COLS, exact_distinct=True)


_NP_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


@q(
    "stats_numeric_profile_lineitem",
    lambda sf: "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column,
               ROUND(SUM({c}::DECIMAL(12,2))::DOUBLE / COUNT({c}), 6) AS mean,
               ROUND(sqrt(GREATEST(
                 SUM(({c}::DECIMAL(12,2)) * ({c}::DECIMAL(12,2)))::DOUBLE / COUNT({c})
                 - (SUM({c}::DECIMAL(12,2))::DOUBLE / COUNT({c}))
                   * (SUM({c}::DECIMAL(12,2))::DOUBLE / COUNT({c})), 0.0)), 6) AS stddev,
               ROUND(quantile_cont({c}::DOUBLE, 0.25), 6) AS p25,
               ROUND(quantile_cont({c}::DOUBLE, 0.50), 6) AS p50,
               ROUND(quantile_cont({c}::DOUBLE, 0.75), 6) AS p75
        FROM lineitem"""
        for c in _NP_COLS
    ),
)
def stats_numeric_profile_q(spark, sf_dir):
    return stats.numeric_profile(T(spark, sf_dir, "lineitem"), _NP_COLS, exact=True)


_TD_QS = [0.01, 0.25, 0.5, 0.75, 0.99]
_TD_TOL = 0.01


@q(
    "stats_tdigest_rank_error",
    lambda sf: "SELECT * FROM (VALUES "
    + ", ".join(f"({q}::DOUBLE, TRUE)" for q in _TD_QS)
    + ") AS t(q, ok) ORDER BY q",
)
def stats_tdigest_rank_error(spark, sf_dir):
    """MEASURED accuracy of the t-digest sketch (sketch.tdigest_quantiles,
    the north rule's literal 'quantiles via t-digest') against the real
    data: for each estimated quantile, compute its TRUE rank over
    lineitem.l_extendedprice and assert |rank - q| <= 0.01.  The oracle
    states the expected verdict, so a sketch accuracy regression flips a
    hash-checked driver row — same pattern as vec_near_dup_recall's
    planted-truth recall.  Expected error at delta=500 is ~1e-4 (see
    tests/test_sketch.py), 100x inside the bound."""
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("v")
    )
    est = sketch.tdigest_quantiles(li, "v", _TD_QS, delta=500.0)
    return (
        li.crossJoin(F.broadcast(est.select("q", "value")))
        .groupBy("q")
        .agg(
            F.sum(F.when(F.col("v") <= F.col("value"), 1).otherwise(0)).alias("r"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "q",
            (F.abs(F.col("r") / F.col("n") - F.col("q")) <= F.lit(_TD_TOL)).alias("ok"),
        )
        .orderBy("q")
    )


@q(
    "stats_uniqueness_orders",
    lambda sf: """
    WITH dups AS (
      SELECT o_orderkey, COUNT(*) AS n_rows FROM orders GROUP BY 1 HAVING COUNT(*) > 1
    )
    SELECT COALESCE(COUNT(*), 0) AS n_duplicate_keys,
           COALESCE(SUM(n_rows), 0)::BIGINT AS n_rows_in_duplicates
    FROM dups
    """,
)
def stats_uniqueness_orders(spark, sf_dir):
    return stats.uniqueness_summary(T(spark, sf_dir, "orders"), ["o_orderkey"])


@q(
    "stats_ri_lineitem",
    lambda sf: """
    WITH o1 AS (
      SELECT l.l_orderkey AS k FROM lineitem l
      LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey IS NULL
    ),
    o2 AS (
      SELECT l.l_partkey AS k FROM lineitem l
      LEFT JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_partkey IS NULL
    )
    SELECT 'orders' AS parent,
           COALESCE(COUNT(*), 0) AS n_orphan_rows,
           COALESCE(COUNT(DISTINCT k), 0) AS n_orphan_keys
    FROM o1
    UNION ALL
    SELECT 'part', COALESCE(COUNT(*), 0), COALESCE(COUNT(DISTINCT k), 0)
    FROM o2
    """,
)
def stats_ri_lineitem(spark, sf_dir):
    """Referential integrity of lineitem against both parents in one
    result (one row per parent); each leg is the same left-anti probe
    with deduped parent keys (stats.ri_summary)."""
    li = T(spark, sf_dir, "lineitem")
    a = stats.ri_summary(
        li, "l_orderkey", T(spark, sf_dir, "orders"), "o_orderkey"
    ).select(F.lit("orders").alias("parent"), "n_orphan_rows", "n_orphan_keys")
    b = stats.ri_summary(
        li, "l_partkey", T(spark, sf_dir, "part"), "p_partkey"
    ).select(F.lit("part").alias("parent"), "n_orphan_rows", "n_orphan_keys")
    return a.unionByName(b)


@q(
    "stats_drift_psi_nchars_by_source",
    lambda sf: """
    WITH hist AS (
      SELECT source AS grp, FLOOR(n_chars / 50.0)::BIGINT AS bucket, COUNT(*) AS n
      FROM documents GROUP BY 1, 2
    ),
    base AS (SELECT bucket, n AS n_base FROM hist WHERE grp = 'src0'),
    base_tot AS (SELECT SUM(n_base) AS tot_base FROM base),
    cur_tot AS (SELECT grp, SUM(n) AS tot_cur FROM hist GROUP BY 1),
    grid AS (SELECT g.grp, b.bucket
             FROM (SELECT DISTINCT grp FROM hist) g, (SELECT DISTINCT bucket FROM hist) b),
    j AS (
      SELECT grid.grp, grid.bucket,
             COALESCE(h.n, 0) AS n_cur, COALESCE(base.n_base, 0) AS n_base,
             ct.tot_cur, bt.tot_base
      FROM grid
      LEFT JOIN hist h ON h.grp = grid.grp AND h.bucket = grid.bucket
      LEFT JOIN base ON base.bucket = grid.bucket
      JOIN cur_tot ct ON ct.grp = grid.grp
      CROSS JOIN base_tot bt
    )
    SELECT grp AS group_id,
           ROUND(SUM((n_cur/tot_cur + 0.0001 - n_base/CAST(tot_base AS DOUBLE) - 0.0001)
                 * LN((n_cur/tot_cur + 0.0001) / (n_base/CAST(tot_base AS DOUBLE) + 0.0001))), 6) AS psi
    FROM j GROUP BY grp
    """,
)
def stats_drift_psi(spark, sf_dir):
    return stats.psi_by_group(
        T(spark, sf_dir, "documents"),
        F.col("n_chars"),
        F.col("source"),
        "src0",
        50.0,
        eps=1e-4,
    )


@q(
    "stats_ks_nchars_src0_vs_src1",
    lambda sf: """
    WITH sel AS (
      SELECT n_chars AS v, source AS g FROM documents WHERE source IN ('src0','src1')
    ),
    per_v AS (
      SELECT v, SUM(CASE WHEN g='src0' THEN 1 ELSE 0 END) AS da,
                SUM(CASE WHEN g='src1' THEN 1 ELSE 0 END) AS db
      FROM sel GROUP BY v
    ),
    ranked AS (
      SELECT v, SUM(da) OVER (ORDER BY v) AS ca, SUM(db) OVER (ORDER BY v) AS cb
      FROM per_v
    ),
    na AS (SELECT COUNT(*) AS na FROM sel WHERE g='src0'),
    nb AS (SELECT COUNT(*) AS nb FROM sel WHERE g='src1')
    SELECT ROUND(MAX(ABS(ca/CAST(na AS DOUBLE) - cb/CAST(nb AS DOUBLE))), 6) AS ks
    FROM ranked, na, nb
    """,
)
def stats_ks(spark, sf_dir):
    return stats.ks_statistic(
        T(spark, sf_dir, "documents"), F.col("n_chars"), F.col("source"), "src0", "src1"
    )


# =====================================================================
# Text pipeline (dedup / quality / langid / fingerprints)
# =====================================================================

_TOK_SQL = "string_split_regex(trim(text), '\\s+')"
_STOP_SQL = "[" + ",".join(f"'{w}'" for w in textops.STOPWORDS) + "]"


@q(
    "text_exact_dup_groups",
    lambda sf: """
    SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc
    FROM documents GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def text_exact_dups(spark, sf_dir):
    return textops.exact_dup_groups(T(spark, sf_dir, "documents"))


@q(
    "text_token_quality_stats",
    lambda sf: f"""
    WITH ts AS (
      SELECT doc_id,
             len({_TOK_SQL})::BIGINT AS n_tokens,
             length(text)::BIGINT AS n_chars,
             ROUND((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                   / GREATEST(length(text), 1)::DOUBLE, 6) AS punct_ratio,
             ROUND(len(list_filter({_TOK_SQL}, t -> list_contains({_STOP_SQL}, t)))
                   / GREATEST(len({_TOK_SQL}), 1)::DOUBLE, 6) AS stopword_ratio,
             ROUND(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                   / GREATEST(length(text), 1)::DOUBLE, 6) AS alpha_ratio,
             ROUND((length(text) - (len({_TOK_SQL}) - 1))
                   / GREATEST(len({_TOK_SQL}), 1)::DOUBLE, 6) AS mean_token_len
      FROM documents
    )
    SELECT *,
           ROUND((CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
                 + (CASE WHEN punct_ratio <= 0.2 THEN 0.3 ELSE 0.0 END)
                 + ROUND(LEAST(stopword_ratio * 3, 0.3), 6), 6) AS quality
    FROM ts
    """,
)
def text_token_quality(spark, sf_dir):
    """token stats + derived quality score in ONE per-doc feature row
    (r5: merged the former text_token_stats / text_quality_scores
    entries — same columns, same hashes, one registry slot; the driver
    checks only the first 50 registry entries, and the slot freed here
    funds text_neardup_recall_curve)."""
    return textops.token_quality_stats(T(spark, sf_dir, "documents"))


def _langid_sql(sf: str) -> str:
    langs = sorted(textops.LANG_MARKERS)
    score_exprs = ",\n".join(
        f"len(list_filter({_TOK_SQL}, t -> list_contains(["
        + ",".join(f"'{w}'" for w in textops.LANG_MARKERS[lang])
        + f"], t))) AS score_{lang}"
        for lang in langs
    )
    mx = "GREATEST(" + ",".join(f"score_{lang}" for lang in langs) + ")"
    pred = "'und'"
    for lang in reversed(langs):
        pred = f"CASE WHEN {mx} > 0 AND score_{lang} = {mx} THEN '{lang}' ELSE {pred} END"
    return f"""
    WITH scored AS (SELECT doc_id, {score_exprs} FROM documents)
    SELECT doc_id, {pred} AS pred_lang FROM scored
    """


@q("text_langid", _langid_sql)
def text_langid(spark, sf_dir):
    return textops.langid(T(spark, sf_dir, "documents"))


@q(
    "text_fingerprint",
    lambda sf: f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform({_TOK_SQL},
                 t -> (('0x' || substr(md5(t), 1, 7))::UBIGINT)::BIGINT)),
             (a, h) -> (a * 31 + h) % 2147483647) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    return textops.fingerprint(T(spark, sf_dir, "documents"))


# Shingle document-frequency cap mirrored on both sides: stop-shingles
# (df > _MAX_SHINGLE_DF) are dropped before any pair computation.
_MAX_SHINGLE_DF = 100

_SHINGLE_SQL = f"""
  tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
  sh AS (SELECT doc_id,
                list_distinct(list_transform(range(1, GREATEST(len(toks) - 2, 0) + 1),
                              i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
         FROM tok),
  shx0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
  dfreq AS (SELECT shingle, COUNT(*) AS df FROM shx0 GROUP BY 1),
  shx AS (SELECT s.doc_id, s.shingle FROM shx0 s
          JOIN dfreq USING (shingle) WHERE df <= {_MAX_SHINGLE_DF}),
  sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shx GROUP BY doc_id),
  inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
            FROM shx a JOIN shx b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
  pairs AS (SELECT doc_a, doc_b,
                   n_inter / CAST(na.n_sh + nb.n_sh - n_inter AS DOUBLE) AS jaccard
            FROM inter JOIN sizes na ON na.doc_id = doc_a
                       JOIN sizes nb ON nb.doc_id = doc_b)
"""


@q(
    "text_jaccard_pairs",
    lambda sf: f"""
    WITH {_SHINGLE_SQL}
    SELECT doc_a, doc_b, ROUND(jaccard, 6) AS jaccard
    FROM pairs WHERE ROUND(jaccard, 6) >= 0.8
    """,
)
def text_jaccard(spark, sf_dir):
    return textops.jaccard_pairs(
        T(spark, sf_dir, "documents"), threshold=0.8, max_df=_MAX_SHINGLE_DF
    )


def _minhash_sql(sf: str, k: int = 16, band_size: int = 4, threshold: float = 0.7) -> str:
    mins = ",\n".join(
        f"MIN((('0x' || substr(md5('{i}:' || shingle), 1, 15))::UBIGINT)::BIGINT) AS mh{i}"
        for i in range(k)
    )
    n_bands = k // band_size
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_id, md5("
        + " || ',' || ".join(f"mh{b * band_size + j}" for j in range(band_size))
        + ") AS band_hash FROM sig"
        for b in range(n_bands)
    )
    return f"""
    WITH {_SHINGLE_SQL},
    sig AS (SELECT doc_id, {mins} FROM shx GROUP BY doc_id),
    bands AS ({band_rows}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b USING (band_id, band_hash)
             WHERE a.doc_id < b.doc_id)
    SELECT c.doc_a, c.doc_b, ROUND(p.jaccard, 6) AS jaccard
    FROM cand c JOIN pairs p USING (doc_a, doc_b)
    WHERE ROUND(p.jaccard, 6) >= {threshold}
    """


@q("text_minhash_lsh_pairs", _minhash_sql)
def text_minhash(spark, sf_dir):
    return textops.minhash_lsh_pairs(
        T(spark, sf_dir, "documents"), threshold=0.7, max_df=_MAX_SHINGLE_DF
    )


@q(
    "text_simhash_near_pairs",
    # Independent oracle: recompute the md5-vote SimHash in SQL and find
    # pairs by BRUTE-FORCE O(n^2) Hamming join — verifying not just the
    # hash but that the engine's block-permutation candidate trick
    # (any pair within distance k shares one of k+1 exact blocks) loses
    # no pairs.
    lambda sf: """
    WITH d AS (SELECT doc_id, text FROM documents),
    toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(COALESCE(text, ''),
                    '\\s+'), t -> t <> '')) AS tok
      FROM d
    ),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS hv
      FROM toks
    ),
    votes AS (
      SELECT doc_id, i,
             sum(CASE WHEN (hv >> i::INT) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS i) r
      GROUP BY doc_id, i
    ),
    shu AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN (1::UBIGINT << i::INT)
                      ELSE 0::UBIGINT END)::HUGEINT AS u
      FROM votes GROUP BY doc_id
    ),
    sh AS (
      SELECT d.doc_id,
        COALESCE((CASE WHEN s.u >= 9223372036854775808::HUGEINT
                       THEN s.u - 18446744073709551616::HUGEINT
                       ELSE s.u END)::BIGINT, 0) AS simhash
      FROM d LEFT JOIN shu s USING (doc_id)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def text_simhash(spark, sf_dir):
    return textops.simhash_near_pairs(T(spark, sf_dir, "documents"), max_hamming=3)


@q(
    "text_neardup_recall_curve",
    lambda sf: f"""
    SELECT max_hamming, n_edits, n_planted, n_detected, recall
    FROM read_parquet('{synth_dir_for(sf)}/nd_curve_expected.parquet')
    """,
)
def text_neardup_recall_curve(spark, sf_dir):
    """The recall-vs-radius OPERATING CURVE (r4 verdict next #7): the
    200k soak showed Hamming-radius semantics surprise users — pairing
    is lossless AT the chosen radius, but the radius is the knob.  This
    query measures recall per (max_hamming, token-edit level) over a
    planted gradient corpus; the oracle is a driver-side expected table
    from the independent Python SimHash mirror
    (textops.ensure_neardup_curve), so the Catalyst signature, the
    block-permutation join, and the radius filter are all under
    differential test.  README carries the resulting guidance table."""
    d = textops.ensure_neardup_curve(synth_dir_for(sf_dir))
    docs = spark.read.parquet(str(d / "nd_curve_docs.parquet"))
    return textops.simhash_recall_curve(_par_floor(spark, docs))


# =====================================================================
# Vector similarity
# =====================================================================


@q(
    "vec_cosine_topk",
    lambda sf: """
    WITH probes AS (
      SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
      FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT p.probe_id, v.vec_id,
             ROUND(list_dot_product(CAST(v.embedding AS DOUBLE[]), p.pv)
                   / (sqrt(list_dot_product(CAST(v.embedding AS DOUBLE[]), CAST(v.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(p.pv, p.pv))), 6) AS cosine
      FROM embeddings v CROSS JOIN probes p
    ),
    ranked AS (
      SELECT probe_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    )
    SELECT probe_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
    """,
)
def vec_cosine_topk(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding")
    )
    return vectorops.cosine_topk(emb, probes, k=10)


def _lsh_oracle(sf: str) -> str:
    from gwv_spark.vectorops import _hyperplane

    planes = [
        "[" + ", ".join(repr(x) for x in _hyperplane(64, i)) + "]" for i in range(6)
    ]
    bucket = " + ".join(
        f"((list_dot_product(v, {p}) > 0)::BIGINT << {i})"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    bucketed AS (SELECT vec_id, v, {bucket} AS b FROM emb),
    probes AS (
      SELECT vec_id AS probe_id, v AS pv, b AS pb
      FROM bucketed WHERE vec_id < 5
    ),
    scored AS (
      SELECT p.probe_id, e.vec_id,
             ROUND(list_dot_product(e.v, p.pv)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(p.pv, p.pv))), 6) AS cosine
      FROM bucketed e JOIN probes p ON e.b = p.pb
    ),
    ranked AS (
      SELECT probe_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    )
    SELECT probe_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
    """


# Near-dup over embeddings: the synthetic vectors are near-orthogonal
# (max pairwise cosine ~0.5), so true near-duplicates are PLANTED — a
# deterministic per-component perturbation of vec_id < 50, re-derivable
# identically in DuckDB (pure arithmetic, no libm).  Detection uses
# OR-amplified multi-table sign-LSH (vectorops.lsh_amplification): round
# 1's single 6-plane bucket had ~52% recall at t=0.95 and the mirrored
# oracle could not see it; the recall query below quantifies recall
# against the planted ground truth independently of the LSH construction.

_ND_THRESHOLD, _ND_PLANES = 0.95, 6


def _nd_tables() -> int:
    from gwv_spark.vectorops import lsh_amplification

    return lsh_amplification(_ND_THRESHOLD, _ND_PLANES, 0.95)


def _augmented_embeddings(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    pert = F.transform(
        F.col("embedding"),
        lambda x, i: x.cast("double") + F.lit(0.012) * (i % 7 - 3).cast("double"),
    )
    base = emb.select("vec_id", as_double.alias("embedding"))
    planted = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), pert.alias("embedding")
    )
    return base.unionByName(planted)


def _aug_emb_sql() -> str:
    return """
    emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    emb AS (
      SELECT vec_id, v FROM emb0
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(v, (x, i) -> x + 0.012 * (((i - 1) % 7) - 3))
      FROM emb0 WHERE vec_id < 50
    )"""


def _nd_pairs_sql() -> str:
    """Shared WITH-body computing the amplified-LSH near-dup pairs."""
    from gwv_spark.vectorops import _hyperplane

    n_tables = _nd_tables()
    bucket_cols, or_conds = [], []
    for t in range(n_tables):
        planes = [
            "[" + ", ".join(repr(x) for x in _hyperplane(64, t * _ND_PLANES + i)) + "]"
            for i in range(_ND_PLANES)
        ]
        expr = " + ".join(
            f"((list_dot_product(v, {p}) > 0)::BIGINT << {i})"
            for i, p in enumerate(planes)
        )
        bucket_cols.append(f"{expr} AS b{t}")
        or_conds.append(f"a.b{t} = b.b{t}")
    cos = (
        "ROUND(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))"
        " * sqrt(list_dot_product(b.v, b.v))), 6)"
    )
    return f"""
    {_aug_emb_sql()},
    bucketed AS (SELECT vec_id, v, {', '.join(bucket_cols)} FROM emb),
    nd_pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cosine
      FROM bucketed a JOIN bucketed b
        ON a.vec_id < b.vec_id AND ({' OR '.join(or_conds)})
      WHERE {cos} >= {_ND_THRESHOLD}
    )"""


@q("vec_near_dup_pairs", lambda sf: f"WITH {_nd_pairs_sql()} SELECT * FROM nd_pairs")
def vec_near_dup(spark, sf_dir):
    return vectorops.cosine_near_dup_pairs(
        _augmented_embeddings(spark, sf_dir),
        threshold=_ND_THRESHOLD,
        n_planes=_ND_PLANES,
        n_tables=_nd_tables(),
    )


@q(
    "vec_near_dup_recall",
    lambda sf: f"""
    WITH {_nd_pairs_sql()}
    SELECT (SELECT COUNT(*) FROM emb WHERE vec_id >= 1000000) AS n_planted,
           (SELECT COUNT(*) FROM nd_pairs
             WHERE vec_a < 50 AND vec_b = vec_a + 1000000) AS n_detected,
           ROUND((SELECT COUNT(*) FROM nd_pairs
                   WHERE vec_a < 50 AND vec_b = vec_a + 1000000)
                 / (SELECT COUNT(*) FROM emb WHERE vec_id >= 1000000)::DOUBLE,
                 6) AS recall
    """,
)
def vec_near_dup_recall(spark, sf_dir):
    """Measured recall of the amplified LSH against the PLANTED ground
    truth (original, original+1000000) — independent of the LSH
    construction, so a recall regression cannot hide behind a mirrored
    oracle."""
    aug = _augmented_embeddings(spark, sf_dir)
    det = vectorops.cosine_near_dup_pairs(
        aug, threshold=_ND_THRESHOLD, n_planes=_ND_PLANES, n_tables=_nd_tables()
    )
    n_planted = aug.where(F.col("vec_id") >= 1000000).agg(
        F.count(F.lit(1)).alias("n_planted")
    )
    n_detected = det.where(
        (F.col("vec_a") < 50) & (F.col("vec_b") == F.col("vec_a") + 1000000)
    ).agg(F.count(F.lit(1)).alias("n_detected"))
    return (
        n_planted.crossJoin(F.broadcast(n_detected))
        .select(
            "n_planted",
            "n_detected",
            F.round(F.col("n_detected") / F.col("n_planted"), 6).alias("recall"),
        )
    )


@q("vec_lsh_cosine_topk", _lsh_oracle)
def vec_lsh_topk(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding")
    )
    return vectorops.lsh_cosine_topk(emb, probes, dim=64, k=10, n_planes=6)


# =====================================================================
# Multimodal media (binary payload + typed metadata)
# =====================================================================


def _n_media(sf_dir: str) -> int:
    return max(100, n_docs_for_sf_dir(sf_dir) // 5)


def synth_media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = mediaops.ensure_media(synth_dir_for(sf_dir), _n_media(sf_dir))
    return spark.read.parquet(str(d / "media.parquet"))


def _media_sql(sf_dir: str, name: str = "media") -> str:
    return f"read_parquet('{synth_dir_for(sf_dir)}/{name}.parquet')"


@q(
    "media_profile",
    lambda sf: f"""
    SELECT kind, COUNT(*) AS n_media,
           SUM(octet_length(data))::BIGINT AS total_bytes,
           SUM(meta.width)::BIGINT AS sum_width,
           SUM(meta.duration_ms)::BIGINT AS sum_duration_ms
    FROM {_media_sql(sf)} GROUP BY kind
    """,
)
def media_profile(spark, sf_dir):
    m = synth_media_df(spark, sf_dir)
    return m.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.length("data")).cast("bigint").alias("total_bytes"),
        F.sum("meta.width").cast("bigint").alias("sum_width"),
        F.sum("meta.duration_ms").cast("bigint").alias("sum_duration_ms"),
    )


# Oracles for the decode path are generator-FORWARD expected tables
# written by ensure_media (mediaops._expected_tables): they re-derive the
# payload byte stream from the generator parameters without touching
# _payload/decode_bytes, so Spark's decode-backward mapInPandas is
# checked against an independent computation (round-trip differential).


@q(
    "media_features",
    lambda sf: f"SELECT media_id, kind, n_bytes, width, height, n_frames,"
    f" mean_value, byte_hist FROM {_media_sql(sf, 'media_features_expected')}",
)
def media_features_q(spark, sf_dir):
    return mediaops.media_features(synth_media_df(spark, sf_dir))


@q(
    "media_frame_sample",
    lambda sf: f"SELECT media_id, frame_idx, ts_ms, frame_md5"
    f" FROM {_media_sql(sf, 'media_frames_expected')}",
)
def media_frames_q(spark, sf_dir):
    fr = mediaops.sample_frames(synth_media_df(spark, sf_dir), every_n=2)
    # md5 instead of raw frame bytes: binary cells are not portable across
    # comparison harnesses (bytearray vs bytes repr), the digest is
    return fr.select(
        "media_id", "frame_idx", "ts_ms", F.md5(F.col("frame_data")).alias("frame_md5")
    )


@q(
    "media_resize",
    lambda sf: f"SELECT media_id, width, height, data_md5"
    f" FROM {_media_sql(sf, 'media_resized_expected')}",
)
def media_resize_q(spark, sf_dir):
    rz = mediaops.resize_images(synth_media_df(spark, sf_dir), 8, 8)
    return rz.select(
        "media_id", "width", "height", F.md5(F.col("data")).alias("data_md5")
    )


@q(
    "media_ri_dangling",
    lambda sf: f"""
    SELECT m.media_id AS media_ref, COUNT(*) AS n_refs
    FROM {_media_sql(sf)} m
    LEFT JOIN {_media_sql(sf, "media_catalog")} c ON m.media_id = c.media_id
    WHERE c.media_id IS NULL
    GROUP BY m.media_id
    """,
)
def media_ri_q(spark, sf_dir):
    m = synth_media_df(spark, sf_dir)
    d = mediaops.ensure_media(synth_dir_for(sf_dir), _n_media(sf_dir))
    cat = spark.read.parquet(str(d / "media_catalog.parquet"))
    return mediaops.media_ri(
        m.select(F.col("media_id").alias("media_ref")), cat, catalog_rows=_n_media(sf_dir)
    )


# =====================================================================
# gwv validation rules over the synthetic spans corpus
# =====================================================================


@q(
    "gwv_numexp_violations",
    lambda sf: f"""
    WITH docs AS (SELECT * FROM {synth_docs_sql(sf)}),
    lines AS (SELECT doc_id, unnest(spans, recursive := true) FROM docs),
    cls AS (
      SELECT doc_id, "offset", text,
             list_filter(
               list_transform(string_split(text, ':'),
                 (c, i) -> CASE
                   WHEN i = 8 AND string_split(text, ':')[1] = '99' THEN 0
                   WHEN NOT regexp_matches(c, '^[+-]?[0-9](_?[0-9])*$') THEN 2
                   WHEN CAST(CAST(replace(c, '_', '') AS BIGINT) AS VARCHAR) != c THEN 1
                   ELSE 0 END),
               x -> x > 0)[1] AS first_bad
      FROM lines
    )
    SELECT doc_id, "offset", text AS line_text,
           CASE WHEN text = '' THEN '0'
                WHEN regexp_matches(text, '[^0-9a-z_:@-]') THEN '1'
                WHEN first_bad = 2 THEN '2'
                WHEN first_bad = 1 THEN '3' END AS errcode
    FROM cls
    WHERE (CASE WHEN text = '' THEN '0'
                WHEN regexp_matches(text, '[^0-9a-z_:@-]') THEN '1'
                WHEN first_bad = 2 THEN '2'
                WHEN first_bad = 1 THEN '3' END) IS NOT NULL
    """,
)
def gwv_numexp_q(spark, sf_dir):
    from gwv_spark import engine
    from gwv_spark.rules import numexp as numexp_mod

    docs = synth_docs(spark, sf_dir)
    ctx = engine.make_context(spark, docs)
    return numexp_mod.classify(ctx.spans)


@q(
    "gwv_delquote_violations",
    lambda sf: f"""
    WITH docs AS (SELECT * FROM {synth_docs_sql(sf)}),
    lines AS (SELECT doc_id, unnest(spans, recursive := true) FROM docs),
    quotes AS (
      SELECT DISTINCT doc_id, string_split(text, ':')[8] AS part_full,
             media_ref AS part_base
      FROM lines
      WHERE kind = 'part' AND len(string_split(text, ':')) >= 8
    )
    SELECT q.doc_id, q.part_full
    FROM quotes q LEFT JOIN docs d ON q.part_base = d.doc_id
    WHERE d.doc_id IS NULL
    """,
)
def gwv_delquote_q(spark, sf_dir):
    from gwv_spark import engine
    from gwv_spark.rules import delquote as delquote_mod

    docs = synth_docs(spark, sf_dir)
    ctx = engine.make_context(spark, docs)
    return delquote_mod.missing_quotes(ctx)


def _rule_ctx(spark, sf_dir):
    from gwv_spark import engine

    d = ensure_corpus_for_sf_dir(sf_dir)
    attrs = spark.read.parquet(str(d / "doc_attrs.parquet"))
    return engine.make_context(spark, synth_docs(spark, sf_dir), attrs=attrs)


def _rule_plan(spark, sf_dir, rule_id):
    """One rule's violations plan over the sf_dir corpus."""
    from gwv_spark.rules import load_all_rules

    load_all_rules()
    return _rule_ctx(spark, sf_dir).plan(rule_id)


def _untag(col):
    return F.expr(f"substring({col}, 2)")


@q("gwv_delvar_violations", lambda sf: __import__("gwv_spark.gwv_sql", fromlist=["x"]).delvar_sql(synth_docs_sql(sf)))
def gwv_delvar_q(spark, sf_dir):
    v = _rule_plan(spark, sf_dir, "delvar")
    return v.select("doc_id", _untag("detail[0]").alias("base"))


@q("gwv_order_violations", lambda sf: __import__("gwv_spark.gwv_sql", fromlist=["x"]).order_sql(synth_docs_sql(sf)))
def gwv_order_q(spark, sf_dir):
    v = _rule_plan(spark, sf_dir, "order")
    return v.select("doc_id", "errcode", _untag("detail[0]").alias("part_name"))


@q("gwv_kosekitoki_violations", lambda sf: __import__("gwv_spark.gwv_sql", fromlist=["x"]).kosekitoki_sql(synth_docs_sql(sf)))
def gwv_kosekitoki_q(spark, sf_dir):
    v = _rule_plan(spark, sf_dir, "kosekitoki")
    params = F.nullif(
        F.array_join(F.transform(F.col("detail"), lambda x: F.substring(x, 2, 1 << 30)), "|"),
        F.lit(""),
    )
    return v.select("doc_id", "errcode", params.alias("params"))


@q("gwv_ucsalias_violations", lambda sf: __import__("gwv_spark.gwv_sql", fromlist=["x"]).ucsalias_sql(synth_docs_sql(sf)))
def gwv_ucsalias_q(spark, sf_dir):
    v = _rule_plan(spark, sf_dir, "ucsalias")
    return v.select(
        "doc_id",
        "errcode",
        F.when(F.size("detail") > 0, _untag("detail[0]")).alias("entity_param"),
    )


@q("gwv_donotuse_violations", lambda sf: __import__("gwv_spark.gwv_sql", fromlist=["x"]).donotuse_sql(synth_docs_sql(sf)))
def gwv_donotuse_q(spark, sf_dir):
    v = _rule_plan(spark, sf_dir, "donotuse")
    parts = F.array_join(F.transform(F.col("detail"), lambda x: F.substring(x, 2, 1 << 30)), "|")
    return v.select("doc_id", parts.alias("parts"))


@q("gwv_mustrenew_violations", lambda sf: __import__("gwv_spark.gwv_sql", fromlist=["x"]).mustrenew_sql(synth_docs_sql(sf)))
def gwv_mustrenew_q(spark, sf_dir):
    v = _rule_plan(spark, sf_dir, "mustrenew")
    quoters = F.array_join(F.transform(F.col("detail"), lambda x: F.substring(x, 2, 1 << 30)), "|")
    return v.select(F.col("doc_id").alias("part_name"), "errcode", quoters.alias("quoters"))


@q("gwv_skew_violations", lambda sf: __import__("gwv_spark.gwv_sql", fromlist=["x"]).skew_sql(synth_docs_sql(sf)))
def gwv_skew_q(spark, sf_dir):
    from gwv_spark.rules import skew as skew_mod

    out = skew_mod.classify(_rule_ctx(spark, sf_dir))
    return out.select(
        "doc_id", "offset", F.col("text").alias("line_text"), F.col("errcode_").alias("errcode")
    )


def _related_oracle(sf: str) -> str:
    from gwv_spark import gwv_sql
    from gwv_spark.dims import synth_cjksrc

    d = synth_dir_for(sf)
    compat = [
        (ucs, row[11]) for ucs, row in synth_cjksrc().items() if row[11] is not None
    ]
    return gwv_sql.related_sql(
        synth_docs_sql(sf), f"read_parquet('{d}/doc_attrs.parquet')", compat
    )


@q("gwv_related_violations", _related_oracle)
def gwv_related_q(spark, sf_dir):
    v = _rule_plan(spark, sf_dir, "related")
    params = F.array_join(F.transform(F.col("detail"), lambda x: F.substring(x, 2, 1 << 30)), "|")
    return v.select("doc_id", "errcode", params.alias("params"))


@q(
    "gwv_ids_violations",
    lambda sf: __import__("gwv_spark.gwv_sql", fromlist=["x"]).ids_sql(
        synth_docs_sql(sf)
    ),
)
def gwv_ids_q(spark, sf_dir):
    v = _rule_plan(spark, sf_dir, "ids")
    return v.select("doc_id", "errcode", F.col("sortkey").alias("detail_key"))


def _naming_oracle(sf: str) -> str:
    from gwv_spark import gwv_sql
    from gwv_spark.dims import load_naming_rules, synth_groups

    g = synth_groups().get("UCSで符号化されたCDP外字", [])
    it = iter(g)
    return gwv_sql.naming_sql(
        synth_docs_sql(sf), load_naming_rules(), dict(zip(it, it))
    )


@q("gwv_naming_violations", _naming_oracle)
def gwv_naming_q(spark, sf_dir):
    v = _rule_plan(spark, sf_dir, "naming")
    params = F.array_join(F.transform(F.col("detail"), lambda x: F.substring(x, 2, 1 << 30)), "|")
    return v.select("doc_id", "errcode", params.alias("params"))


def _j_oracle(sf: str) -> str:
    from gwv_spark import gwv_sql
    from gwv_spark.dims import load_jv_config, synth_cjksrc, synth_groups
    from gwv_spark.rules.j import RE_REGIONS

    jv = load_jv_config()
    no_use_pairs = [
        (nu, use) for use, nus in jv["no_use_part"].items() for nu in nus
    ]
    no_apply_re = (
        "^(" + "|".join(jv["no_apply"]) + ")(-(" + RE_REGIONS
        + r")([0-9]{2})?$|(-[0-9]{2})?(-var-[0-9]{3})?)$"
        if jv["no_apply"]
        else None
    )
    return gwv_sql.j_sql(
        synth_docs_sql(sf),
        synth_cjksrc(),
        no_use_pairs,
        no_apply_re,
        synth_groups().get("原規格分離", []),
    )


@q("gwv_j_violations", _j_oracle)
def gwv_j_q(spark, sf_dir):
    v = _rule_plan(spark, sf_dir, "j")
    params = F.array_join(F.transform(F.col("detail"), lambda x: F.substring(x, 2, 1 << 30)), "|")
    return v.select("doc_id", "errcode", params.alias("params"))


def _mj_oracle(sf: str) -> str:
    import re as _re

    from gwv_spark import gwv_sql
    from gwv_spark.derive import TOGO_IN_COMPAT, TOGO_RANGES
    from gwv_spark.dims import synth_mj
    from gwv_spark.rules.mj import _CLASSIFIERS, _key2gw

    table = synth_mj()
    k2i, i2g = [], []
    for idx, row in enumerate(table):
        for field, keys in enumerate(row):
            if keys is None:
                continue
            for key in keys if isinstance(keys, list) else [keys]:
                k2i.append((field, key.lower(), idx))
                i2g.append((idx, field, _key2gw(field, key)))
    keyed = sorted({(f, k) for f, k, _ in k2i})
    xref_map: dict[tuple, set] = {}
    ucs_map: dict[tuple, set] = {}
    for f, k, idx in k2i:
        for idx2, gf, gw in i2g:
            if idx2 != idx:
                continue
            if gf != f:
                xref_map.setdefault((f, k, gf), set()).add(gw)
            if gf == 6:  # F_UCS
                ucs_map.setdefault((f, k), set()).add(gw)
    xref = [(kf, k, gf, sorted(g)) for (kf, k, gf), g in sorted(xref_map.items())]

    def togo(u: str) -> bool:
        m = _re.fullmatch(r"u([0-9a-f]{4,6})", u)
        if not m:
            return False
        cp = int(m.group(1), 16)
        return any(lo <= cp <= hi for lo, hi in TOGO_RANGES) or cp in TOGO_IN_COMPAT

    raw_ucs = [
        (f, k, u, togo(u)) for (f, k), us in sorted(ucs_map.items()) for u in sorted(us)
    ]
    d = synth_dir_for(sf)
    return gwv_sql.mj_sql(
        synth_docs_sql(sf),
        f"read_parquet('{d}/doc_attrs.parquet')",
        _CLASSIFIERS,
        keyed,
        xref,
        raw_ucs,
    )


@q("gwv_mj_violations", _mj_oracle)
def gwv_mj_q(spark, sf_dir):
    v = _rule_plan(spark, sf_dir, "mj")
    return v.select("doc_id", "errcode")


def _width_oracle(sf: str) -> str:
    from gwv_spark import gwv_sql
    from gwv_spark.dims import synth_groups
    from gwv_spark.rules.width import BUHIN_WIDTHS

    return gwv_sql.width_sql(synth_docs_sql(sf), synth_groups(), BUHIN_WIDTHS)


@q("gwv_width_violations", _width_oracle)
def gwv_width_q(spark, sf_dir):
    v = _rule_plan(spark, sf_dir, "width")
    return v.select("doc_id", "errcode")


@q(
    "gwv_illegal_violations",
    lambda sf: __import__("gwv_spark.gwv_sql", fromlist=["x"]).illegal_sql(
        synth_docs_sql(sf)
    ),
)
def gwv_illegal_q(spark, sf_dir):
    v = _rule_plan(spark, sf_dir, "illegal")
    return v.select("doc_id", "errcode", F.col("sortkey").alias("detail_key"))


def _snapshot_sql(tbl: str) -> str:
    return f"""
      SELECT 'span_len_hist' AS metric, len(spans)::VARCHAR AS bucket,
             COUNT(*)::DOUBLE AS n
      FROM {tbl} GROUP BY 2
      UNION ALL
      SELECT 'kind_freq', kind, COUNT(*)::DOUBLE
      FROM (SELECT unnest(spans, recursive := true) FROM {tbl}) GROUP BY 2
    """


@q(
    "gwv_corpus_snapshot",
    lambda sf: f"""
    WITH docs AS (SELECT * FROM {synth_docs_sql(sf)}),
    h AS ({_snapshot_sql("docs")}),
    nr AS (
      SELECT 'media_ref_null_rate' AS metric, 'all' AS bucket,
             ROUND(SUM(CASE WHEN media_ref IS NULL THEN 1 ELSE 0 END)
                   / COUNT(*)::DOUBLE, 6) AS n
      FROM (SELECT unnest(spans, recursive := true) FROM docs)
    )
    SELECT metric, bucket, n AS value FROM h
    UNION ALL SELECT metric, bucket, n FROM nr
    """,
)
def gwv_corpus_snapshot_q(spark, sf_dir):
    from gwv_spark import derive

    docs = derive.prepare(synth_docs(spark, sf_dir))
    return stats.corpus_snapshot(docs, derive.exploded_spans(docs))


@q(
    "gwv_corpus_drift_psi",
    lambda sf: f"""
    WITH docs AS (SELECT * FROM {synth_docs_sql(sf)}),
    basedocs AS (SELECT * FROM docs WHERE substr(md5(doc_id), 1, 1) <= '7'),
    cur_h AS ({_snapshot_sql("docs")}),
    base_h AS ({_snapshot_sql("basedocs")}),
    grid AS (SELECT DISTINCT metric, bucket FROM
             (SELECT metric, bucket FROM cur_h UNION SELECT metric, bucket FROM base_h)),
    j AS (SELECT g.metric, g.bucket, COALESCE(c.n, 0) AS n_cur, COALESCE(b.n, 0) AS n_base
          FROM grid g LEFT JOIN cur_h c ON c.metric = g.metric AND c.bucket = g.bucket
                      LEFT JOIN base_h b ON b.metric = g.metric AND b.bucket = g.bucket),
    tot AS (SELECT metric, SUM(n_cur) AS tc, SUM(n_base) AS tb FROM j GROUP BY 1)
    SELECT j.metric,
           ROUND(SUM((n_cur/tc + 0.0001 - n_base/tb - 0.0001)
                 * LN((n_cur/tc + 0.0001) / (n_base/tb + 0.0001))), 6) AS psi
    FROM j JOIN tot ON tot.metric = j.metric GROUP BY 1
    """,
)
def gwv_corpus_drift_q(spark, sf_dir):
    from gwv_spark import derive

    docs = derive.prepare(synth_docs(spark, sf_dir))
    base = docs.where(F.substring(F.md5(F.col("doc_id")), 1, 1) <= "7")
    cur_snap = stats.corpus_snapshot(docs, derive.exploded_spans(docs))
    base_snap = stats.corpus_snapshot(base, derive.exploded_spans(base))
    return stats.snapshot_psi(cur_snap, base_snap)


@q(
    "gwv_dup_violations",
    lambda sf: __import__("gwv_spark.gwv_sql", fromlist=["x"]).dup_sql(
        synth_docs_sql(sf)
    ),
)
def gwv_dup_q(spark, sf_dir):
    """The full dup rule — all six codes (10/11 straight, 2/3 curves,
    99 parts, 9 position marks) with full params and the reference's
    single-error precedence, hash-checked against an independent
    relational oracle (gwv_sql.dup_sql)."""
    v = _rule_plan(spark, sf_dir, "dup")
    params = F.array_join(
        F.transform(F.col("detail"), lambda x: F.substring(x, 2, 1 << 30)), "|"
    )
    return v.select("doc_id", "errcode", params.alias("params"))


def gwv_corner_boxhits_q(spark, sf_dir):
    """Pre-preemption corner tolerance-box hits, reusing the corner
    rule's own segment derivation and box classification (rules/corner
    _segments + _box_code), hash-checked against an independent
    relational mirror (gwv_sql.corner_boxhits_sql).

    DEMOTED from the 50-entry driver registry in round 4: it was the
    stand-in oracle while gwv_corner_violations had no full oracle;
    the reference-computed expected table closed that gap, so the
    partial check moved to tests/test_registry.py
    (test_corner_boxhits_matches_duckdb_mirror) and its registry slot
    went to stats_tdigest_rank_error.  The oracle SQL stays exported
    via gwv_sql.corner_boxhits_sql."""
    from gwv_spark.rules import corner as corner_mod

    return corner_mod.boxhits(_rule_ctx(spark, sf_dir))


@q(
    "gwv_corner_violations",
    # The connection-graph semantics (reference corner.py:288-497) are not
    # SQL-expressible; the oracle is a reference-COMPUTED expected table
    # (the vendored reference validator run over the same corpus at
    # generation time — ref_expected.py), the mediaops pattern.  The
    # driver's hash check is thus a true engine-vs-reference differential.
    lambda sf: __import__(
        "gwv_spark.ref_expected", fromlist=["x"]
    ).corner_expected_sql(sf),
)
def gwv_corner_q(spark, sf_dir):
    v = _rule_plan(spark, sf_dir, "corner")
    params = F.array_join(F.transform(F.col("detail"), lambda x: F.substring(x, 2, 1 << 30)), "|")
    return v.select("doc_id", "errcode", params.alias("params"))


def _profile_oracle(sf: str) -> str:
    """DuckDB mirror of derive.prepare's category column: the kanji
    ranges come from derive's own constants, as in _mj_oracle."""
    from gwv_spark.derive import GOKAN_RANGES, TOGO_IN_COMPAT, TOGO_RANGES

    def between(ranges):
        return " OR ".join(f"(cp BETWEEN {lo} AND {hi})" for lo, hi in ranges)

    compat = ",".join(str(x) for x in TOGO_IN_COMPAT)
    return f"""
    WITH docs AS (SELECT * FROM {synth_docs_sql(sf)}),
    cat AS (
      SELECT doc_id, spans,
        CASE WHEN contains(doc_id, '_') THEN 'user-owned'
             WHEN regexp_matches(doc_id, '^(u2ff[0-9a-f]|u31ef)-.+$') THEN 'ids'
             WHEN regexp_matches(doc_id, '^u([0-9a-f]{{4,6}})(-.+)?$') THEN (
               CASE WHEN (
                 {between(TOGO_RANGES)}
                 OR cp IN ({compat})
                 OR (({between(GOKAN_RANGES)}) AND cp NOT IN ({compat}))
               ) THEN 'ucs-kanji' ELSE 'ucs-hikanji' END
             )
             WHEN regexp_matches(doc_id, '^(cdp[on]?)-([0-9a-f]{{4}})(-.+)?$') THEN 'cdp'
             WHEN regexp_matches(doc_id, '^koseki-([0-9]{{6}})$') THEN 'koseki'
             WHEN regexp_matches(doc_id, '^toki-([0-9]{{8}})$') THEN 'toki'
             WHEN regexp_matches(doc_id, '^irg(2015|2017|2021)-([0-9]{{5}})$') THEN 'ext'
             WHEN regexp_matches(doc_id, '^unstable-bsh-([0-9a-f]{{4}})$') THEN 'bsh'
             ELSE 'other' END AS category,
        (len(spans) = 1 AND starts_with(spans[1].text, '99:0:0:0:0:200:200:')
         AND NOT contains(substr(spans[1].text, 20), ':')) AS is_alias
      FROM (SELECT doc_id, spans,
                   COALESCE(TRY_CAST(('0x' || regexp_extract(doc_id, '^u([0-9a-f]{{4,6}})(-.+)?$', 1)) AS UBIGINT), 0)::BIGINT AS cp
            FROM docs)
    )
    SELECT category,
           COUNT(*) AS n_docs,
           SUM(CASE WHEN is_alias THEN 1 ELSE 0 END)::BIGINT AS n_alias,
           SUM(len(spans))::BIGINT AS n_spans
    FROM cat
    GROUP BY category
    """


@q("gwv_corpus_profile", _profile_oracle)
def gwv_corpus_profile(spark, sf_dir):
    from gwv_spark import derive

    docs = derive.prepare(synth_docs(spark, sf_dir))
    spans_count = docs.select("doc_id", "category", F.size("spans").alias("ns"), "is_alias")
    return spans_count.groupBy("category").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_alias").cast("int")).cast("bigint").alias("n_alias"),
        F.sum("ns").cast("bigint").alias("n_spans"),
    )
