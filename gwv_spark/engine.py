"""Engine: compile selected rules to violation plans, write them one
job per rule, emit per-partition verdicts, and reproduce the
reference's result-JSON shape.

Reference lifecycle being replaced (validator.py:26-60): eager dict load →
per-record loop over all validators → per-rule errcode grouping → JSON.
Here: one prepared scan shared by all rule plans; every lifecycle (the
classic and incremental jobs, the doc-local stream) writes through one
executor, :func:`run_rules_concurrent` into :func:`parquet_sink`, so
the per-rule grouping is a directory per rule.  The verdict rollup is a
single groupBy over bucketed doc_ids.

Verdicts are keyed by (bucket, rule_id), bucket = pmod(xxhash64(doc_id),
n_buckets).  Resumability lives in the job (gwv_spark.job): each run is
pinned to the input's snapshot id (the corpus fingerprint on plain
parquet), and a --resume rerun skips the rules that already have a
metrics row at that snapshot.
"""

from __future__ import annotations

import time
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gwv_spark import derive
from gwv_spark.corpus import CORPUS_TS
from gwv_spark.rules import (
    ALL_RULE_IDS,
    RULES,
    VIOLATIONS_DDL,
    RuleContext,
    decode_detail,
    load_all_rules,
)
from gwv_spark.session import local_frame


def make_context(
    spark: SparkSession,
    documents: DataFrame,
    attrs: DataFrame | None = None,
    dims: dict[str, DataFrame] | None = None,
    cache: bool = False,
    ignore_error: bool = False,
    resolve_entity: bool = True,
) -> RuleContext:
    """cache=True persists the prepared docs and the exploded+parsed
    spans before the rule plans run.  Every rule branch reuses the
    materialized parse instead of re-deriving it (Catalyst does not CSE
    across union branches); on a real deployment the same effect comes
    from storing the parsed columns in the Iceberg spans table at ingest,
    so this is the faithful execution shape, not a bench trick.

    resolve_entity=False skips the alias-dereference corpus self join
    (derive.with_entity) — the ONE shuffle in context build.  Only valid
    when every rule that will run is document-local (none reads the
    entity/entity_exists/raw_entity columns); the streaming tier's
    doc-local microbatches use this, making the whole per-batch plan
    shuffle-free.  A rule that does read entity columns then fails
    loudly at analysis time (missing column), never silently."""
    docs = derive.prepare(documents)
    if resolve_entity:
        docs = derive.with_entity(docs)
    spans = derive.exploded_spans(docs)
    if cache:
        # materialize eagerly: concurrent rule jobs launched against a
        # persisted-but-unmaterialized plan would each recompute the full
        # parse until the first one finishes caching (thundering herd)
        docs = docs.persist()
        docs.count()
        spans = spans.persist()
        spans.count()
    if dims is None:
        from gwv_spark.dims import default_dims

        dims = default_dims()
    return RuleContext(
        spark=spark,
        docs=docs,
        spans=spans,
        attrs=attrs,
        dims=dims,
        ignore_error=ignore_error,
    )


def empty_violations(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [], VIOLATIONS_DDL)


def _registered(rule_ids: list[str] | None) -> list[str]:
    """The selected ids (None: all; an empty list selects none), each
    with a registered rule.  An unregistered id raises: a rule must
    never drop out of a run and leave its verdicts reading "pass".  A
    repeated id raises too: the union would count its rows twice, and
    two concurrent writes of one rule would both commit."""
    load_all_rules()
    ids = list(ALL_RULE_IDS if rule_ids is None else rule_ids)
    missing = [r for r in ids if r not in RULES]
    if missing:
        raise KeyError(f"no registered rule for ids {missing}")
    repeated = sorted({r for r in ids if ids.count(r) > 1})
    if repeated:
        raise ValueError(f"rule ids repeated: {repeated}")
    return ids


def run_rules(ctx: RuleContext, rule_ids: list[str] | None = None) -> DataFrame:
    """Union the violation plans of the selected rules (lazy); no
    selected rule gives an empty violations frame.  The driver
    contract's result and :func:`run_suite`'s plan; no lifecycle
    writes through it."""
    ids = _registered(rule_ids)
    if not ids:
        return empty_violations(ctx.spark)
    # tuple key: can never collide with a per-rule string key, and two
    # different orderings (different union output order) cache separately
    key = ("__union__", tuple(ids))
    cached = ctx.plan_cache.get(key)
    if cached is not None:
        return cached
    out = None
    for rid in ids:
        df = ctx.plan(rid)
        out = df if out is None else out.unionByName(df)
    ctx.plan_cache[key] = out
    return out


def run_suite(ctx: RuleContext, rule_ids: list[str] | None = None) -> None:
    """Execute the selected rules as ONE Spark action: the union of all
    violation plans behind a noop sink.

    One job = one driver submission; the DAG scheduler runs the
    independent branch stages concurrently.  Its final stage ships the
    whole 18-branch task binary with every task, so on a 4-core host
    the per-rule jobs of run_rules_concurrent finish the suite sooner;
    every lifecycle writes that way, and this fused form stays only for
    measurement (perfbench's ``rules.suite_fused`` probe)."""
    run_rules(ctx, rule_ids).write.format("noop").mode("overwrite").save()


def run_rules_concurrent(
    ctx: RuleContext,
    rule_ids: list[str] | None = None,
    workers: int = 12,
    sink=None,
) -> dict[str, float]:
    """The suite executor: force every rule's violation plan as its own
    Spark job, several in flight at once, and return each rule's wall
    time.  Every lifecycle writes its violations through it.

    A single unioned action serializes the driver-side work of all 18
    branches (codegen, task serialization, stage submission) behind one
    job; submitting the branches as concurrent jobs overlaps driver work
    with executor work and keeps the cores busy — measured ~4× faster
    than the union on local[32] at sf0.1.  On a cluster the same holds:
    the scheduler interleaves tasks of concurrent jobs over the same
    executors (FIFO pools).  ``sink(rule_id, df)`` receives each rule's plan
    (default: noop write, full execution without driver collect).

    Each rule runs with a copy of the calling thread's Spark local
    properties (job group, description, scheduler pool), so the
    caller's ``cancelJobGroup`` and job attribution cover every rule
    job."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    ids = _registered(rule_ids)

    def _noop(rid: str, df: DataFrame) -> None:
        df.write.format("noop").mode("overwrite").save()

    sink = sink or _noop
    # build (or fetch) every plan up front on the main thread: a build is
    # serial driver work (a few hundred py4j round trips per rule, most
    # of its time the JVM parsing and analysing each step — see
    # tools/plan_calls.py), so interleaving it with the worker threads'
    # action submissions just serializes both
    plans = {rid: ctx.plan(rid) for rid in ids}

    def _timed(rid: str) -> tuple[str, float]:
        t0 = time.monotonic()
        sink(rid, plans[rid])
        return rid, round(time.monotonic() - t0, 3)

    # wrapped per rule, on this thread: each wrap takes its own copy of
    # the local properties (one shared copy would let concurrent queries
    # overwrite each other's SQL execution ids)
    tasks = [inheritable_thread_target(ctx.spark)(partial(_timed, rid)) for rid in ids]
    with ThreadPoolExecutor(workers) as ex:
        return dict(f.result() for f in [ex.submit(t) for t in tasks])


def parquet_sink(base_dir: str, sub: str | None = None):
    """The violations sink of every lifecycle: rule ``rid`` overwrites
    exactly ``<base_dir>/rule_id=<rid>`` (or its ``sub`` directory, the
    incremental ``epoch=s<snapshot>``), so concurrent rule jobs never
    share an overwrite root and a now-clean rule leaves no stale rows."""

    def write(rid: str, df: DataFrame) -> None:
        # rule_id lives in the directory name (hive-style partition);
        # partition discovery restores it on read
        path = f"{base_dir.rstrip('/')}/rule_id={rid}"
        df.drop("rule_id").write.mode("overwrite").parquet(f"{path}/{sub}" if sub else path)

    return write


def partition_verdicts(
    docs: DataFrame, violations: DataFrame, n_buckets: int = 256, run_id: str = "run"
) -> DataFrame:
    """Per-(bucket, rule) pass/fail rollup (FIXTURES.md §6).

    xxhash64 bucketing decorrelates the skewed doc_id prefixes, so bucket
    sizes stay uniform at any corpus scale."""
    bucket = lambda c: F.pmod(F.xxhash64(c), F.lit(n_buckets)).cast("int")  # noqa: E731
    doc_counts = docs.groupBy(bucket(F.col("doc_id")).alias("partition_id")).agg(
        F.count("*").alias("n_docs")
    )
    vio_counts = violations.groupBy(
        bucket(F.col("doc_id")).alias("partition_id"), F.col("rule_id")
    ).agg(F.count("*").alias("n_violations"))
    return (
        doc_counts.join(vio_counts, "partition_id", "left")
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            F.coalesce(F.col("rule_id"), F.lit("__all__")).alias("rule_id"),
            (F.coalesce(F.col("n_violations"), F.lit(0)) == 0).alias("pass"),
            "n_docs",
            F.coalesce(F.col("n_violations"), F.lit(0)).alias("n_violations"),
        )
    )


# ---------------------------------------------------------------- report

# Rules whose empty result still carries fixed keys
# (mustrenew.py:49-61; tests/test_validator.py:16-19).
_ALWAYS_PRESENT_CODES = {"mustrenew": ["0", "@"]}


def result_json(
    violations_rows: list,
    rule_ids: list[str] | None = None,
    timestamp: float = CORPUS_TS,
) -> dict:
    """Rebuild the reference's result dict
    {rule: {timestamp, result: {errcode: [[doc_id, *params], ...]}}}
    from collected violation rows (validator.py:57-60).

    DRIVER-SIDE by design: this exists only for the byte-parity harness
    (tests/test_report_order.py) and small-result CLI use — it sorts
    collected rows in driver memory.  The at-scale sink is the job path
    (job.py: executor-side partitioned parquet write); do not reach for
    this with a corpus-sized violations set."""
    ids = ALL_RULE_IDS if rule_ids is None else rule_ids
    out: dict = {
        rid: {
            "timestamp": timestamp,
            "result": {code: [] for code in _ALWAYS_PRESENT_CODES.get(rid, [])},
        }
        for rid in ids
    }
    rows = sorted(violations_rows, key=lambda r: (r["rule_id"], r["errcode"], r["sortkey"]))
    for r in rows:
        if r["rule_id"] not in out:
            continue
        res = out[r["rule_id"]]["result"]
        params = [decode_detail(d) for d in (r["detail"] or [])]
        res.setdefault(r["errcode"], []).append([r["doc_id"], *params])
    return out
