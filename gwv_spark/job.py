"""Cluster job entrypoint: ``spark-submit --py-files gwv_spark.zip
gwv_spark/job.py --input <docs> --output <dir> [...]``.

Batch lifecycle (north rule):
1. read the documents table (parquet path or Iceberg table name), pinned
   to its snapshot — or, with --as-of, to an earlier committed one;
2. build the shared parsed context, cached while any rule is left to
   write;
3. write each selected rule as its own Spark job, several in flight at
   once (engine.run_rules_concurrent into engine.parquet_sink, the one
   executor of every lifecycle), each overwriting its own
   ``<output>/violations/rule_id=<id>/`` directory — driver-side
   planning of one rule overlaps executor work of the others;
4. roll up per-partition pass/fail verdicts to ``<output>/verdicts/``
   and append one row per written rule to ``<output>/metrics/`` (its
   write time and its violation count, keyed by run_id + snapshot).

The metrics row is the run's completion record: a rerun with --resume
skips every rule that has a row at the pinned snapshot (on Iceberg the
snapshot id, on plain parquet the corpus fingerprint), so state never
mixes across corpus versions.

``--incremental`` runs the append lifecycle of gwv_spark.incremental
instead: one plan with a step per requested rule — skip a rule the last
run covered at this snapshot, validate only the appended files
(doc-local rules), fold the persisted RI state (delquote/delvar), or
evaluate the whole corpus (every other rule, and any rule the last run
did not cover).  The first run on an output dir is the all-full
baseline.  Both lifecycles share the suite executor, one prologue
(:func:`begin_run`: rule ids, layout pin, resume set) and one commit
tail (:func:`finish_run`: verdicts, sample, metrics).  An output
directory is bound to the lifecycle of its first run by its ``layout``
record: the two partition violations differently, and mixing them would
double-count.

The driver never collects violation rows; everything is executor-side
writes.  The small tables the driver builds itself (layout record,
metrics rows) are JVM-held local relations (session.local_frame), so no
Python worker starts for them.  Rule subset selection mirrors the
reference CLI's ``-n`` (gwv.py:33, validator.py:32-37).
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

METRICS_DDL = (
    "run_id STRING, snapshot STRING, rule_id STRING, "
    "wall_s DOUBLE, run_total_s DOUBLE, per_rule_timing BOOLEAN, "
    "n_violations BIGINT"
)


def read_committed(spark, path: str, ddl: str):
    """The parquet table at ``path``, or an empty ``ddl`` frame when no
    write ever committed a visible file there.  Any other read error
    raises: an unreadable table must never read as empty — an unreadable
    violations dir would roll up as "all pass", an unreadable runs log
    would re-baseline the output dir."""
    from gwv_spark import fs
    from gwv_spark.session import local_frame

    if not any(fs.files(path)):
        return local_frame(spark, [], ddl)
    return spark.read.parquet(path)


def check_rules(rules: list[str] | None) -> None:
    """Fail fast, before any write, on a --rules list that is empty or
    that engine._registered refuses (an unknown or repeated id): a
    typo'd entry must not get a fabricated metrics row, a repeated one
    must not write its rule twice, and ``--rules`` with no ids must not
    silently mean all 18.  ``None`` (no --rules at all) is the only
    spelling of "all"."""
    from gwv_spark import engine

    if rules is None:
        return
    if not rules:
        raise SystemExit("--rules given with no rule ids (omit it to run all)")
    try:
        engine._registered(rules)
    except (KeyError, ValueError) as e:
        raise SystemExit(f"--rules: {e.args[0]}") from None


def begin_run(spark, args, snapshot: str) -> tuple[list[str], set[str]]:
    """The prologue both batch lifecycles share.  Returns the requested
    rule ids (checked by :func:`check_rules`) and, under --resume, the
    ones already done at ``snapshot`` (they have a metrics row there).

    Fails fast on an output dir whose layout record names the other
    lifecycle; a fresh dir is pinned to this one."""
    from gwv_spark import fs
    from gwv_spark.rules import ALL_RULE_IDS
    from gwv_spark.session import local_frame

    rule_ids = ALL_RULE_IDS if args.rules is None else args.rules

    out = args.output.rstrip("/")
    layout = f"{out}/layout"
    if any(fs.files(layout)):
        prior = bool(spark.read.json(layout).collect()[0].asDict().get("incremental"))
        if prior != args.incremental:
            raise SystemExit(
                f"output dir {out} was written by "
                f"{'an incremental' if prior else 'a non-incremental'} run; "
                "incremental and classic layouts cannot mix (epoch-"
                "partitioned violations would double-count) — use a fresh "
                "output dir"
            )
    else:
        local_frame(
            spark, [(bool(args.incremental),)], "incremental BOOLEAN"
        ).coalesce(1).write.mode("overwrite").json(layout)

    if not args.resume:
        return rule_ids, set()
    metrics = read_committed(spark, f"{out}/metrics", METRICS_DDL)
    done = metrics.where(F.col("snapshot") == snapshot).select("rule_id").distinct()
    return rule_ids, {r["rule_id"] for r in done.collect()}


def finish_run(
    spark, args, snapshot: str, docs, computed: list[str],
    rule_secs: dict[str, float], total_secs: float,
) -> None:
    """The commit tail both batch lifecycles share: per-partition
    verdicts of ``docs`` against the committed violations, the --sample
    triage table, then one metrics row per rule in ``computed`` — its
    write time from ``rule_secs`` (NULL for a rule not timed alone), the
    run total in its own column (rule writes overlap, so summing wall_s
    across rows overcounts the run), and its violation count read back
    from the committed output.  Metrics are appended last: a row marks
    its rule done at ``snapshot`` for --resume."""
    from gwv_spark import engine
    from gwv_spark.rules import VIOLATIONS_DDL
    from gwv_spark.session import local_frame

    out = args.output.rstrip("/")
    run_id = args.run_id or snapshot
    # --ignore-error quarantine rows are audit data, not violations: the
    # reference's --ignore-error (validator.py:46-55) records nothing for
    # a crashed glyph, so counting them would flip bucket verdicts
    real = read_committed(spark, f"{out}/violations", VIOLATIONS_DDL).where(
        F.col("errcode") != "__error__"
    )
    engine.partition_verdicts(
        docs, real, n_buckets=args.n_buckets, run_id=run_id
    ).write.mode("overwrite").parquet(f"{out}/verdicts")
    if args.sample:
        from gwv_spark import triage

        triage.sample_violations(real, k=args.sample).write.mode("overwrite").parquet(
            f"{out}/violations_sample"
        )
    if not computed:
        return
    counts = {
        r["rule_id"]: r["n"]
        for r in real.where(F.col("rule_id").isin(computed))
        .groupBy("rule_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    rows = [
        (run_id, snapshot, rid, rule_secs.get(rid), total_secs, rid in rule_secs,
         int(counts.get(rid, 0)))
        for rid in computed
    ]
    local_frame(spark, rows, METRICS_DDL).write.mode("append").parquet(f"{out}/metrics")


def main(argv: list[str] | None = None, spark=None) -> None:
    from pyspark.sql import SparkSession

    p = argparse.ArgumentParser(description="gwv_spark validation job")
    p.add_argument("--input", required=True, help="documents parquet path or table")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--rules", nargs="*", default=None, help="rule subset (default all)")
    p.add_argument("--attrs", default=None, help="doc_attrs parquet path")
    p.add_argument("--n-buckets", type=int, default=256)
    p.add_argument("--run-id", default=None, help="default: the input snapshot id")
    p.add_argument(
        "--resume",
        action="store_true",
        help="skip rules with a metrics row at the input snapshot",
    )
    p.add_argument(
        "--as-of",
        default=None,
        metavar="SNAPSHOT",
        help="validate the input AS OF this committed snapshot id "
        "(catalog.load_snapshot): the run reads exactly that snapshot's "
        "file manifest even after later appends, and its metrics rows "
        "are keyed by that snapshot — a historical run reproduces "
        "bit-identically.",
    )
    p.add_argument(
        "--sample",
        type=int,
        default=None,
        metavar="K",
        help="also write <output>/violations_sample: K deterministic "
        "examples per (rule_id, errcode) plus exact totals (the triage "
        "surface a human reads at 10^12 scale instead of the raw table)",
    )
    p.add_argument(
        "--ignore-error",
        action="store_true",
        help="quarantine per-record UDF crashes as __error__ rows "
        "instead of failing the job (gwv.py:28-32)",
    )
    p.add_argument(
        "--incremental",
        action="store_true",
        help="validate only the files appended since the previous run "
        "on this output dir: document-local rules run over the "
        "manifest diff (violations epoch-partitioned, union = full "
        "set), delquote/delvar fold via the persisted RI state table "
        "(retractions included), remaining corpus-scoped rules and "
        "rules the previous run did not cover recompute.  First run = "
        "full baseline.  Non-append input changes fail fast "
        "(gwv_spark.incremental).",
    )
    args = p.parse_args(argv)
    check_rules(args.rules)

    # on a cluster the session comes fully configured from spark-submit
    owns_session = spark is None
    if owns_session:
        spark = SparkSession.builder.appName("gwv_spark-validate").getOrCreate()
    try:
        if args.incremental:
            from gwv_spark import incremental

            incremental.run(args, spark)
        else:
            run(args, spark)
    finally:
        if owns_session:
            spark.stop()


def run(args, spark) -> None:
    """The classic lifecycle (module docstring), dispatched from main."""
    from gwv_spark import catalog, engine

    if args.as_of:
        # historical run: read exactly the named snapshot's manifest —
        # identical inputs, identical outputs
        documents = catalog.load_snapshot(spark, args.input, args.as_of)
        snapshot = args.as_of
    else:
        documents = catalog.load(spark, args.input)
        # the pin also COMMITS a manifest of the snapshot's exact file
        # list, so this run's input stays re-readable as-of
        # (catalog.load_snapshot / --as-of) even after later appends
        snapshot = catalog.commit_snapshot(spark, args.input)
    attrs = spark.read.parquet(args.attrs) if args.attrs else None
    rule_ids, done = begin_run(spark, args, snapshot)
    todo = [r for r in rule_ids if r not in done]

    # a run with every rule resumed builds a light context purely for
    # the verdict rollup's doc counts
    ctx = engine.make_context(
        spark,
        documents,
        attrs=attrs,
        cache=bool(todo),
        ignore_error=args.ignore_error,
        resolve_entity=bool(todo),
    )
    t_run = time.monotonic()
    # one job per rule, each overwriting exactly its own directory (so a
    # rule that is now clean leaves no stale partition)
    rule_secs = engine.run_rules_concurrent(
        ctx, todo, sink=engine.parquet_sink(f"{args.output.rstrip('/')}/violations")
    )
    finish_run(
        spark, args, snapshot, ctx.docs, todo, rule_secs,
        round(time.monotonic() - t_run, 3),
    )
    ctx.docs.unpersist()
    ctx.spans.unpersist()


if __name__ == "__main__":
    main()
