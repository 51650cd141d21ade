"""Cluster job entrypoint: ``spark-submit --py-files gwv_spark.zip
gwv_spark/job.py --input <docs> --output <dir> [...]``.

Batch lifecycle (north rule):
1. read the documents table (parquet path or Iceberg table name);
2. build the shared parsed context (cache unless --no-cache);
3. write each selected rule as its own Spark job, several in flight at
   once (engine.run_rules_concurrent), each overwriting its own
   ``<output>/violations/rule_id=<id>/`` directory — driver-side
   planning of one rule overlaps executor work of the others, and
   ``metrics.wall_s`` records each rule's write time;
4. roll up per-partition pass/fail verdicts + metrics to
   ``<output>/verdicts/``;
5. mark completed (rule, bucket) pairs in the resume ledger at
   ``<output>/ledger/`` — a rerun with --resume skips buckets already
   marked complete (per-partition lineage; on Iceberg the ledger is
   keyed by snapshot id instead of the corpus fingerprint).

Per-partition lineage (``--bucket-groups G``, G > 1): the DOCUMENT-LOCAL
rules (gwv_spark.streaming.DOC_LOCAL_RULES — violations provably depend
only on the document's own columns) are evaluated in G independent
corpus slices, each a round-robin group of the snapshot-pinned sorted
input FILE list (file groups, not hash-of-doc_id groups: a hash
predicate can't prune the scan, so hash slices would read the corpus G
times over; file slices together scan it exactly once).  Each slice is
one action whose committed output is immediately ledger-marked
``(rule_id, g)``, so a crash loses at most one slice of work instead of
the whole rule — at the 10^12-doc design point a full doc-local pass is
hours of executor time and restart-from-zero is not acceptable.  A
retried / resumed slice is idempotent for the same reason the streaming
epochs are: rule plans are deterministic over the snapshot-pinned input
and dynamic partition overwrite replaces exactly the
``rule_id=<id>/bucket_group=<g>`` partitions the slice recomputes.
Corpus-scoped rules (referential, alias-dereferencing) are NOT sliceable
by construction — their violations read other documents — so they run
full-corpus and are marked with the ``bucket_group = -1`` sentinel.

Layout note: grouped mode hive-partitions violations by
``(rule_id, bucket_group)``; the default mode keeps the flat
``rule_id=<id>/`` layout.  One output directory is bound to the layout
of its first run — don't mix modes in one output dir (Spark's partition
discovery fails loudly on conflicting depths, never silently).

The driver never collects violation rows; everything is executor-side
writes.  The small tables the driver builds itself (layout record,
ledger marks, metrics rows) are JVM-held local relations
(session.local_frame), so no Python worker starts for them.  Rule
subset selection mirrors the reference CLI's ``-n`` (gwv.py:33,
validator.py:32-37).
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _clear_partitions(spark, base: str, relpaths) -> None:
    """Drop ``<base>/<rel>`` for every partition about to be recomputed.

    Dynamic partition overwrite only replaces partitions that receive
    rows, so a rule whose recomputation yields ZERO violations (the goal
    state) would otherwise leave its stale partition from a previous run
    in place — and the read-back would report violations that no longer
    exist.  Explicitly deleting the recomputed partitions up front makes
    the write's semantics truncate-and-load for exactly the recomputed
    (rule, bucket-group) set while resumed partitions stay untouched.
    Hadoop FS API, so it works on any storage backend spark can write
    to."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path_cls = jvm.org.apache.hadoop.fs.Path
    fs = path_cls(base).getFileSystem(conf)
    for rel in relpaths:
        p = path_cls(f"{base}/{rel}")
        if fs.exists(p):
            fs.delete(p, True)


def main(argv: list[str] | None = None, spark=None) -> None:
    from pyspark.sql import SparkSession

    from gwv_spark import engine
    from gwv_spark.rules import ALL_RULE_IDS
    from gwv_spark.session import local_frame

    p = argparse.ArgumentParser(description="gwv_spark validation job")
    p.add_argument("--input", required=True, help="documents parquet path or table")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--rules", nargs="*", default=None, help="rule subset (default all)")
    p.add_argument("--attrs", default=None, help="doc_attrs parquet path")
    p.add_argument("--n-buckets", type=int, default=256)
    p.add_argument("--run-id", default=None, help="default: the input snapshot id")
    p.add_argument(
        "--bucket-groups",
        type=int,
        default=1,
        help="evaluate document-local rules in this many independent "
        "corpus slices, ledger-marking each slice as it commits — a "
        "crash/resume loses at most one slice of doc-local work instead "
        "of a whole rule (see module docstring).  1 = whole-corpus "
        "actions only (default).",
    )
    p.add_argument("--resume", action="store_true", help="skip completed (rule,bucket)s")
    p.add_argument(
        "--as-of",
        default=None,
        metavar="SNAPSHOT",
        help="validate the input AS OF this committed snapshot id "
        "(catalog.load_snapshot): the run reads exactly that snapshot's "
        "file manifest even after later appends, and is pinned/ledgered "
        "under that snapshot — a historical run reproduces bit-identically.",
    )
    p.add_argument("--no-cache", action="store_true")
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
        "(retractions included), remaining corpus-scoped rules "
        "recompute.  First run = full baseline.  Non-append input "
        "changes fail fast (gwv_spark.incremental).",
    )
    args = p.parse_args(argv)

    # On a cluster the session comes fully configured from spark-submit
    # --conf; only job-agnostic settings are set here.
    owns_session = spark is None
    if owns_session:
        spark = SparkSession.builder.appName("gwv_spark-validate").getOrCreate()
    # Resume correctness REQUIRES dynamic partition overwrite: with the
    # default 'static' mode, mode('overwrite').partitionBy('rule_id')
    # would delete the whole violations directory — including partitions
    # of rules skipped by --resume — while the ledger still marks them
    # complete.  Set it explicitly so an externally configured cluster
    # session can't silently lose resumed rules' violations.
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    if args.incremental:
        from gwv_spark import incremental

        try:
            incremental.run(args, spark)
        finally:
            if owns_session:
                spark.stop()
        return

    from gwv_spark import catalog

    if args.as_of:
        # historical run: read exactly the named snapshot's manifest and
        # pin the ledger to it — identical inputs, identical outputs
        documents = catalog.load_snapshot(spark, args.input, args.as_of)
        snapshot = args.as_of
    else:
        documents = catalog.load(spark, args.input)
        # the run is pinned to the input's snapshot: the resume ledger
        # lives under it, so state can never mix across corpus versions
        # (Iceberg snapshot id, or a content fingerprint on plain
        # parquet).  The pin also COMMITS a manifest of the snapshot's
        # exact file list, so this run's input stays re-readable as-of
        # (catalog.load_snapshot / --as-of) even after later appends.
        snapshot = catalog.commit_snapshot(spark, args.input)
    attrs = spark.read.parquet(args.attrs) if args.attrs else None

    rule_ids = args.rules or ALL_RULE_IDS
    # fail fast on unknown rule ids: a typo'd --rules entry must not get
    # a fabricated metrics row and a rule-complete ledger mark
    unknown = [r for r in rule_ids if r not in ALL_RULE_IDS]
    if unknown:
        raise SystemExit(f"unknown rule ids: {unknown} (known: {ALL_RULE_IDS})")

    groups = max(1, args.bucket_groups)
    if groups > 1:
        from gwv_spark.streaming import DOC_LOCAL_RULES

        local = [r for r in rule_ids if r in DOC_LOCAL_RULES]
        scoped = [r for r in rule_ids if r not in local]
    else:
        local, scoped = [], list(rule_ids)

    out = args.output.rstrip("/")
    # an output dir is bound to the slice key of its first run: resuming
    # with a different --bucket-groups would re-slice under a different
    # modulus while old slices' partitions survive — duplicate
    # violations.  Fail fast instead.
    layout_dir = f"{out}/layout"
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(layout_dir)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jvm_path):
        row = spark.read.json(layout_dir).collect()[0]
        if "incremental" in row.asDict() and row["incremental"]:
            raise SystemExit(
                f"output dir {out} holds an --incremental layout "
                "(epoch-partitioned violations + RI state); classic runs "
                "would double-count its epochs — use --incremental or a "
                "fresh output dir"
            )
        prior = int(row["bucket_groups"])
        if prior != groups:
            raise SystemExit(
                f"output dir {out} was written with --bucket-groups {prior}; "
                f"got {groups} — mixed slice keys would duplicate violations"
            )
    else:
        local_frame(spark, [(groups,)], "bucket_groups INT").coalesce(1).write.json(layout_dir)
    ledger = engine.Ledger(spark, f"{out}/ledger/snapshot={snapshot}")

    done_pairs: set[tuple[str, int]] = set()
    if args.resume:
        done_pairs = {
            (r["rule_id"], r["partition_id"]) for r in ledger.completed().collect()
        }
        scoped = [r for r in scoped if (r, -1) not in done_pairs]
    # per-slice work list: (rule, g) pairs not yet committed.  A rule
    # carrying the -1 sentinel (completed whole-corpus) skips all slices.
    group_todo = {
        g: [
            r
            for r in local
            if (r, g) not in done_pairs and (r, -1) not in done_pairs
        ]
        for g in range(groups)
    }
    group_todo = {g: rs for g, rs in group_todo.items() if rs}
    recomputed = scoped + sorted({r for rs in group_todo.values() for r in rs})

    # the full context (with the alias-dereference corpus self join) is
    # only needed by the corpus-scoped rules; a doc-local-only run gets a
    # light context purely for the verdict rollup's doc counts
    ctx = engine.make_context(
        spark,
        documents,
        attrs=attrs,
        cache=(not args.no_cache) and bool(scoped),
        ignore_error=args.ignore_error,
        resolve_entity=bool(scoped),
    )

    vio_dir = f"{out}/violations"
    rule_secs: dict[str, float] = {}
    t_run = time.monotonic()

    if scoped:
        # one job per rule, each overwriting exactly its own directory
        # (so a rule that is now clean leaves no stale partition)
        rule_secs = engine.run_rules_concurrent(
            ctx,
            scoped,
            sink=engine.parquet_sink(vio_dir, bucket_group=-1 if groups > 1 else None),
        )

    if group_todo:
        # slices are FILE groups, not hash-of-doc_id groups: a hash
        # predicate cannot prune the scan, so G hash slices would read
        # the full corpus G times — a non-starter at the 10^12-doc
        # design point.  Round-robin over the snapshot-pinned sorted
        # file list gives disjoint slices that together scan the corpus
        # exactly once, each slice reading only its own files.  The
        # assignment is deterministic per snapshot (resume is pinned to
        # it), so a retried slice recomputes exactly the same docs.
        slice_files = sorted(documents.inputFiles())
    slice_rows: list[tuple[int, int, float]] = []  # (slice, n_files, wall_s)
    for g in sorted(group_todo):
        rids_g = group_todo[g]
        files_g = slice_files[g::groups]
        t_slice = time.monotonic()
        if files_g:
            _clear_partitions(
                spark, vio_dir, [f"rule_id={r}/bucket_group={g}" for r in rids_g]
            )
            docs_g = spark.read.schema(documents.schema).parquet(*files_g)
            # doc-local rules never read entity columns (guarded by
            # tests/test_streaming.py split-invariance), so the slice
            # context skips the dereference join — each slice plan is
            # shuffle-free
            ctx_g = engine.make_context(
                spark,
                docs_g,
                attrs=attrs,
                cache=not args.no_cache,
                ignore_error=args.ignore_error,
                resolve_entity=False,
            )
            engine.run_rules(ctx_g, rids_g).withColumn(
                "bucket_group", F.lit(g)
            ).write.mode("overwrite").partitionBy("rule_id", "bucket_group").parquet(
                vio_dir
            )
            if not args.no_cache:
                ctx_g.docs.unpersist()
                ctx_g.spans.unpersist()
        # (an empty file group — more groups than files — has nothing to
        # validate and is marked complete directly)
        # mark AFTER the slice's write committed: a crash between write
        # and mark just recomputes the slice (idempotent, see docstring)
        ledger.mark(
            local_frame(spark, [(r, g) for r in rids_g], "rule_id STRING, partition_id INT")
        )
        slice_rows.append((g, len(files_g), round(time.monotonic() - t_slice, 3)))

    total_secs = round(time.monotonic() - t_run, 3)

    try:
        violations = spark.read.parquet(vio_dir)
    except Exception:
        # a fully clean corpus writes no partition at all — schema
        # inference has nothing to read; the run is simply violation-free
        violations = engine.empty_violations(spark)
    # --ignore-error quarantine rows are audit data, not violations: the
    # reference's --ignore-error (validator.py:46-55) records nothing for
    # a crashed glyph, so counting them would flip bucket verdicts
    verdicts = engine.partition_verdicts(
        ctx.docs, violations.where(F.col("errcode") != "__error__"),
        n_buckets=args.n_buckets,
        run_id=args.run_id or snapshot,
    )
    verdicts.write.mode("overwrite").parquet(f"{out}/verdicts")
    if args.sample:
        from gwv_spark import triage

        triage.sample_violations(
            violations.where(F.col("errcode") != "__error__"), k=args.sample
        ).write.mode("overwrite").parquet(f"{out}/violations_sample")
    if recomputed:
        # run-metrics table (north rule: checkpoint + lineage + METRICS):
        # one row per recomputed rule — wall seconds of the rule's own
        # write (NULL for a rule written only in --bucket-groups slices)
        # and the violation count read back from the committed output.
        # Appended, keyed by run_id + snapshot, so reruns/resumes
        # accumulate an audit trail.
        counts = {
            r["rule_id"]: r["n"]
            for r in violations.where(F.col("rule_id").isin(recomputed))
            .groupBy("rule_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        run_id = args.run_id or snapshot
        # the run total goes in its own column: rule writes overlap, so
        # summing wall_s across rows overcounts the run
        metrics = local_frame(
            spark,
            [
                (
                    run_id,
                    snapshot,
                    rid,
                    rule_secs.get(rid),
                    total_secs,
                    rule_secs.get(rid) is not None,
                    int(counts.get(rid, 0)),
                )
                for rid in recomputed
            ],
            "run_id STRING, snapshot STRING, rule_id STRING, "
            "wall_s DOUBLE, run_total_s DOUBLE, per_rule_timing BOOLEAN, "
            "n_violations BIGINT",
        )
        metrics.write.mode("append").parquet(f"{out}/metrics")
    if slice_rows:
        # per-slice metrics (north rule: per-PARTITION lineage + metrics):
        # one row per committed slice — wall seconds of the slice's fused
        # action, its file count, and the violation count read back from
        # the committed slice partitions.  Appended like the rule metrics.
        run_id = args.run_id or snapshot
        slice_counts = {
            r["bucket_group"]: r["n"]
            for r in violations.where(F.col("bucket_group") >= 0)
            .groupBy("bucket_group")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        local_frame(
            spark,
            [
                (run_id, snapshot, g, n_files, wall, int(slice_counts.get(g, 0)))
                for (g, n_files, wall) in slice_rows
            ],
            "run_id STRING, snapshot STRING, bucket_group INT, "
            "n_files INT, wall_s DOUBLE, n_violations BIGINT",
        ).write.mode("append").parquet(f"{out}/slice_metrics")
    if scoped:
        # whole-corpus rules carry the -1 sentinel; slice marks were
        # already written as each slice committed
        ledger.mark(
            local_frame(spark, [(rid, -1) for rid in scoped], "rule_id STRING, partition_id INT")
        )
    ctx.docs.unpersist()
    ctx.spans.unpersist()
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main()
