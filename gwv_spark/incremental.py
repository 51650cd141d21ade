"""Incremental batch validation over snapshot appends (``job.py
--incremental``).

At the north rule's 10^12-document design point a full validation pass
is hours of executor time, and the steady state of a monitoring
deployment is APPEND: each landing drop adds files to the corpus and
mints a new snapshot.  Recomputing the whole corpus per append — what
``--resume`` correctly does in the classic job, because a new snapshot
has no metrics rows yet — wastes ~90% of that work on documents whose
verdicts cannot have changed.  This module makes the append the unit of
work:

- **Document-local rules** (streaming.DOC_LOCAL_RULES — violations
  provably depend only on the document's own columns, the
  split-invariance property tested in tests/test_streaming.py):
  validate ONLY the appended files (snapshot-manifest diff,
  catalog.commit_snapshot/snapshots) and keep prior epochs' violations
  in place.  Violations are hive-partitioned by
  ``rule_id=<r>/epoch=<snapshot>``: each epoch's partition holds the
  delta discovered at that snapshot, their union is the full set, and
  dynamic partition overwrite of the current epoch makes a retried
  append idempotent — the same exactly-once argument as the streaming
  sink (streaming.py epoch partitions).  An epoch whose snapshot the
  runs log never committed (an append that died before its runs row)
  is deleted before the next delta write, which covers its documents
  again.

- **Referential rules** (delquote/delvar — pure existence checks,
  reference delquote.py:22-30 / delvar.py:30-44): maintained by a
  RETRACTION FOLD over a persisted state table — the one incremental RI
  algorithm, also driven per microbatch by the streaming RI tier
  (streaming.start_ri_stream).  ``ri_state`` holds the outstanding
  dangling-reference cores (rule_id, doc_id, key, part_full) — the
  violation row PLUS its join key, so no stored row ever needs
  re-parsing.  One step (:func:`ri_fold_step`) over the arrived docs:

      retracts = state_prev  SEMI  broadcast(arrived keys)
      kept     = state_prev  ANTI  broadcast(arrived keys)
      step1    = probes(arrived docs)  ANTI  broadcast(arrived keys)
      matched  = known_keys  SEMI  broadcast(step1 keys)
      adds     = step1  ANTI  broadcast(matched)
                 (delquote deduped against state_prev per probe contract)
      state    = kept ∪ adds

  Append-only input means keys are never removed, so a kept row stays
  dangling without re-checking; the ONE corpus-scale scan (`matched`)
  is a column-pruned map-side pass over doc_id with a broadcast-tiny
  build side — no corpus shuffle anywhere in the fold, versus the full
  run's corpus-wide anti join.  The fold's violations replace the RI
  rules' whole partition set (their current epoch holds the COMPLETE
  set), and the shaped rows go through the rules' own
  ``shape_missing`` projections so the two paths cannot drift.

- **Remaining corpus-scoped rules** (alias dereference, corpus
  existence probes, global aggregations — j, ucsalias, mustrenew, …):
  recomputed over the full corpus, complete set under the current
  epoch.  Their verdicts genuinely depend on every document; they are
  also the cheap minority of the suite (the geometry-heavy rules are
  all document-local).

Row-identity with a from-scratch run is asserted both ways
(tests/test_incremental.py exceptAll) across multi-append chains that
include resolve-by-append and new-dangling-by-append cases.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gwv_spark.session import local_frame

RI_RULES = ["delquote", "delvar"]

RI_STATE_DDL = "rule_id STRING, doc_id STRING, key STRING, part_full STRING"
RI_STATE_COLS = ["rule_id", "doc_id", "key", "part_full"]

RUNS_DDL = "snapshot STRING, ts DOUBLE, rules STRING"


# ------------------------------------------------------------- RI cores


def ri_probes(docs: DataFrame) -> DataFrame:
    """RI probe rows WITH their join key (RI_STATE_COLS) for the raw
    documents ``docs`` (doc_id, spans): one row per outstanding-candidate
    reference.

    The rows come from the rules' own probes (delquote.quote_probe,
    delvar.variant_probe), evaluated over a context holding only the
    columns they read — doc_id + category, and the exploded part spans —
    so no full context (derive.prepare) is built per step.  Both probes
    read only the document's own columns, so evaluating them over some
    documents yields exactly those documents' probe rows."""
    from gwv_spark import derive, parse
    from gwv_spark.rules import RuleContext
    from gwv_spark.rules.delquote import quote_probe
    from gwv_spark.rules.delvar import variant_probe

    ctx = RuleContext(
        spark=docs.sparkSession,
        docs=docs.select("doc_id", derive.category(F.col("doc_id")).alias("category")),
        spans=docs.select("doc_id", F.explode("spans").alias("s")).select(
            "doc_id",
            "s.kind",
            "s.media_ref",
            parse.part_name_full(F.col("s.text")).alias("part_full"),
        ),
    )
    dq = quote_probe(ctx).select(
        F.lit("delquote").alias("rule_id"),
        "doc_id",
        F.col("part_base").alias("key"),
        "part_full",
    )
    dv = variant_probe(ctx).select(
        F.lit("delvar").alias("rule_id"),
        "doc_id",
        F.col("base").alias("key"),
        F.lit(None).cast("string").alias("part_full"),
    )
    return dq.unionByName(dv)


def ri_cores_full(docs: DataFrame) -> DataFrame:
    """Initial state: every probe whose key is absent from the corpus —
    the same corpus-wide anti join the batch rules run (this is the
    ONE full-cost RI evaluation; every subsequent append folds)."""
    catalog = docs.select(F.col("doc_id").alias("key"))
    return ri_probes(docs).join(catalog, "key", "left_anti")


def ri_fold_step(
    state_prev: DataFrame, docs_delta: DataFrame, known_keys: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One step of the retraction fold (module docstring) over the raw
    documents ``docs_delta`` that arrived after ``state_prev``.

    ``known_keys`` (column ``key``) holds the doc_ids known before or
    with the arrival — scanned once, map-side, against a broadcast of the
    arrival's unresolved probe keys.  Returns ``(kept, adds, retracts)``:
    the next state is ``kept ∪ adds``; ``retracts`` are the state rows
    the arrival resolved."""
    # broadcast build sides keep duplicate keys: a semi/anti join does
    # not care, and a distinct would cost its own shuffle stage
    delta_keys = F.broadcast(docs_delta.select(F.col("doc_id").alias("key")))
    # retraction: an arrived doc resolves every outstanding reference
    # to its id
    retracts = state_prev.join(delta_keys, "key", "left_semi")
    kept = state_prev.join(delta_keys, "key", "left_anti")
    # a key defined in the same arrival wins
    step1 = ri_probes(docs_delta).join(delta_keys, "key", "left_anti")
    # the corpus-scale step: which of the (tiny) candidate keys exist?
    # semi join with the small side BROADCAST => one column-pruned
    # map-side scan of known_keys, zero shuffle of the big side
    cand_keys = step1.select("key")
    matched = known_keys.join(F.broadcast(cand_keys), "key", "left_semi")
    fresh = step1.join(F.broadcast(matched), "key", "left_anti")
    # quote_probe dedups (doc_id, part_full) corpus-wide; a doc row
    # arriving again must not double its quote violation.  delvar has
    # no such dedup (one probe per doc ROW), matching the full rule.
    quoted = state_prev.where(F.col("rule_id") == "delquote").select(
        "doc_id", "part_full"
    )
    dq = fresh.where(F.col("rule_id") == "delquote").join(
        quoted, ["doc_id", "part_full"], "left_anti"
    )
    dv = fresh.where(F.col("rule_id") == "delvar")
    adds = dq.select(*RI_STATE_COLS).unionByName(dv.select(*RI_STATE_COLS))
    return kept.select(*RI_STATE_COLS), adds, retracts.select(*RI_STATE_COLS)


def prune_ri_state(spark: SparkSession, state_dir: str, keep: set[str]) -> None:
    """Delete every epoch under ``state_dir`` except the ones named in
    ``keep`` (directory names: the epoch a fold step read and the one it
    wrote).  Run only after the step committed, so a retried step still
    finds the epoch it reads.  Hidden (``_``/``.``) entries are left
    alone."""
    fs, jvm = _fs(spark, state_dir)
    root = jvm.org.apache.hadoop.fs.Path(state_dir)
    if not fs.exists(root):
        return
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name not in keep and not name.startswith(("_", ".")):
            fs.delete(st.getPath(), True)


def shape_ri_state(state: DataFrame) -> DataFrame:
    """Project state rows onto the violations schema through the RI
    rules' OWN shape projections (delquote.shape_missing /
    delvar.shape_missing) — identical columns to the batch rules."""
    from gwv_spark.rules import delquote as dq_rule
    from gwv_spark.rules import delvar as dv_rule

    dq = dq_rule.shape_missing(
        state.where(F.col("rule_id") == "delquote").select("doc_id", "part_full")
    )
    dv = dv_rule.shape_missing(
        state.where(F.col("rule_id") == "delvar").select(
            "doc_id", F.col("key").alias("base")
        )
    )
    return dq.unionByName(dv)


# ------------------------------------------------------------- runs log


def record_run(spark: SparkSession, out: str, snapshot: str, rule_ids: list[str]) -> None:
    """Append one completed-run row.  The LAST row (by wall time) names
    the snapshot the next append diffs against and the rules whose
    prior epochs are trustworthy."""
    local_frame(
        spark,
        [(snapshot, float(time.time()), ",".join(sorted(rule_ids)))],
        RUNS_DDL,
    ).coalesce(1).write.mode("append").parquet(f"{out}/runs")


def last_run(spark: SparkSession, out: str) -> dict | None:
    """The last runs row — its snapshot and rules — plus every snapshot
    the log ever committed; None before the first run.  An unreadable
    log raises (job.read_committed): read as empty, it would
    re-baseline the whole output dir."""
    from gwv_spark.job import read_committed

    rows = read_committed(spark, f"{out}/runs", RUNS_DDL).collect()
    if not rows:
        return None
    r = max(rows, key=lambda r: r["ts"])
    return {
        "snapshot": r["snapshot"],
        "rules": set(r["rules"].split(",")),
        "committed": {x["snapshot"] for x in rows},
    }


# ------------------------------------------------------------- fs helpers


def _fs(spark: SparkSession, base: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(base)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _epoch_value(snapshot: str) -> str:
    """Partition value for a snapshot epoch.  The 's' prefix keeps
    partition-column type inference on STRING: an all-digit hex
    snapshot id would otherwise infer LONG for that epoch and STRING
    for mixed ones — a schema-merge failure waiting for the unlucky
    fingerprint."""
    return f"s{snapshot}"


def _clear_epochs(
    spark: SparkSession, vio_dir: str, rule_ids: list[str], keep: set[str] = frozenset()
) -> None:
    """Delete every epoch of the given rules except those of the
    snapshots in ``keep`` — by default all of them, before a COMPLETE
    set (RI fold, corpus-scoped or full recompute) is written under the
    current epoch."""
    fs, jvm = _fs(spark, vio_dir)
    names = {f"epoch={_epoch_value(s)}" for s in keep}
    for rid in rule_ids:
        p = jvm.org.apache.hadoop.fs.Path(f"{vio_dir}/rule_id={rid}")
        if not fs.exists(p):
            continue
        if not keep:
            fs.delete(p, True)
            continue
        for st in fs.listStatus(p):
            if st.getPath().getName() not in names:
                fs.delete(st.getPath(), True)


# ------------------------------------------------------------- lifecycle


def run(args, spark: SparkSession) -> None:
    """The --incremental lifecycle (dispatched from job.main).

    First run on an output dir = the full-cost baseline (every rule
    over the whole corpus, RI state initialized); every later run
    validates the manifest diff as described in the module docstring.
    Non-append changes (removed/rewritten files — e.g. a compaction)
    fail fast with instructions, never silently validate a diff that
    isn't one."""
    from gwv_spark import catalog
    from gwv_spark.job import begin_run, finish_run
    from gwv_spark.streaming import DOC_LOCAL_RULES

    if args.as_of:
        raise SystemExit("--incremental validates the CURRENT snapshot; drop --as-of")
    if catalog.is_table_ref(args.input):
        # manifest diffs and the append-only fingerprint guard ride the
        # parquet-surrogate snapshot manifests; on real Iceberg the same
        # lifecycle reads the catalog's own snapshot log (incremental
        # reads = snapshot diff scans) — not available in this sandbox
        raise SystemExit(
            "--incremental requires a parquet path input (snapshot "
            "manifests); table refs need the Iceberg runtime"
        )

    out = args.output.rstrip("/")
    snapshot = catalog.commit_snapshot(spark, args.input)
    documents = catalog.load_snapshot(spark, args.input, snapshot)
    attrs = spark.read.parquet(args.attrs) if args.attrs else None
    rule_ids, done = begin_run(spark, args, snapshot)

    local = [r for r in rule_ids if r in DOC_LOCAL_RULES]
    ri = [r for r in rule_ids if r in RI_RULES]
    scoped = [r for r in rule_ids if r not in local and r not in ri]

    prev = last_run(spark, out)
    vio_dir = f"{out}/violations"
    t_run = time.monotonic()
    timings: dict[str, float] = {}

    if prev is None:
        _initial_run(
            spark, args, out, snapshot, documents, attrs,
            local, ri, scoped, done, vio_dir, timings,
        )
        covered_now, need_record = set(rule_ids), True
        evaluated = set(rule_ids)
    elif prev["snapshot"] == snapshot:
        # nothing appended since the last run: idempotent no-op for
        # rules the prior chain computed.  A rule NEW to the chain was
        # never evaluated — silently marking it complete would
        # fabricate a clean verdict — so the new rules (and only they)
        # get a full evaluation at this snapshot, the same machinery as
        # an initial run restricted to them.
        unc = [r for r in rule_ids if r not in prev["rules"]]
        if unc:
            _initial_run(
                spark, args, out, snapshot, documents, attrs,
                [r for r in unc if r in local],
                [r for r in unc if r in ri],
                [r for r in unc if r in scoped],
                done, vio_dir, timings,
            )
        covered_now = prev["rules"] | set(rule_ids)
        need_record = bool(unc)
        evaluated = set(unc)
    else:
        _append_run(
            spark, args, out, snapshot, prev, documents, attrs,
            local, ri, scoped, done, vio_dir, timings,
        )
        # rules in the prior coverage NOT requested this run missed
        # this append — they drop out of coverage (their chain breaks),
        # and their on-disk epochs are now append-UNAWARE: presenting
        # them through the verdicts rollup as current state would be
        # WRONG (a resolved dangling ref still shown as a violation),
        # not merely old.  The surface contract is "the output dir
        # holds maintained results"; a dropped rule's results are
        # removed with its coverage — re-requesting the rule later
        # triggers the full re-evaluation path above.
        dropped = sorted(prev["rules"] - set(rule_ids))
        if dropped:
            _clear_epochs(spark, vio_dir, dropped)
        covered_now, need_record = set(rule_ids), True
        evaluated = set(rule_ids)

    # metrics only for rules this run actually evaluated (initial/
    # append: all requested; same-snapshot: the new rules) — a pure
    # no-op rerun must not append metrics rows for work it did not do
    computed = [r for r in rule_ids if r not in done and r in evaluated]
    finish_run(
        spark, args, snapshot, documents.select("doc_id"), computed, {},
        round(time.monotonic() - t_run, 3),
    )
    # component timings (r4 verdict #5's decomposition, incremental
    # form): rule/fold work separated from the per-run commit machinery
    # (snapshot fingerprint + manifest, layout, verdicts rollup,
    # metrics).  At test SF the machinery dominates an append's
    # wall time; at the design point it is the amortized constant and
    # the delta work is the bill — recording both per run keeps the
    # two from masquerading as each other.
    if timings:
        local_frame(
            spark,
            [(snapshot, k, v) for k, v in sorted(timings.items())],
            "snapshot STRING, component STRING, wall_s DOUBLE",
        ).coalesce(1).write.mode("append").parquet(f"{out}/component_timings")

    # the runs row is the LAST write: its presence certifies every
    # surface above committed for this snapshot, so a crash anywhere
    # earlier makes the next run redo this snapshot idempotently.
    # Coverage after an APPEND is exactly this run's rule set, never a
    # union with prior runs: a doc-local rule left out of one append
    # misses that append's delta forever after, so continuity only
    # holds for rules processed by EVERY run in the chain (a dropped
    # rule re-entering the chain is detected and fully re-evaluated).
    # On a SAME-SNAPSHOT run the prior rules stay current (no new
    # data), so coverage there is the union.
    if need_record:
        record_run(spark, out, snapshot, sorted(covered_now))
        # committed: the next append folds from this snapshot's state,
        # so only it and the epoch this run read stay on disk
        keep = {f"epoch={snapshot}"} | ({f"epoch={prev['snapshot']}"} if prev else set())
        prune_ri_state(spark, f"{out}/ri_state", keep)


def _write_epoch(vio: DataFrame, vio_dir: str, epoch: str) -> None:
    """Dynamic-partition-overwrite the violations into
    rule_id=<r>/epoch=<sid> partitions (retry-idempotent)."""
    vio.withColumn("epoch", F.lit(_epoch_value(epoch))).write.mode(
        "overwrite"
    ).partitionBy("rule_id", "epoch").parquet(vio_dir)


def _initial_run(
    spark, args, out, snapshot, documents, attrs,
    local, ri, scoped, done, vio_dir, timings,
) -> None:
    """Full-corpus baseline: all rules, RI state initialized.  One
    fused action for local+scoped; the RI anti join runs ONCE (writing
    the state), and the rules' violations are shaped from the
    state read-back, never recomputed."""
    from gwv_spark import engine

    local = [r for r in local if r not in done]
    ri = [r for r in ri if r not in done]
    scoped = [r for r in scoped if r not in done]
    ctx = engine.make_context(
        spark, documents, attrs=attrs,
        cache=bool(scoped),
        ignore_error=args.ignore_error,
        resolve_entity=bool(scoped),
    )
    if ri:
        t0 = time.monotonic()
        ri_cores_full(documents).write.mode("overwrite").parquet(
            f"{out}/ri_state/epoch={snapshot}"
        )
        state = spark.read.parquet(f"{out}/ri_state/epoch={snapshot}")
        shaped = shape_ri_state(state)
        for rid in ri:
            ctx.plan_cache[rid] = shaped.where(F.col("rule_id") == rid)
        timings["__ri_state__"] = round(time.monotonic() - t0, 3)
    todo = local + scoped + ri
    if todo:
        # ALL epochs cleared, not just the current one: this path also
        # serves a rule RE-ENTERING the chain (called from _append_run /
        # the same-snapshot branch), which may carry stale epochs from
        # before its chain broke — the full evaluation below is the
        # complete set
        _clear_epochs(spark, vio_dir, todo)
        t0 = time.monotonic()
        _write_epoch(engine.run_rules(ctx, todo), vio_dir, snapshot)
        timings["__rules__"] = round(time.monotonic() - t0, 3)
    if scoped:
        ctx.docs.unpersist()
        ctx.spans.unpersist()


def _append_run(
    spark, args, out, snapshot, prev, documents, attrs,
    local, ri, scoped, done, vio_dir, timings,
) -> None:
    from gwv_spark import catalog, engine

    # manifest diff — the unit of incremental work
    prev_files = None
    for rec in catalog.snapshots(args.input):
        if rec["snapshot_id"] == prev["snapshot"]:
            prev_files = set(rec["files"])
    if prev_files is None:
        raise SystemExit(
            f"prior run snapshot {prev['snapshot']} has no manifest under "
            f"{args.input}; run a fresh full validation (new output dir)"
        )
    new_files = set(documents.inputFiles())
    # inputFiles returns URIs (file:///...); manifests store plain paths
    norm = lambda f: f[7:] if f.startswith("file://") else f  # noqa: E731
    new_files = {norm(f) for f in new_files}
    prev_files = {norm(f) for f in prev_files}
    removed = prev_files - new_files
    if removed:
        raise SystemExit(
            f"{len(removed)} file(s) from the prior snapshot are gone "
            f"(e.g. {sorted(removed)[0]}) — not an append; incremental "
            "folds are only sound over append-only input.  Run a full "
            "validation (fresh output dir or classic job)."
        )
    # same names is not enough: an in-place rewrite (compaction, manual
    # fix-up) keeps the path but changes content.  Hash the prior
    # manifest's files AS THEY EXIST NOW — equality with the prior
    # snapshot id proves the pre-append corpus is untouched.
    if catalog.fingerprint_files(prev_files) != prev["snapshot"]:
        raise SystemExit(
            "prior snapshot's files were modified in place (fingerprint "
            "mismatch) — not an append; run a full validation"
        )
    delta_files = sorted(new_files - prev_files)

    # Chain continuity decides the cheap path per rule; a rule OUTSIDE
    # the chain gets a full re-evaluation instead of a refusal:
    # - doc-local: delta-union is only complete when every run in the
    #   chain processed the rule (prev["rules"] is exactly the last
    #   run's set) — a rule new to or re-entering the chain recomputes
    #   over the full corpus, complete set under the current epoch.
    # - RI: the state table always carries BOTH rules' cores (the fold
    #   evaluates both probes regardless of the requested subset), so
    #   currency is a property of the state itself: the fold is sound
    #   iff a state epoch exists for the PREVIOUS snapshot.  Absent
    #   (RI never run, or skipped across an append) -> initialize
    #   fresh from the full corpus.
    fresh_local = [r for r in local if r not in prev["rules"] and r not in done]
    # An epoch of a snapshot the runs log never committed was written by
    # an append that died before record_run; this append's delta covers
    # its documents again, so it goes.  A rule a --resume skips keeps the
    # current epoch (it wrote it before the crash); a rule recomputed
    # here loses that too — the truncate half of truncate-and-load, as a
    # recompute that finds ZERO violations overwrites no partition.
    _clear_epochs(
        spark, vio_dir, [r for r in local if r in done], prev["committed"] | {snapshot}
    )
    local = [r for r in local if r in prev["rules"] and r not in done]
    _clear_epochs(spark, vio_dir, local, prev["committed"])
    ri = [r for r in ri if r not in done]
    state_fs, state_jvm = _fs(spark, out)
    state_current = state_fs.exists(
        state_jvm.org.apache.hadoop.fs.Path(
            f"{out}/ri_state/epoch={prev['snapshot']}"
        )
    )
    ri_fold, ri_init = (ri, []) if state_current else ([], ri)
    scoped = [r for r in scoped if r not in done]

    if fresh_local or ri_init:
        _initial_run(
            spark, args, out, snapshot, documents, attrs,
            fresh_local, ri_init, [], done, vio_dir, timings,
        )
    ri = ri_fold

    if delta_files and (local or ri):
        docs_delta = spark.read.schema(documents.schema).parquet(*delta_files)
        if local:
            t0 = time.monotonic()
            ctx_delta = engine.make_context(
                spark, docs_delta, attrs=attrs, cache=False,
                ignore_error=args.ignore_error, resolve_entity=False,
            )
            _write_epoch(engine.run_rules(ctx_delta, local), vio_dir, snapshot)
            timings["__local_delta__"] = round(time.monotonic() - t0, 3)
        if ri:
            t0 = time.monotonic()
            state_prev = spark.read.parquet(
                f"{out}/ri_state/epoch={prev['snapshot']}"
            )
            corpus_keys = documents.select(F.col("doc_id").alias("key"))
            kept, adds, _ = ri_fold_step(state_prev, docs_delta, corpus_keys)
            kept.unionByName(adds).write.mode("overwrite").parquet(
                f"{out}/ri_state/epoch={snapshot}"
            )
            state = spark.read.parquet(f"{out}/ri_state/epoch={snapshot}")
            # the fold result is the COMPLETE set: it replaces every
            # prior epoch of the RI rules
            _clear_epochs(spark, vio_dir, ri)
            _write_epoch(
                shape_ri_state(state).where(F.col("rule_id").isin(ri)),
                vio_dir,
                snapshot,
            )
            timings["__ri_fold__"] = round(time.monotonic() - t0, 3)
    # (delta_files is never empty here: the same-snapshot case is
    # handled by the caller, removals/rewrites fail fast above, so a
    # differing fingerprint implies new files)

    if scoped:
        # corpus-scoped non-RI rules: full recompute (their verdicts
        # read every document), complete set under the current epoch
        t0 = time.monotonic()
        ctx = engine.make_context(
            spark, documents, attrs=attrs, cache=True,
            ignore_error=args.ignore_error, resolve_entity=True,
        )
        _clear_epochs(spark, vio_dir, scoped)
        _write_epoch(engine.run_rules(ctx, scoped), vio_dir, snapshot)
        timings["__scoped_full__"] = round(time.monotonic() - t0, 3)
        ctx.docs.unpersist()
        ctx.spans.unpersist()
