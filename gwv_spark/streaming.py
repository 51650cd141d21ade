"""Structured Streaming tier: low-latency validation of newly-landed
document files, plus watermarked streaming rollups.

Two-tier architecture for a corpus that grows continuously:

- **Stream tier (this module)** — the DOCUMENT-LOCAL rules: rules whose
  verdict depends only on the document's own columns plus static config
  dims (:data:`DOC_LOCAL_RULES`).  They run per microbatch through
  ``foreachBatch`` over a checkpointed file source, so each landed file
  is validated exactly once and violations stream out minutes after
  arrival instead of at the next full-corpus run.  This tier carries the
  geometry-heavy rules (corner, dup, illegal) — the bulk of per-doc CPU.
- **Batch tier** — the CORPUS-SCOPED rules (referential checks such as
  delquote/delvar, corpus-existence probes such as j/ucsalias, global
  aggregations such as mustrenew, and width's ``-halfwidth`` existence
  probe).  Their verdicts change when OTHER documents arrive, so
  per-batch evaluation would be semantically wrong; they run through the
  resumable snapshot job (``gwv_spark.job --resume``), whose
  incremental-append lifecycle is tested in tests/test_job.py.
- **Incremental RI tier** (:func:`stream_ri_monitor`) — the two
  referential rules that are pure existence checks (delquote, delvar)
  ALSO have a low-latency streaming form: stateful incremental
  maintenance with retractions, so dangling-reference violations appear
  on arrival and disappear the moment the referenced document lands,
  without rescanning the corpus.  The batch tier remains authoritative
  per snapshot; the RI tier is its constantly-current companion.
- **Sketch tier** (:func:`stream_sketch_store`) — column-stats
  maintenance on arrival: each epoch's files are sketched into the
  mergeable HLL + t-digest store (gwv_spark.sketchstore), so full-table
  stats stay current at the cost of the arrived files' scan; the
  checkpoint's file index does the bookkeeping sketch_job's file diff
  does in batch mode.

Doc-locality is a semantic property, not a guess:
tests/test_streaming.py::test_doc_local_rules_are_split_invariant runs
every rule on a corpus split into independent halves and asserts the
listed rules produce identical violations to the whole-corpus run
(corpus-scoped rules demonstrably fail this property — delquote's
missing-part check, for example, flags parts whose definition sits in
the other half).

At 10^12-doc scale this is the shape you want: the stream tier is
embarrassingly parallel (no shuffle at all — every doc-local rule plan
is a narrow map over the microbatch, `.explain` shows one
WholeStageCodegen + the two Arrow UDF stages), while the batch tier
amortizes its corpus-wide shuffles across a snapshot.

Reference anchor: the reference validates a full dump per run
(gwv.py:19-44); the stream tier is the "validate on save" mode its
users approximate by re-running gwv on edit, made exactly-once and
incremental.
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gwv_spark import engine
from gwv_spark.rules import load_all_rules
from gwv_spark.session import local_frame

# Documents-table shape (BASELINE.json input_hint; corpus.spark_generate).
# ``related``/``ts`` are optional attributes — the stream only requires
# doc_id + spans, same as engine.make_context.
DOCS_SCHEMA = (
    "doc_id STRING, related STRING, ts DOUBLE, "
    "spans ARRAY<STRUCT<kind: STRING, text: STRING, "
    "media_ref: STRING, offset: INT>>"
)

# Rules whose violations depend only on the document's own columns plus
# static config dims.  Guarded by
# tests/test_streaming.py::test_doc_local_rules_are_split_invariant.
# Deliberately NOT here despite passing the split test on some corpora
# (locality must hold by construction, not by luck):
#   related/ids/mj/j — dereference alias entities (cross-doc join);
#   width — probes corpus existence of '<part>-halfwidth' names.
DOC_LOCAL_RULES = [
    "corner", "illegal", "skew", "dup", "naming", "order", "numexp",
]

CORPUS_SCOPED_RULES = [
    "related", "donotuse", "kosekitoki", "mj", "ucsalias", "ids",
    "delquote", "delvar", "mustrenew", "j", "width",
]


def read_document_stream(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory of document parquet
    files.  The checkpoint's file index provides exactly-once per-file
    processing; ``maxFilesPerTrigger`` bounds microbatch size so one
    giant backfill drop cannot produce an executor-OOM-sized batch."""
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(input_path)


def validate_stream(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    rule_ids: list[str] | None = None,
    ignore_error: bool = False,
    available_now: bool = True,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
    n_buckets: int = 256,
    allow_corpus_scoped: bool = False,
):
    """Start the streaming validation query; returns the StreamingQuery.

    Per microbatch (foreachBatch — the rule plans need the whole batch
    for their groupBys and Arrow UDFs).  Every sink is partitioned by
    ``epoch_id`` and written with DYNAMIC partition overwrite, which is
    what makes the pipeline end-to-end exactly-once: the checkpoint's
    file index guarantees each landed file maps to exactly one epoch,
    and a retried epoch (batch failed after a partial write, before the
    checkpoint committed) OVERWRITES its own epoch partitions instead of
    appending duplicates — a plain ``append`` here would only be
    at-least-once.  (Sound because the rule plans are deterministic over
    the epoch's fixed file set, so a retry reproduces the same rows.)

    - violations → ``<output>/violations/epoch_id=<n>/rule_id=<id>/``
      (same schema as the batch job's sink plus the epoch — a reader
      unions both tiers' directories);
    - per-(bucket, rule) verdicts for the batch's docs →
      ``<output>/verdicts/epoch_id=<n>/`` (run_id = ``epoch=<n>``);
    - one metrics row per epoch → ``<output>/metrics/epoch_id=<n>/``
      (lineage: which epoch validated how many docs, how long it took).

    ``available_now=True`` drains everything not yet processed and stops
    — the incremental-batch shape (cron-style catch-up).  With
    ``processing_time`` it runs continuously.  Corpus-scoped rules are
    rejected unless ``allow_corpus_scoped=True`` (their per-batch result
    is relative to the batch, not the corpus — useful only for smoke
    tests, so the misuse is an explicit opt-in, not a silent semantics
    change)."""
    load_all_rules()
    rids = list(rule_ids) if rule_ids is not None else list(DOC_LOCAL_RULES)
    if not allow_corpus_scoped:
        scoped = [r for r in rids if r not in DOC_LOCAL_RULES]
        if scoped:
            raise ValueError(
                f"corpus-scoped rules {scoped} are exact only over the whole "
                "corpus — run them through gwv_spark.job --resume, or pass "
                "allow_corpus_scoped=True if per-batch semantics are intended"
            )
    out = str(output_dir).rstrip("/")

    # doc-local rules never read the entity columns, so the microbatch
    # context skips the alias-dereference self join — the validation
    # plans are then shuffle-free narrow maps over the landed files
    # (only the verdict rollup still aggregates, by bucket).  With the
    # corpus-scoped opt-in the join is kept.
    all_local = all(r in DOC_LOCAL_RULES for r in rids)
    _process_batch = make_batch_processor(
        spark, out, rids,
        ignore_error=ignore_error,
        n_buckets=n_buckets,
        resolve_entity=not all_local,
    )

    stream = read_document_stream(spark, input_path, max_files_per_trigger)
    writer = (
        stream.writeStream.foreachBatch(_process_batch)
        .option("checkpointLocation", f"{out}/_checkpoint")
        .queryName("gwv-validate-stream")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def make_batch_processor(
    spark: SparkSession,
    out: str,
    rids: list[str],
    ignore_error: bool = False,
    n_buckets: int = 256,
    resolve_entity: bool = True,
):
    """The foreachBatch body of :func:`validate_stream`, exposed so the
    epoch-retry idempotency property is directly testable: calling the
    returned function twice with the SAME (batch, epoch_id) — what Spark
    does when an epoch fails after a partial sink write and is retried
    from the checkpoint — must leave the sinks exactly as one call
    would."""

    def _process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        t0 = time.monotonic()
        ctx = engine.make_context(
            spark, batch_df, cache=True, ignore_error=ignore_error,
            resolve_entity=resolve_entity,
        )
        try:
            v = (
                engine.run_rules(ctx, rids)
                .withColumn("epoch_id", F.lit(int(epoch_id)))
                .persist()
            )
            try:
                # mode=overwrite + dynamic partitionOverwriteMode: only
                # the partitions present in THIS epoch's output are
                # replaced — an epoch retry is idempotent, other epochs
                # untouched (exactly-once; see the docstring).
                (
                    v.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("epoch_id", "rule_id")
                    .parquet(f"{out}/violations")
                )
                run_id = f"epoch={int(epoch_id)}"
                verdicts = engine.partition_verdicts(
                    ctx.docs,
                    v.where(F.col("errcode") != "__error__"),
                    n_buckets=n_buckets,
                    run_id=run_id,
                ).withColumn("epoch_id", F.lit(int(epoch_id)))
                (
                    verdicts.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("epoch_id")
                    .parquet(f"{out}/verdicts")
                )
                n_docs = ctx.docs.count()  # cached — no recompute
                n_vio = v.count()
                metrics = local_frame(
                    spark,
                    [(run_id, int(epoch_id), n_docs, n_vio,
                      round(time.monotonic() - t0, 3))],
                    "run_id STRING, epoch_id BIGINT, n_docs BIGINT, "
                    "n_violations BIGINT, wall_s DOUBLE",
                )
                (
                    metrics.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("epoch_id")
                    .parquet(f"{out}/metrics")
                )
            finally:
                v.unpersist()
        finally:
            ctx.docs.unpersist()
            ctx.spans.unpersist()

    return _process_batch


def validate_stream_drain(spark: SparkSession, input_path: str,
                          output_dir: str, **kwargs) -> None:
    """Run validate_stream with availableNow and block until drained."""
    q = validate_stream(
        spark, input_path, output_dir, available_now=True, **kwargs
    )
    q.awaitTermination()


# ----------------------------------------------------- stateful drift
def stream_drift_monitor(
    spark: SparkSession,
    input_path: str,
    baseline: dict[tuple[str, str], float],
    eps: float = 1e-4,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: running distribution-drift
    (PSI) of the growing corpus against a baseline snapshot, updated
    every microbatch.

    Matches the batch pair stats.corpus_snapshot → stats.snapshot_psi
    over the histogram metrics (span_len_hist: docs per span count;
    kind_freq: spans per kind) — same buckets, same ε-smoothed
    natural-log PSI — but holds the corpus-so-far histogram as STREAM
    STATE instead of rescanning, so each update costs one pass over the
    new docs only.

    Scale shape: the stateful operator's STATE is bucket-grain (a
    histogram dict per metric), independent of stream length.  Its
    per-batch INPUT is doc-grain but two-narrow-string columns, reduced
    to bucket counts inside the Arrow batch loop (pandas value_counts)
    — with only two metric keys the reduce parallelism is 2, so at
    cluster scale you bound microbatch size with maxFilesPerTrigger, or
    salt the key into (metric, shard) and fold the shard histograms in a
    tiny downstream batch step.  ``baseline`` is a plain dict keyed by
    (metric, bucket) — dimension-sized (it is a histogram), closed over
    into the executors.

    Returns the streaming DataFrame of updates
    (metric, n_seen, psi) — one row per metric per microbatch;
    outputMode must be ``update`` (or foreachBatch append of the
    deltas)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    docs = read_document_stream(spark, input_path, max_files_per_trigger)
    span_len = docs.select(
        F.lit("span_len_hist").alias("metric"),
        F.size("spans").cast("string").alias("bucket"),
    )
    kind = docs.select(
        F.lit("kind_freq").alias("metric"),
        F.explode(F.col("spans.kind")).alias("bucket"),
    )
    rows = span_len.unionByName(kind)

    out_type = StructType(
        [
            StructField("metric", StringType()),
            StructField("n_seen", LongType()),
            StructField("psi", DoubleType()),
        ]
    )
    state_type = StructType(
        [
            StructField("buckets", StringType()),  # json {"bucket": n}
            StructField("n_seen", LongType()),
        ]
    )
    base_by_metric: dict[str, dict[str, float]] = {}
    for (m, b), n in baseline.items():
        base_by_metric.setdefault(m, {})[b] = float(n)

    def _update(key, pdf_iter, state):
        import json as _json

        metric = key[0]
        if state.exists:
            hist_json, n_seen = state.get
            hist = _json.loads(hist_json)
        else:
            hist, n_seen = {}, 0
        for pdf in pdf_iter:
            vc = pdf["bucket"].value_counts()
            n_seen += int(vc.sum())
            for b, n in vc.items():
                hist[b] = hist.get(b, 0) + int(n)
        state.update((_json.dumps(hist), n_seen))
        base = base_by_metric.get(metric, {})
        tot_cur = float(sum(hist.values())) or 1.0
        tot_base = float(sum(base.values())) or 1.0
        psi = 0.0
        import math

        for b in set(hist) | set(base):
            p = hist.get(b, 0) / tot_cur + eps
            q = base.get(b, 0.0) / tot_base + eps
            psi += (p - q) * math.log(p / q)
        yield pd.DataFrame(
            [{"metric": metric, "n_seen": n_seen, "psi": round(psi, 6)}]
        )

    return rows.groupBy("metric").applyInPandasWithState(
        _update, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )


def stream_drift_monitor_drain(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    baseline: dict[tuple[str, str], float],
    eps: float = 1e-4,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the drift monitor over the files currently present and
    return the per-epoch update log (epoch_id, metric, n_seen, psi) as a
    batch DataFrame.  The checkpoint carries the histogram state, so a
    later drain after new files continues from the accumulated
    distribution — the streaming analogue of gwv_corpus_drift_psi."""
    out = str(output_dir).rstrip("/")
    updates = stream_drift_monitor(
        spark, input_path, baseline, eps, max_files_per_trigger
    )

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        # epoch-keyed dynamic overwrite: retried epochs replace their own
        # partition instead of appending duplicates (same exactly-once
        # argument as validate_stream)
        (
            batch_df.withColumn("epoch_id", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(f"{out}/updates")
        )

    q = (
        updates.writeStream.foreachBatch(_write)
        .outputMode("update")
        .option("checkpointLocation", f"{out}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(f"{out}/updates")


# ------------------------------------------------- incremental RI tier
RI_UPDATE_SCHEMA = (
    "rule_id STRING, probe_key STRING, doc_id STRING, "
    "detail STRING, op STRING"
)

# The two referential rules whose verdict is a pure existence check
# (probe key ∈ doc_id catalog): delquote (reference delquote.py:22-30)
# and delvar (delvar.py:30-44).  kosekitoki is referential but compares
# entity VALUES, not existence, so it stays in the batch tier.
INCREMENTAL_RI_RULES = ["delquote", "delvar"]


def _ri_probe_rows(docs: DataFrame) -> DataFrame:
    """Doc-locally computable probe rows for the incremental RI rules:
    (rule_id, probe_key, doc_id, detail).

    - delquote: one probe per part quote — key = base name before '@'
      (the stored span.media_ref), detail = the full quoted name;
    - delvar: one probe per variant-named doc outside the skip
      categories — key = detail = the derived base (category is a pure
      function of doc_id, derive.category, so the gate is doc-local).

    Both extractors mirror the batch cores exactly
    (rules.delquote.missing_quotes / rules.delvar.missing_bases);
    tests/test_streaming.py asserts the equivalence per drop."""
    from gwv_spark import derive, parse
    from gwv_spark.rules import delvar as delvar_mod

    quotes = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "part")
        .select(
            F.lit("delquote").alias("rule_id"),
            F.col("s.media_ref").alias("probe_key"),
            "doc_id",
            parse.part_name_full(F.col("s.text")).alias("detail"),
        )
        .where(F.col("detail").isNotNull())
    )
    cat = derive.category(F.col("doc_id"))
    base = delvar_mod.derived_base(F.col("doc_id"))
    bases = (
        docs.select("doc_id", cat.alias("category"), base.alias("base"))
        .where(~F.col("category").isin(delvar_mod._SKIP_CATS))
        .where(F.col("base").isNotNull())
        .select(
            F.lit("delvar").alias("rule_id"),
            F.col("base").alias("probe_key"),
            "doc_id",
            F.col("base").alias("detail"),
        )
    )
    return quotes.unionByName(bases)


def stream_ri_monitor(
    spark: SparkSession,
    input_path: str,
    n_shards: int = 1,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental referential-integrity maintenance over the document
    stream: the streaming counterpart of the batch tier's anti-join RI
    rules (delquote, delvar), WITH RETRACTIONS.

    The batch tier's verdict for these rules can flip as other documents
    arrive — a quote of a part that lands later stops being a violation.
    Plain per-batch evaluation is therefore wrong (validate_stream
    rejects these rules); this operator instead maintains the RI state
    incrementally, emitting a change stream:

    - ``op='add'``    — a probe (quote / derived base) whose key is not
      (yet) a known doc_id: the violation appears;
    - ``op='retract'`` — a previously-dangling probe whose key just
      arrived as a document: the violation disappears.

    ``ri_outstanding`` folds the change stream into the current
    violation set, which equals the batch core over the corpus-so-far
    after every drain (tested per drop in tests/test_streaming.py).

    Shape: ``applyInPandasWithState`` keyed by ``(probe_key, shard)``
    — one state entry serves BOTH rules (pending probes carry their
    rule tag), because the dominant cost is the per-key Python
    invocation and definitions vastly outnumber probes.  Per key the
    state is a defined flag plus the pending (rule, doc_id, detail)
    probes awaiting a definition — i.e. exactly the rows a later
    retraction must re-emit, nothing more.  Definitions (each arriving
    doc_id) replicate to each shard of their key; probes route by
    ``hash(doc_id) % n_shards``.  The shard term exists for hot keys: a
    part quoted by 20% of all documents (the north rule's skew case)
    spreads its probe traffic over ``n_shards`` state partitions instead
    of one straggler task, at the bounded cost of (batch defs ×
    n_shards) replicated definition rows — batch-sized, never
    corpus-sized.  Sharded and unsharded runs emit the identical change
    stream (tested).

    State size is O(defined keys + dangling probes) — the
    streaming-materialized catalog, inherent to incremental RI (you must
    remember what exists).  Per-entry payload is a bool + the pending
    list; at cluster scale back it with the RocksDB state store
    provider.  Retried epochs replay against the checkpoint-rolled-back
    state version, so the epoch-keyed overwrite sink in
    :func:`stream_ri_drain` keeps the pipeline exactly-once end to end
    (same argument as validate_stream).

    Returns the streaming change DataFrame (RI_UPDATE_SCHEMA); output
    mode must be ``update``."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        StringType,
        StructField,
        StructType,
    )

    docs = read_document_stream(spark, input_path, max_files_per_trigger)
    # state is keyed by (probe_key, shard) — NOT per rule: the dominant
    # streaming cost is the per-key Python invocation of the state
    # function, and definitions (every arriving doc) vastly outnumber
    # probes, so folding both rules into one state entry (pending probes
    # carry their rule tag) halves the keys the executors must call into
    # Python for.
    probes = _ri_probe_rows(docs).select(
        "probe_key",
        F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
        "rule_id",
        "doc_id",
        "detail",
    )
    defs = docs.select(F.col("doc_id").alias("probe_key")).select(
        "probe_key",
        F.explode(
            F.array(*[F.lit(i) for i in range(n_shards)])
        ).alias("shard"),
        F.lit(None).cast("string").alias("rule_id"),  # NULL = definition
        F.lit(None).cast("string").alias("doc_id"),
        F.lit(None).cast("string").alias("detail"),
    )
    rows = probes.unionByName(defs)

    out_type = StructType(
        [
            StructField("rule_id", StringType()),
            StructField("probe_key", StringType()),
            StructField("doc_id", StringType()),
            StructField("detail", StringType()),
            StructField("op", StringType()),
        ]
    )
    state_type = StructType(
        [
            StructField("defined", BooleanType()),
            StructField("pending", StringType()),  # json [[rule,doc,detail]]
        ]
    )

    def _update(key, pdf_iter, state):
        import json as _json

        probe_key = key[0]
        if state.exists:
            defined, pending_json = state.get
            pending = {tuple(p) for p in _json.loads(pending_json)}
        else:
            defined, pending = False, set()
        batch_def = False
        batch_probes: set[tuple[str, str, str]] = set()
        for pdf in pdf_iter:
            rid = pdf["rule_id"]
            if rid.isna().any():
                batch_def = True
            q = pdf[rid.notna()]
            if len(q):
                batch_probes.update(zip(q["rule_id"], q["doc_id"], q["detail"]))
        out = []
        if defined or batch_def:
            if not defined:
                # the key just came into existence: every pending
                # violation is retracted (a def in the same batch as a
                # probe also wins — corpus membership is batch-atomic)
                out += [
                    (r, probe_key, d, det, "retract")
                    for r, d, det in sorted(pending)
                ]
                pending = set()
            defined = True
        else:
            out += [
                (r, probe_key, d, det, "add")
                for r, d, det in sorted(batch_probes - pending)
            ]
            pending |= batch_probes
        state.update((bool(defined), _json.dumps(sorted(pending))))
        if out:
            yield pd.DataFrame(
                out, columns=["rule_id", "probe_key", "doc_id", "detail", "op"]
            )

    return rows.groupBy("probe_key", "shard").applyInPandasWithState(
        _update, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )


def start_ri_stream(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    n_shards: int = 1,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    rocksdb_state: bool = False,
):
    """Start the incremental RI change-log writer; returns the
    StreamingQuery.  Change rows land under ``<output>/updates``
    partitioned by epoch_id with dynamic overwrite (retried epochs are
    idempotent — exactly-once end to end).

    ``rocksdb_state=True`` switches the state store to the RocksDB
    provider — the deployment setting once the defined-key set outgrows
    executor heaps (the default HDFS-backed provider holds all state in
    memory).  The provider is a session-level conf read at query START,
    so it applies to queries started after this call; the output is
    identical either way (tested)."""
    out = str(output_dir).rstrip("/")
    if rocksdb_state:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    updates = stream_ri_monitor(spark, input_path, n_shards, max_files_per_trigger)

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("epoch_id", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(f"{out}/updates")
        )

    writer = (
        updates.writeStream.foreachBatch(_write)
        .outputMode("update")
        .option("checkpointLocation", f"{out}/_checkpoint")
        .queryName("gwv-ri-stream")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_ri_drain(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    n_shards: int = 1,
    max_files_per_trigger: int | None = None,
    rocksdb_state: bool = False,
) -> DataFrame:
    """Drain the incremental RI monitor over the files currently present
    and return the accumulated change log (epoch_id + RI_UPDATE_SCHEMA)
    as a batch DataFrame.  The checkpoint carries the (defined, pending)
    state, so a later drain after new files continues incrementally —
    only the new documents are scanned.  Keep ``rocksdb_state``
    consistent across drains of one checkpoint (the state format is
    provider-specific)."""
    out = str(output_dir).rstrip("/")
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf_key, None)
    q = start_ri_stream(
        spark, input_path, output_dir, n_shards, max_files_per_trigger,
        available_now=True, rocksdb_state=rocksdb_state,
    )
    try:
        q.awaitTermination()
    finally:
        if rocksdb_state:
            # drain-scoped: don't leak the provider into other queries'
            # (provider-specific) checkpoints in this session
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
    # every epoch so far may legitimately have emitted nothing (e.g. all
    # probes satisfied within their own batch) — an all-empty sink has no
    # parquet footer to infer from
    if not any(Path(f"{out}/updates").rglob("*.parquet")):
        return local_frame(spark, [], RI_UPDATE_SCHEMA + ", epoch_id INT")
    return spark.read.parquet(f"{out}/updates")


def ri_outstanding(updates: DataFrame) -> DataFrame:
    """Fold the RI change stream into the current violation set:
    (rule_id, doc_id, detail) rows added and never retracted.  A probe
    is added at most once and retracted at most once (state dedups), so
    a left anti join is exact."""
    adds = updates.where(F.col("op") == "add").select(
        "rule_id", "doc_id", "detail"
    )
    rets = updates.where(F.col("op") == "retract").select(
        "rule_id", "doc_id", "detail"
    )
    return adds.join(rets, ["rule_id", "doc_id", "detail"], "left_anti")


def ri_outstanding_violations(updates: DataFrame) -> DataFrame:
    """The outstanding RI set projected onto the VIOLATIONS schema —
    identical rows to the batch delquote/delvar rules over the same
    corpus (tested per drop), so readers can union this tier's view
    with the batch job's sink directly."""
    from gwv_spark.rules import shape, tag_s

    cur = ri_outstanding(updates)
    dq = shape(
        cur.where(F.col("rule_id") == "delquote").select(
            "doc_id", F.col("detail").alias("part_full")
        ),
        "delquote",
        F.lit("0"),
        F.array(tag_s(F.col("part_full"))),
        F.concat(F.col("doc_id"), F.lit("#"), F.col("part_full")),
    )
    dv = shape(
        cur.where(F.col("rule_id") == "delvar").select(
            "doc_id", F.col("detail").alias("base")
        ),
        "delvar",
        F.lit("0"),
        F.array(tag_s(F.col("base"))),
    )
    return dq.unionByName(dv)


# --------------------------------------------- incremental near-dup
TEXT_DOCS_SCHEMA = "doc_id BIGINT, text STRING"


def _simhash64_py(text: str | None) -> int:
    """Python mirror of textops.simhash64 (the Catalyst implementation)
    for the per-row streaming path: whitespace tokens, md5 first 8 bytes
    big-endian as two 32-bit halves (bits 32-63 from the first half),
    ±1 votes per bit, ties and token-less docs hash to 0.  Exact
    equality with the batch expression is asserted in
    tests/test_streaming.py — the two cannot drift silently."""
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


_SIMHASH_CHUNK_TOKENS = 1 << 18  # token-axis chunk bound (tests shrink it)


def _simhash64_batch(texts) -> "object":
    """Vectorized SimHash over a pandas Series of texts — the streaming
    hot path (round-4 verdict item: the per-element ``.map`` inside the
    pandas UDF was the one per-row Python loop left in the tree).

    Exactly the batch Catalyst semantics (textops.simhash64, asserted
    bit-identical in tests/test_streaming.py): whitespace tokens, first
    8 md5 bytes big-endian as the 64-bit token hash, ±1 votes per bit,
    ties/token-less → 0.  Per token the only Python-level work is one C
    hashlib call; the 64-bit vote matrix, per-doc segment sums, and
    sign-bit packing are whole-array numpy ops
    (``np.frombuffer('>u8')`` → bit unpack → ``add.reduceat`` →
    shift-sum → int64 view), so cost scales with tokens, not
    tokens × 64 Python iterations."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    out = np.zeros(len(texts), dtype=np.int64)
    digests = []
    starts = []  # first token index of each non-empty doc
    rows = []  # its row position in `texts`
    n_tok = 0
    ws = re.compile(r"\s+")
    md5 = hashlib.md5
    for pos, text in enumerate(texts):
        if not text:
            continue
        toks = [t for t in ws.split(text.strip()) if t != ""]
        if not toks:
            continue
        starts.append(n_tok)
        rows.append(pos)
        n_tok += len(toks)
        for t in toks:
            digests.append(md5(t.encode("utf-8")).digest()[:8])
    if not digests:
        return pd.Series(out, index=texts.index)
    h = np.frombuffer(b"".join(digests), dtype=">u8").astype(np.uint64)
    shifts = np.arange(64, dtype=np.uint64)
    starts_a = np.asarray(starts, dtype=np.intp)
    rows_a = np.asarray(rows, dtype=np.intp)
    # Chunk the token axis (on doc boundaries) so the bit-unpacked
    # temporaries stay bounded: the signs matrix is tokens x 64 int32,
    # ~64 MB per 256k tokens — without chunking a long-document Arrow
    # batch (10k docs x 1k tokens) would materialize multi-GB
    # temporaries in one shot (review finding r5).  Per-chunk cost is
    # whole-array numpy exactly as before; only the peak changes.
    CHUNK_TOKENS = _SIMHASH_CHUNK_TOKENS
    doc_ends = np.append(starts_a[1:], n_tok)
    votes_parts = []
    d0 = 0
    while d0 < len(starts_a):
        d1 = d0
        t_begin = starts_a[d0]
        while d1 < len(starts_a) and doc_ends[d1] - t_begin <= CHUNK_TOKENS:
            d1 += 1
        d1 = max(d1, d0 + 1)  # a single doc longer than the chunk still processes
        t_end = doc_ends[d1 - 1]
        signs = (
            (
                (h[t_begin:t_end, None] >> shifts[None, :]) & np.uint64(1)
            ).astype(np.int32)
            * 2
            - 1
        )
        votes_parts.append(
            np.add.reduceat(signs, starts_a[d0:d1] - t_begin, axis=0)
        )
        d0 = d1
    votes = np.concatenate(votes_parts, axis=0)
    packed = (
        ((votes > 0).astype(np.uint64) << shifts[None, :]).sum(axis=1, dtype=np.uint64)
    )
    out[rows_a] = packed.view(np.int64)
    return pd.Series(out, index=texts.index)


def stream_simhash_monitor(
    spark: SparkSession,
    input_path: str,
    max_hamming: int = 3,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental near-duplicate detection over a text-document stream
    (TEXT_DOCS_SCHEMA): each arriving document is checked against the
    corpus-so-far, emitting (doc_a, doc_b, hamming) the moment the
    second member of a near-dup pair lands — the streaming counterpart
    of textops.simhash_near_pairs, for ingestion pipelines that must
    reject near-dups on arrival instead of at the next full-corpus
    dedup pass.

    Shape: vectorized SimHash (Arrow-batched pandas UDF whose body is
    whole-array numpy — _simhash64_batch, exact mirror of the batch
    Catalyst expression; the Catalyst form itself is a groupBy
    aggregation + join, which would stack a second stateful operator
    under this stream) → block-permutation explode (any
    pair within Hamming k shares one of k+1 exact 16-bit blocks) →
    ``applyInPandasWithState`` keyed by (block_id, block_val) whose
    state is the bucket's (doc_id, simhash) list.  A new doc compares
    against its bucket's stored signatures plus the batch's own — a
    64-bit XOR popcount each, so verification cost is per-candidate,
    never per-corpus.  State size is corpus × (k+1) entries of ~16
    bytes (the signature IS the state — no text retained); at cluster
    scale use the RocksDB provider.  A pathological bucket (thousands
    of mutually-near docs) makes its task's compare loop quadratic —
    the same degenerate case the batch self-join has; bound it upstream
    with exact-dup removal if the corpus has mass-duplicated text.

    The change log may repeat a pair discovered through several blocks;
    ``simhash_pairs_view`` dedups.  Output mode must be ``update``."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    # no type hints: the module's postponed annotations (PEP 563) turn
    # them into strings the UDF eval-type inference can't resolve;
    # hint-less pandas_udf defaults to the scalar Series->Series type
    @F.pandas_udf("long")
    def simhash_udf(texts):
        return _simhash64_batch(texts)

    docs = spark.readStream.schema(TEXT_DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        docs = docs.option("maxFilesPerTrigger", str(max_files_per_trigger))
    # token-less docs carry no content evidence and all share the empty
    # signature — exclude them from pairing, mirroring the batch
    # simhash_near_pairs (a blank-doc flood would otherwise pair
    # quadratically AND poison every bucket's state)
    sig = (
        docs.parquet(input_path)
        .where(F.trim(F.coalesce(F.col("text"), F.lit(""))) != "")
        .select("doc_id", simhash_udf(F.col("text")).alias("simhash"))
    )
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    blocks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
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
        ).alias("b"),
    ).select("doc_id", "simhash", "b.block_id", "b.block_val")

    out_type = StructType(
        [
            StructField("doc_a", LongType()),
            StructField("doc_b", LongType()),
            StructField("hamming", IntegerType()),
        ]
    )
    state_type = StructType(
        [StructField("members", StringType())]  # json [[doc_id, simhash]]
    )
    mask = (1 << 64) - 1

    def _update(key, pdf_iter, state):
        import json as _json

        stored = _json.loads(state.get[0]) if state.exists else []
        new = set()
        for pdf in pdf_iter:
            new.update(zip(pdf["doc_id"].tolist(), pdf["simhash"].tolist()))
        new = sorted(new)
        out = []
        for i, (d1, s1) in enumerate(new):
            for d2, s2 in stored + new[i + 1:]:
                if d1 == d2:
                    continue
                h = ((s1 ^ s2) & mask).bit_count()
                if h <= max_hamming:
                    a, b = (d1, d2) if d1 < d2 else (d2, d1)
                    out.append((a, b, h))
        state.update((_json.dumps(stored + new),))
        if out:
            yield pd.DataFrame(out, columns=["doc_a", "doc_b", "hamming"])

    return blocks.groupBy("block_id", "block_val").applyInPandasWithState(
        _update, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )


def stream_simhash_drain(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    max_hamming: int = 3,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the near-dup monitor over the files currently present and
    return the accumulated pair log (epoch_id, doc_a, doc_b, hamming) as
    a batch DataFrame.  Same exactly-once sink shape as the RI tier."""
    out = str(output_dir).rstrip("/")
    pairs = stream_simhash_monitor(
        spark, input_path, max_hamming, max_files_per_trigger
    )

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("epoch_id", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(f"{out}/pairs")
        )

    q = (
        pairs.writeStream.foreachBatch(_write)
        .outputMode("update")
        .option("checkpointLocation", f"{out}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not any(Path(f"{out}/pairs").rglob("*.parquet")):
        return local_frame(spark, [], "doc_a BIGINT, doc_b BIGINT, hamming INT, epoch_id INT")
    return spark.read.parquet(f"{out}/pairs")


def simhash_pairs_view(pair_log: DataFrame) -> DataFrame:
    """Distinct near-dup pairs from the change log (a pair can be
    discovered through several shared blocks and therefore logged more
    than once — same reason the batch implementation dropDuplicates
    after its block join)."""
    return pair_log.select("doc_a", "doc_b", "hamming").dropDuplicates(
        ["doc_a", "doc_b"]
    )


# ---------------------------------------------------------------- events
EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def stream_events_hourly(
    spark: SparkSession,
    input_path: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked streaming version of the batch events_hourly_rollup
    (queries.py events_hourly): tumbling 1-hour event-time windows,
    counts + sums per event_type.  The watermark bounds state: windows
    older than max(event time) - watermark are finalized and evicted, so
    state size is O(active windows × event types), independent of stream
    length — late events inside the watermark still merge into their
    window; beyond it they are dropped (the documented tradeoff).

    Returns the streaming DataFrame; the caller picks sink + output mode
    (``append`` emits each window once, on finalization)."""
    ev = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_path)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_events_hourly_drain(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Drain the hourly rollup over all files currently in
    ``input_path`` (availableNow) into ``<output>/rollup`` parquet and
    return the result as a batch DataFrame.

    Output mode ``append`` only emits windows the watermark has closed;
    with a finite drain the trailing windows would be lost, so the drain
    runs in ``complete`` mode into a memory-table-free parquet sink via
    foreachBatch overwrite (idempotent: the last epoch's state is the
    full rollup)."""
    out = str(output_dir).rstrip("/")
    rollup = stream_events_hourly(spark, input_path, watermark)

    def _write(batch_df: DataFrame, _epoch: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out}/rollup")

    q = (
        rollup.writeStream.foreachBatch(_write)
        .outputMode("complete")
        .option("checkpointLocation", f"{out}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(f"{out}/rollup")


# ------------------------------------------------------ sketch-store tier


def make_sketch_batch_processor(
    store_dir: str,
    columns=None,
    p: int = 14,
    delta: float = 500.0,
):
    """foreachBatch body for on-arrival column-stats maintenance: sketch
    the epoch's files (one mergeable HLL+t-digest row per file+column,
    gwv_spark.sketchstore) and append them to the store under
    ``batch_id = epoch-<n>`` with dynamic partition overwrite — a
    retried epoch overwrites its own partition, the same exactly-once
    argument as the validation sinks (the epoch's file set is
    checkpoint-fixed and the sketch rows are deterministic over it).

    Extracted from the stream wiring so the retry property is testable
    directly (tests/test_sketchstore.py re-invokes it with the same
    epoch and asserts the store unchanged)."""
    from gwv_spark import sketchstore

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        sk = sketchstore.fold_file_sketches(
            sketchstore.column_sketches(
                batch_df, columns, p=p, delta=delta, by_file=True
            ),
            delta,
        )
        (
            sk.withColumn("batch_id", F.lit(f"epoch-{int(epoch_id)}"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(store_dir)
        )

    return _process


def stream_sketch_store(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    schema,
    columns=None,
    p: int = 14,
    delta: float = 500.0,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Keep the column-stats sketch store current as files land: the
    streaming counterpart of ``sketch_job`` (which diffs file lists; the
    stream lets the checkpoint's file index do that bookkeeping).  Full
    current stats at any moment = ``sketchstore.stats_from_store`` over
    the store — a fold of KB-sized rows, no data scan."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(input_path)
    writer = (
        stream.writeStream.foreachBatch(
            make_sketch_batch_processor(store_dir, columns, p, delta)
        )
        .outputMode("update")
        .option("checkpointLocation", f"{store_dir}/_checkpoint")
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    elif available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_sketch_drain(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    schema,
    columns=None,
    p: int = 14,
    delta: float = 500.0,
) -> DataFrame:
    """Drain pending files into the sketch store and return the folded
    full-table stats."""
    from gwv_spark import sketchstore

    q = stream_sketch_store(
        spark, input_path, store_dir, schema, columns, p=p, delta=delta
    )
    q.awaitTermination()
    return sketchstore.stats_from_store(spark, store_dir, delta=delta)
