"""The benchmark's workloads.  Each runs one closed loop in this process:
one operation in flight, driven from one thread, every operation timed
from outside through the package's public calls.  Output checks run after
the loop, outside every timed region.

A workload is a generator: the code before its ``yield`` writes the
inputs (before the Spark session starts), the rest runs with the
session."""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import host, inputs, oracle
from perfbench.trace import Tracer


@dataclass
class Bench:
    work: Path
    seed: int
    seconds: float
    traced: bool
    t_start: float = field(default_factory=time.time)
    # run wall time after which probes are skipped (a run must exit
    # within 180 s; the checks, the session stop and the event-log parse
    # follow the probes)
    budget_s: float = 165.0
    spark: object = None
    tracer: Tracer | None = None
    sampler: host.RssSampler | None = None
    ops: list[dict] = field(default_factory=list)
    warmup: list[dict] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)
    cpu_s: float = 0.0

    def time_left(self) -> float:
        return self.t_start + self.budget_s - time.time()

    def probe(self, name: str, need_s: float, fn) -> None:
        """Traced-run probe: ``fn`` in its own span, skipped when fewer
        than ``need_s`` seconds of the run's budget are left.  A skipped
        probe leaves its metrics unmeasured, so it fails the run."""
        if self.time_left() < need_s:
            log(f"skipped probe {name}: too little time left")
            self.skipped.append(name)
            return
        with self.tracer.span(name):
            fn()

    def run_op(self, fn, i: int) -> dict:
        with self.tracer.span("op") as s:
            docs = fn(i)
        wall = s["end"] - s["start"]
        parts = ", ".join(
            f"{c['name']} {c['end'] - c['start']:.2f}"
            for c in self.tracer.spans if c["parent"] == s["id"]
        )
        log(f"op {i}: {wall:.2f} s ({parts})")
        return {"i": i, "wall_s": wall, "docs": docs, "span": s}

    def loop(self, fn, warmup: int, max_ops: int) -> None:
        """``warmup`` discarded ops, then timed ops until ``seconds`` have
        passed (at least one op, at most ``max_ops``)."""
        for i in range(warmup):
            self.warmup.append(self.run_op(fn, i))
        cpu0 = host.tree_cpu_s()
        self.sampler.active.set()
        t0 = time.time()
        for i in range(warmup, warmup + max_ops):
            self.ops.append(self.run_op(fn, i))
            if time.time() - t0 >= self.seconds:
                break
        self.sampler.active.clear()
        self.cpu_s = host.tree_cpu_s() - cpu0


def log(msg: str) -> None:
    """Progress line on stderr (standard output carries the result)."""
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def tree_files(root: Path) -> int:
    return sum(len(files) for _, _, files in os.walk(root))


def tree_mb(root: Path) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    ) / 2**20


# ------------------------------------------------------------ batch_full
BATCH_DOCS = 1000
BATCH_FILES = 4
MAX_BATCH_OPS = 4


@contextmanager
def job_spans(tracer: Tracer):
    """Spans inside ``job.main`` around the calls it makes into other
    layers.  The two writes are told apart by their output directory;
    what the spans leave of job.main's wall time is its own bookkeeping
    (``job.commit_s``)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from gwv_spark import catalog, engine

    writes = {"violations": "job.violations_write", "verdicts": "engine.partition_verdicts"}
    saved = (
        catalog.commit_snapshot, engine.make_context, engine.run_rules, DataFrameWriter.parquet
    )

    def wrap(name, fn):
        @functools.wraps(fn)
        def call(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)

        return call

    def parquet(self, path, *a, **k):
        name = writes.get(Path(str(path)).name)
        if name is None:
            return saved[3](self, path, *a, **k)
        with tracer.span(name):
            return saved[3](self, path, *a, **k)

    catalog.commit_snapshot = wrap("catalog.commit_snapshot", saved[0])
    engine.make_context = wrap("engine.make_context", saved[1])
    engine.run_rules = wrap("engine.run_rules", saved[2])
    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        (catalog.commit_snapshot, engine.make_context, engine.run_rules,
         DataFrameWriter.parquet) = saved


def batch_full(b: Bench):
    """``gwv_spark.job.main`` as a user runs it: the classic fused
    18-rule job over a generated corpus, into a fresh output dir per op.
    In a traced run the op's calls into other layers are spanned
    (:func:`job_spans`)."""
    from concurrent.futures import ThreadPoolExecutor

    from gwv_spark import job, streaming

    corpus = b.work / "corpus"
    n_docs = len(inputs.write_corpus(corpus, BATCH_DOCS, BATCH_FILES, b.seed))
    docs_dir, attrs_path = str(corpus / "documents"), str(corpus / "doc_attrs.parquet")
    # the DuckDB mirror of the expected output needs no Spark: it runs
    # on a thread while the session starts
    con = oracle.connect()
    pool = ThreadPoolExecutor(1)
    mirror = pool.submit(
        oracle.load_mirror, con, f"read_parquet('{docs_dir}/*.parquet')", Path(attrs_path)
    )
    yield
    mirror.result()
    pool.shutdown()
    spark = b.spark

    def op(i: int) -> int:
        argv = ["--input", docs_dir, "--attrs", attrs_path, "--output", str(b.work / f"op{i}")]
        with job_spans(b.tracer) if b.traced else nullcontext():
            job.main(argv, spark=spark)
        return n_docs

    b.loop(op, warmup=0, max_ops=MAX_BATCH_OPS)

    log("checks")
    # ---- output checks: the mirror for 17 rules; corner against the
    # streaming doc-local tier over the same files
    ref = b.work / "corner_stream"
    streaming.validate_stream_drain(spark, docs_dir, str(ref), rule_ids=["corner"])
    oracle.violations_view(con, "corner_ref", f"{ref}/violations/*/*/*.parquet")
    for rec in b.warmup + b.ops:
        rec["ok"] = check_batch_output(con, b.work / f"op{rec['i']}" / "violations")
    if b.traced:
        batch_probes(b, corpus)


def check_batch_output(con, vio_dir: Path) -> bool:
    oracle.violations_view(con, "got", f"{vio_dir}/*/*.parquet")
    bad = oracle.mirror_mismatches(con, "got")
    bad["corner"] = oracle.rows_mismatch(con, "got", "corner_ref", ["corner"])
    unknown = oracle.unknown_rules(con, "got")
    failed = {k: v for k, v in bad.items() if v}
    if failed or unknown:
        log(f"check failed in {vio_dir}: mismatched rows {failed}, unknown rules {unknown}")
    return not failed and not unknown


def batch_probes(b: Bench, corpus: Path) -> None:
    """Traced run only: each derive step over its cached input, each
    rule's plan alone over the cached context, and the 18-rule suite
    planned, run fused and run concurrently."""
    from pyspark.sql import DataFrame

    from gwv_spark import derive, engine
    from gwv_spark.rules import ALL_RULE_IDS

    spark = b.spark
    docs = spark.read.parquet(str(corpus / "documents"))
    attrs = spark.read.parquet(str(corpus / "doc_attrs.parquet"))
    b.probe("derive.prepare", 5, lambda: _noop(derive.prepare(docs)))
    prepared = derive.prepare(docs).persist()
    prepared.count()
    b.probe("derive.with_entity", 5, lambda: _noop(derive.with_entity(prepared)))
    prepared.unpersist()
    ctx = engine.make_context(spark, docs, attrs=attrs, cache=True)
    b.layer["engine.cache_mb"] = cached_mb(spark)
    b.probe("derive.exploded_spans", 5, lambda: _noop(derive.exploded_spans(ctx.docs)))
    for rid in ALL_RULE_IDS:
        b.probe(f"rules.{rid}", 8, lambda: _noop(ctx.plan(rid)))

    def plan_union():
        union = functools.reduce(DataFrame.unionByName, [ctx.plan(r) for r in ALL_RULE_IDS])
        union._jdf.queryExecution().executedPlan()

    b.probe("rules.suite_plan", 8, plan_union)
    b.probe("rules.suite_fused", 25, lambda: engine.run_suite(ctx))
    b.probe("rules.suite_concurrent", 15, lambda: engine.run_rules_concurrent(ctx))
    ctx.docs.unpersist()
    ctx.spans.unpersist()


# ----------------------------------------------------------- stream_drops
DROP_DOCS = 2000
WARMUP_DROPS = 4
MAX_DROPS = 14


def _last_batch(checkpoint: Path) -> int:
    """Highest committed microbatch id of a streaming checkpoint."""
    d = checkpoint / "commits"
    ids = [int(n) for n in os.listdir(d) if n.isdigit()] if d.exists() else []
    return max(ids, default=-1)


def stream_drops(b: Bench):
    """One drop of documents lands per op; the op drains the RI monitor
    stream (delquote/delvar as keyed Python state) over it.  The first
    drops are discarded warm-up ops."""
    from gwv_spark import streaming

    staging, land, ri_out = b.work / "staging", b.work / "land", b.work / "ri"
    land.mkdir(parents=True)
    sizes = []
    for k, recs in enumerate(inputs.drops(DROP_DOCS, MAX_DROPS, b.seed)):
        inputs.write_docs(staging / f"drop-{k:03d}.parquet", recs)
        sizes.append(len(recs))
    yield
    epoch: dict[int, int] = {}  # op -> last RI microbatch it committed

    def op(i: int) -> int:
        name = f"drop-{i:03d}.parquet"
        os.rename(staging / name, land / name)
        with b.tracer.span("streaming.ri_drain"):
            streaming.stream_ri_drain(b.spark, str(land), str(ri_out))
        epoch[i] = _last_batch(ri_out / "_checkpoint")
        return sizes[i]

    b.loop(op, warmup=WARMUP_DROPS, max_ops=MAX_DROPS - WARMUP_DROPS)
    if b.traced:
        b.layer["streaming.state_mb"] = tree_mb(ri_out / "_checkpoint" / "state")
        b.layer["streaming.checkpoint_files"] = tree_files(ri_out / "_checkpoint")

    log("checks")
    # ---- output checks: after each op, the RI change log folded up to
    # that op's microbatch must equal the delquote/delvar mirror over the
    # drops landed so far
    con = oracle.connect()
    con.execute(
        "CREATE OR REPLACE VIEW ri_updates AS SELECT * FROM read_parquet("
        f"'{ri_out}/updates/*/*.parquet', hive_partitioning = true)"
    )
    for rec in b.warmup + b.ops:
        files = [str(land / f"drop-{k:03d}.parquet") for k in sorted(epoch) if k <= rec["i"]]
        rec["ok"] = check_ri(con, files, epoch[rec["i"]])

    if b.traced:
        drops = sorted(land.glob("*.parquet")) + sorted(staging.glob("*.parquet"))
        b.probe("streaming.doclocal_drain", 40, lambda: streaming.validate_stream_drain(
            b.spark, str(land), str(b.work / "doclocal")))
        incremental_probe(b, drops)


_RI_FOLD = """
    SELECT rule_id, doc_id, detail FROM ri_updates WHERE op = 'add' AND epoch_id <= {e}
    EXCEPT ALL
    SELECT rule_id, doc_id, detail FROM ri_updates WHERE op = 'retract' AND epoch_id <= {e}
"""


def check_ri(con, files: list[str], epoch: int) -> bool:
    file_list = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    oracle.load_mirror(con, f"read_parquet({file_list})", None, ["delquote", "delvar"], "ri_o_")
    n = oracle.pairs_mismatch(
        con,
        f"({_RI_FOLD.format(e=epoch)})",
        "(SELECT 'delquote' AS rule_id, doc_id, part_full AS detail FROM ri_o_delquote "
        "UNION ALL SELECT 'delvar', doc_id, base FROM ri_o_delvar)",
    )
    if n:
        log(f"check failed after microbatch {epoch}: {n} RI rows differ")
    return not n


INCR_RUN_S = 40  # time one incremental job.main needs, with margin


def incremental_probe(b: Bench, drops: list[Path]) -> None:
    """Traced run only: an incremental job chain of a baseline over the
    first drop and one append of the second, read back through the
    chain's own component_timings table."""
    import pyarrow.parquet as pq

    from gwv_spark import job

    if b.time_left() < 2 * INCR_RUN_S:
        log("skipped probe incremental: too little time left")
        b.skipped.append("incremental")
        return
    src, out = b.work / "incr_input", b.work / "incr_out"
    src.mkdir()
    argv = ["--input", str(src), "--output", str(out), "--incremental"]
    for path in drops[:2]:
        os.link(path, src / path.name)
        with b.tracer.span("incremental.run") as s:
            job.main(argv, spark=b.spark)
    append_s = s["end"] - s["start"]
    runs = sorted(pq.read_table(out / "runs").to_pylist(), key=lambda r: r["ts"])
    last = {
        r["component"]: r["wall_s"]
        for r in pq.read_table(out / "component_timings").to_pylist()
        if r["snapshot"] == runs[-1]["snapshot"]
    }
    parts = {
        "incremental.local_delta_s": last.get("__local_delta__", 0.0),
        "incremental.ri_fold_s": last.get("__ri_fold__", 0.0),
        "incremental.scoped_full_s": last.get("__scoped_full__", 0.0),
    }
    b.layer.update(parts)
    b.layer["incremental.commit_s"] = append_s - sum(parts.values())
    b.layer["incremental.state_mb"] = tree_mb(out / "ri_state")
    b.layer["incremental.output_files"] = tree_files(out)
