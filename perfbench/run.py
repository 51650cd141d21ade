"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout (the directory holding
``gwv_spark/``).  Everything the run writes goes under ``.bench_work/`` in
that directory and is removed at exit.  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path.cwd()
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

WORKLOADS = ("batch_full", "stream_drops")

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "op_p50_s": "s",
    "cpu_s_per_kdoc": "s",
    "peak_rss_mb": "MB",
}

RULE_IDS = [
    "corner", "related", "illegal", "skew", "donotuse", "kosekitoki",
    "mj", "ucsalias", "dup", "naming", "ids", "order", "delquote",
    "delvar", "numexp", "mustrenew", "j", "width",
]

# job.main's calls into other layers, spanned inside each batch_full op;
# the rest of the op's wall time is job.commit_s
JOB_CALLS = [
    "catalog.commit_snapshot", "engine.make_context", "engine.run_rules",
    "job.violations_write", "engine.partition_verdicts",
]
# spans inside each timed op, reported as the median over ops of <name>_s
OP_SPANS = JOB_CALLS + ["streaming.ri_drain"]
# spans of the traced run's probes, run once after the timed ops
PROBE_SPANS = (
    ["streaming.doclocal_drain", "derive.prepare", "derive.exploded_spans", "derive.with_entity"]
    + [f"rules.{r}" for r in RULE_IDS]
    + ["rules.suite_plan", "rules.suite_fused", "rules.suite_concurrent"]
)

PER_LAYER = {
    **{f"{n}_s": "s" for n in OP_SPANS + PROBE_SPANS},
    "job.commit_s": "s",
    "derive.with_entity.shuffle_mb": "MB",
    "engine.cache_mb": "MB",
    "rules.corner.python_mb": "MB",
    "rules.dup.python_mb": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.no_job_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "incremental.local_delta_s": "s",
    "incremental.ri_fold_s": "s",
    "incremental.scoped_full_s": "s",
    "incremental.commit_s": "s",
    "incremental.state_mb": "MB",
    "incremental.output_files": "count",
    "streaming.state_mb": "MB",
    "streaming.checkpoint_files": "count",
    "op_p90_s": "s",
    "op_samples": "count",
    "warmup_s": "s",
    "trace.op_p50_s": "s",
    "host.steal_pct": "%",
    "host.loadavg": "count",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: Path) -> dict[str, str]:
    """Process environment and Spark conf that keep every file the run
    writes inside ``work``; returns the Spark conf."""
    from perfbench import host

    for sub in ("tmp", "spark-local", "warehouse", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = host.driver_mem()
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a fixed young generation: the collector otherwise resizes it from
        # run to run with the pause times it sees, and that sets how much
        # of the heap is ever touched, i.e. the JVM's resident memory
        "spark.driver.extraJavaOptions": f"-Xmn1g -Djava.io.tmpdir={work / 'tmp'}",
    }


def start_session(conf: dict[str, str]):
    """The set-up before the first op: a SparkSession (the JVM launch
    included) plus the program's own start-up, the rule registry and
    the dims."""
    from gwv_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    from gwv_spark.dims import default_dims
    from gwv_spark.rules import load_all_rules

    load_all_rules()
    default_dims()
    return spark, time.time() - t0


def stop_all(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def e2e_metrics(b, setup_s: float) -> dict[str, float]:
    walls = [o["wall_s"] for o in b.ops]
    docs = sum(o["docs"] for o in b.ops)
    return {
        "setup_s": setup_s,
        "docs_per_s": docs / sum(walls),
        "op_p50_s": statistics.median(walls),
        "cpu_s_per_kdoc": b.cpu_s / (docs / 1000),
        "peak_rss_mb": b.sampler.peak_mb,
    }


def layer_metrics(b, log, steal, load) -> dict[str, float]:
    tr = b.tracer
    out = {name: 0.0 for name in PER_LAYER}
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    walls = sorted(o["wall_s"] for o in b.ops)
    per_op: dict[str, list[float]] = {}
    for o in b.ops:
        tree = tr.subtree(o["span"])
        inner = {n: sum(dur(s) for s in tr.spans if s["id"] in tree and s["name"] == n)
                 for n in OP_SPANS}
        for n, v in inner.items():
            per_op.setdefault(f"{n}_s", []).append(v)
        if inner["engine.run_rules"]:
            # a batch op is one job.main call: its jobs carry the job
            # groups of its spans
            per_op.setdefault("job.commit_s", []).append(
                o["wall_s"] - sum(inner[n] for n in JOB_CALLS))
            jids = log.in_groups(tree)
        else:
            # streaming queries submit their jobs without the caller's
            # group; one op is in flight at a time
            jids = log.in_window(o["span"]["start"], o["span"]["end"])
        t = log.totals(jids)
        per_op.setdefault("spark.jobs", []).append(t["jobs"])
        per_op.setdefault("spark.tasks", []).append(t["tasks"])
        per_op.setdefault("spark.exec_cpu_s", []).append(t["cpu_ns"] / 1e9)
        per_op.setdefault("spark.gc_s", []).append(t["gc_ms"] / 1e3)
        per_op.setdefault("spark.shuffle_write_mb", []).append(t["shuffle_write_b"] / 2**20)
        per_op.setdefault("spark.spill_mb", []).append(t["spill_b"] / 2**20)
        per_op.setdefault("spark.no_job_s", []).append(
            log.no_job_s(jids, o["span"]["start"], o["span"]["end"])
        )
    for k, vals in per_op.items():
        out[k] = statistics.median(vals)
    for s in tr.spans:
        if s["parent"] is None and s["name"] in PROBE_SPANS:
            out[f"{s['name']}_s"] = dur(s)
    for metric, span, key in (
        ("rules.corner.python_mb", "rules.corner", "py_sent_b"),
        ("rules.dup.python_mb", "rules.dup", "py_sent_b"),
        ("derive.with_entity.shuffle_mb", "derive.with_entity", "shuffle_write_b"),
    ):
        spans = tr.named(span)
        if spans:
            out[metric] = log.totals(log.in_groups(tr.subtree(spans[0])))[key] / 2**20
    out.update(b.layer)
    out["op_p90_s"] = walls[min(len(walls) - 1, int(0.9 * len(walls)))]
    out["op_samples"] = len(walls)
    out["trace.op_p50_s"] = statistics.median(walls)
    out["warmup_s"] = sum(o["wall_s"] for o in b.warmup)
    out["host.steal_pct"] = steal
    out["host.loadavg"] = load
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "gwv_spark" / "__init__.py").exists():
        print(f"{ROOT} is not a gwv_spark checkout (no gwv_spark/ package)", file=sys.stderr)
        return 2
    t_start = time.time()
    from perfbench import host, workloads
    from perfbench.trace import EventLog, Tracer, event_log_path

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    conf = configure_env(work)
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = None
    try:
        b = workloads.Bench(work / "run", args.seed, args.seconds, bool(args.trace), t_start)
        b.work.mkdir(parents=True)
        phases = getattr(workloads, args.workload)(b)
        next(phases)  # inputs
        cpu0 = host.cpu_times()
        spark, setup_s = start_session(conf)
        workloads.log(f"set-up: {setup_s:.2f} s")
        app_id = spark.sparkContext.applicationId
        b.spark = spark
        b.tracer = Tracer(spark.sparkContext if args.trace else None)
        with host.RssSampler() as b.sampler:
            next(phases, None)
        workloads.log("stopping")
        steal, load = host.steal_pct(cpu0, host.cpu_times()), host.loadavg()
        stop_all(spark)
        spark = None
        if args.trace:
            log = EventLog(event_log_path(work / "eventlog", app_id))
            values = layer_metrics(b, log, steal, load)
            units = PER_LAYER
        else:
            values = e2e_metrics(b, setup_s)
            units = END_TO_END
        all_ops = b.warmup + b.ops
        # a skipped probe counts as a failed op: its metrics went unmeasured
        failed = sum(not o.get("ok", False) for o in all_ops) + len(b.skipped)
        result = {
            "correct": failed == 0,
            "attempted": len(all_ops) + len(b.skipped),
            "failed": failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
