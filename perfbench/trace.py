"""Spans around the benchmark's calls into the package, and Spark task
metrics per span read back from the session's event log.

Each span gets its own Spark job group while tracing is on, so every job
a span starts (including the broadcast and subquery jobs Spark submits
from its own threads, which copy the caller's local properties) can be
attributed to the innermost span open at the time.  Streaming queries
submit their jobs without the caller's group, so whole ops are measured
by time window instead (one op in flight at a time).  Spans are kept in
memory; the event log is parsed once, after the session stops."""

from __future__ import annotations

import json
import time
from collections import Counter
from contextlib import contextmanager
from pathlib import Path

PY_SENT = "data sent to Python workers"


class Tracer:
    def __init__(self, sc=None):
        """``sc``: the SparkContext whose job groups are set per span, or
        None to record wall times only (the untraced runs)."""
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {"id": f"s{len(self.spans)}", "name": name,
             "parent": parent["id"] if parent else None}
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s["start"] = time.time()
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: dict | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s["id"], s["name"])

    def subtree(self, span: dict) -> set[str]:
        ids, grew = {span["id"]}, True
        while grew:
            grew = False
            for s in self.spans:
                if s["parent"] in ids and s["id"] not in ids:
                    ids.add(s["id"])
                    grew = True
        return ids

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def event_log_path(log_dir: str | Path, app_id: str) -> Path:
    d = Path(log_dir)
    for cand in (d / app_id, d / f"{app_id}.inprogress"):
        if cand.exists():
            return cand
    raise FileNotFoundError(f"no event log for {app_id} under {d}")


class EventLog:
    """Jobs (group, start, end) and per-job task-metric totals from an
    uncompressed, non-rolling Spark event log."""

    def __init__(self, path: str | Path):
        self.jobs: dict[int, dict] = {}
        self.metrics: dict[int, Counter] = {}
        stage_job: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    props = e.get("Properties") or {}
                    self.jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                    }
                    self.metrics[jid] = Counter()
                    for sid in e["Stage IDs"]:
                        # a later job lists an earlier job's stages as
                        # skipped; tasks belong to the job that ran them
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(e["Stage ID"])
                    if jid is None:
                        continue
                    m = e.get("Task Metrics") or {}
                    c = self.metrics[jid]
                    c["tasks"] += 1
                    c["cpu_ns"] += m.get("Executor CPU Time", 0)
                    c["gc_ms"] += m.get("JVM GC Time", 0)
                    c["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    c["spill_b"] += m.get("Disk Bytes Spilled", 0)
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == PY_SENT:
                            c["py_sent_b"] += int(acc.get("Update") or 0)

    def in_groups(self, groups: set[str]) -> list[int]:
        return [jid for jid, j in self.jobs.items() if j["group"] in groups]

    def in_window(self, start: float, end: float) -> list[int]:
        """Jobs submitted in [start, end], whatever thread submitted them
        (streaming queries run their jobs on their own threads, which do
        not carry the caller's job group)."""
        return [jid for jid, j in self.jobs.items() if start <= j["start"] <= end]

    def totals(self, jids: list[int]) -> Counter:
        out = Counter(jobs=len(jids))
        for jid in jids:
            out.update(self.metrics[jid])
        return out

    def no_job_s(self, jids: list[int], start: float, end: float) -> float:
        """Wall time in [start, end] during which none of ``jids`` ran."""
        spans = sorted(
            (max(start, self.jobs[j]["start"]), min(end, self.jobs[j]["end"] or end))
            for j in jids
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return max(0.0, (end - start) - covered)
