"""Spans around the benchmark's calls into the engine, and the engine-side
numbers read back from Spark's event log.

A span is recorded at each layer boundary the benchmark crosses: the public
call itself (``call``), the benchmark's own action on what that call
returned (``exec``), and, inside an action, the forcing of the physical
plan (``plan``). Each span carries its layer, the function it wraps, start,
end, its parent and the operation it belongs to. Spans stay in memory and
are written out once, when the run ends.

Jobs are attributed to spans through Spark job groups: a traced run sets
its own group around every span (the package sets none) and the event log
records the group on each job. With tracing off no group is set and no span
is kept, so the untraced run measures the engine alone.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

LAYERS = (
    "session", "queries", "io", "manifest", "canonicalize", "timeseries",
    "forecast", "pipeline", "dedup", "similarity",
)


@dataclass
class Span:
    sid: int
    layer: str
    fn: str
    kind: str  # op | call | exec | plan
    op: int | None  # measured operation index; None for set-up work
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans when ``enabled``; otherwise every context manager just
    runs the wrapped work."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _sc: object = None
    op: int | None = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"sb-{span.sid}", f"{span.layer}.{span.fn}")

    @contextlib.contextmanager
    def span(self, layer: str, fn: str, kind: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans), layer, fn, kind, self.op,
            parent.sid if parent else None, time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def call(self, layer: str, fn: str):
        """One public call of ``layer``: its eager jobs land in the span."""
        return self.span(layer, fn, "call")

    def execute(self, layer: str, fn: str, df, action):
        """The benchmark's action on a DataFrame that a call of ``layer``
        returned. Traced, the physical plan is forced first and timed as
        Catalyst time."""
        with self.span(layer, fn, "exec"):
            if self.enabled:
                with self.span("catalyst", fn, "plan"):
                    df._jdf.queryExecution().executedPlan()
            return action(df)

    def operation(self, op: int | None):
        self.op = op
        return self.span("benchmark", "operation", "op")

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval its children
    cover (children of one span never overlap: one client thread)."""
    covered: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            covered[s.parent] = covered.get(s.parent, 0.0) + (s.end - s.start)
    return {s.sid: (s.end - s.start) - covered.get(s.sid, 0.0) for s in spans}


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def read_event_logs(log_dir: str) -> list[dict]:
    """Jobs of every application that logged into ``log_dir``, each with
    its group, interval (epoch ms) and completed stages and tasks. SQL
    events carry whole plans and are skipped unparsed."""
    wanted = (
        b'"SparkListenerJobStart"', b'"SparkListenerJobEnd"',
        b'"SparkListenerStageCompleted"', b'"SparkListenerTaskEnd"',
    )
    jobs_out: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        with open(path, "rb") as fh:
            for line in fh:
                if not any(w in line[:60] for w in wanted):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"], "end": None,
                        "stages": 0, "tasks": 0, "task_s": 0.0,
                        "cpu_s": 0.0, "shuffle_write": 0,
                    }
                    jobs[ev["Job ID"]] = j
                    for st in ev["Stage IDs"]:
                        stage_job.setdefault(st, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                else:
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    j = jobs[jid]
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    j["tasks"] += 1
                    j["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1e3
                    j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    j["shuffle_write"] += (
                        m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        )
                    )
        jobs_out.extend(j for j in jobs.values() if j["end"] is not None)
    return jobs_out


def layer_metrics(
    spans: list[Span], jobs: list[dict], n_ops: int, cores: int,
    setup_spans: list[Span],
) -> tuple[dict[str, float], list[dict]]:
    """Per-operation layer metrics over the measured operations, and the
    layer table (one row per layer and function) they come from."""
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        if j["group"]:
            by_group.setdefault(j["group"], []).append(j)
    selfs = self_seconds(spans + setup_spans)
    measured = [s for s in spans if s.op is not None]
    sessions = [s for s in setup_spans if s.layer == "session"]
    out: dict[str, float] = {}
    rows: dict[tuple, dict] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    for layer in LAYERS:
        for m in ("call_s", "call_jobs", "exec_s", "self_s"):
            out[f"{layer}.{m}"] = 0.0
    for s in measured + sessions:
        if s.layer not in LAYERS:
            continue
        dur = s.end - s.start
        js = by_group.get(f"sb-{s.sid}", [])
        njobs = len(js)
        row = rows.setdefault((s.layer, s.fn), {
            "layer": s.layer, "fn": s.fn, "calls": 0, "call_s": 0.0,
            "call_jobs": 0, "plan_s": 0.0, "exec_s": 0.0, "exec_jobs": 0,
            "self_s": 0.0, "job_s": 0.0, "task_s": 0.0,
        })
        # time the span's own jobs were running, and their summed task time
        row["job_s"] += union_length(
            [(j["start"] / 1e3, j["end"] / 1e3) for j in js]
        )
        row["task_s"] += sum(j["task_s"] for j in js)
        if s.kind == "call":
            row["calls"] += 1
            row["call_s"] += dur
            row["call_jobs"] += njobs
            add(f"{s.layer}.call_s", dur)
            add(f"{s.layer}.call_jobs", njobs)
        else:
            row["exec_s"] += dur
            row["exec_jobs"] += njobs
            add(f"{s.layer}.exec_s", dur)
        row["self_s"] += selfs[s.sid]
        add(f"{s.layer}.self_s", selfs[s.sid])
    by_sid = {s.sid: s for s in measured}
    for s in measured:
        if s.kind == "plan":
            p = by_sid[s.parent]
            rows[(p.layer, p.fn)]["plan_s"] += s.end - s.start
            add("catalyst.plan_s", s.end - s.start)
    # session calls happen once per set-up, not per operation
    n_setups = max(1, sum(1 for s in sessions if s.kind == "call"))
    for m in ("call_s", "call_jobs", "exec_s", "self_s"):
        out[f"session.{m}"] /= n_setups

    # engine totals over the jobs of the measured operations
    sid_op = {s.sid: s.op for s in measured}
    op_jobs: dict[int, list[dict]] = {}
    for g, js in by_group.items():
        op = sid_op.get(int(g[3:])) if g.startswith("sb-") else None
        if op is not None:
            op_jobs.setdefault(op, []).extend(js)
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "cpu": 0.0, "shuf": 0,
           "task_s": 0.0, "busy": 0.0, "gap": 0.0}
    op_spans = {s.op: s for s in measured if s.kind == "op"}
    for op, js in op_jobs.items():
        tot["jobs"] += len(js)
        tot["stages"] += sum(j["stages"] for j in js)
        tot["tasks"] += sum(j["tasks"] for j in js)
        tot["cpu"] += sum(j["cpu_s"] for j in js)
        tot["shuf"] += sum(j["shuffle_write"] for j in js)
        tot["task_s"] += sum(j["task_s"] for j in js)
        busy = union_length([(j["start"] / 1e3, j["end"] / 1e3) for j in js])
        tot["busy"] += busy
        s = op_spans.get(op)
        if s is not None:
            tot["gap"] += max(0.0, (s.end - s.start) - busy)
    n = max(1, n_ops)
    out["catalyst.plan_s"] = out.get("catalyst.plan_s", 0.0)
    for k, v in list(out.items()):
        if not k.startswith("session."):
            out[k] = v / n
    out.update({
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.task_cpu_s": tot["cpu"] / n,
        "spark.shuffle_write_bytes": tot["shuf"] / n,
        "spark.gap_s": tot["gap"] / n,
        "spark.slot_util": (
            tot["task_s"] / (tot["busy"] * cores) if tot["busy"] else 0.0
        ),
    })
    table = sorted(rows.values(), key=lambda r: (r["layer"], r["fn"]))
    for r in table:
        for k in ("call_s", "plan_s", "exec_s", "self_s", "job_s", "task_s"):
            r[k] = round(r[k], 6)
    return out, table


def jobs_of(spans: list[Span], jobs: list[dict], fn: str) -> list[int]:
    """Jobs per measured call of the function ``fn``, in call order."""
    by_group: dict[str, int] = {}
    for j in jobs:
        if j["group"]:
            by_group[j["group"]] = by_group.get(j["group"], 0) + 1
    return [
        by_group.get(f"sb-{s.sid}", 0)
        for s in spans
        if s.fn == fn and s.kind == "call" and s.op is not None
    ]
