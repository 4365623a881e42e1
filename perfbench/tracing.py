"""Operation records, the span tag, and per-span aggregation of the Spark
event log.

Every call the benchmark makes into the library goes through
``Recorder.op``, which times it and names the layer it enters (its span).
In a traced run the recorder also sets two Spark local properties around
the call, ``bench.span`` (the layer) and ``bench.op`` (the call's sequence
number).  Spark copies local properties into every ``SparkListenerJobStart``
event, so each job in the event log can be attributed to the call that
submitted it, and each ``SparkListenerTaskEnd`` to its job through the
stage ids the job lists.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field


@dataclass
class Op:
    seq: int
    span: str
    phase: str
    pass_idx: int
    t0: float
    t1: float
    ok: bool

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


@dataclass
class Recorder:
    """Times library calls and counts failed operations and checks."""

    sc: object = None  # SparkContext when traced, else None
    phase: str = ""
    pass_idx: int = -1
    ops: list[Op] = field(default_factory=list)
    checks: int = 0
    failed: int = 0

    def op(self, span: str, fn):
        """Run ``fn()`` as one operation in layer ``span``; an exception
        is printed and counted as a failed operation."""
        seq = len(self.ops)
        if self.sc is not None:
            self.sc.setLocalProperty("bench.span", span)
            self.sc.setLocalProperty("bench.op", str(seq))
        ok, out = True, None
        t0 = time.time()
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            ok = False
        t1 = time.time()
        if self.sc is not None:
            self.sc.setLocalProperty("bench.span", None)
            self.sc.setLocalProperty("bench.op", None)
        self.ops.append(Op(seq, span, self.phase, self.pass_idx, t0, t1, ok))
        if not ok:
            self.failed += 1
        return out

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """Record one output check; a mismatch counts as a failed op."""
        self.checks += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {what} {detail}", file=sys.stderr)

    @property
    def attempted(self) -> int:
        return len(self.ops) + self.checks

    def select(self, phase: str) -> list[Op]:
        return [o for o in self.ops if o.phase == phase]


@dataclass
class JobStat:
    op: int | None
    submit: float
    end: float | None = None
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    records_read: int = 0


def read_event_log(log_dir: str) -> list[dict]:
    """All events of every application log under ``log_dir`` (plain or
    rolling layout, uncompressed)."""
    events = []
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.endswith(".crc"):
                continue
            with open(os.path.join(root, name), encoding="utf-8") as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def job_stats(events: list[dict]) -> dict[int, list[JobStat]]:
    """Jobs grouped by the ``bench.op`` tag of the call that ran them."""
    jobs: dict[int, JobStat] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            tag = (e.get("Properties") or {}).get("bench.op")
            jobs[e["Job ID"]] = JobStat(
                int(tag) if tag is not None else None, e["Submission Time"] / 1e3
            )
            for s in e.get("Stage IDs", []):
                stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e.get("Stage ID"), -1))
            if job is None:
                continue
            m = e.get("Task Metrics") or {}
            job.tasks += 1
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            job.records_read += (m.get("Input Metrics") or {}).get(
                "Records Read", 0
            )
    by_op: dict[int, list[JobStat]] = {}
    for j in jobs.values():
        if j.op is not None:
            by_op.setdefault(j.op, []).append(j)
    return by_op


def _covered(op: Op, jobs: list[JobStat]) -> float:
    """Length of the union of the jobs' submit→end intervals inside the
    op's own interval."""
    spans = sorted(
        (max(j.submit, op.t0), min(j.end if j.end else op.t1, op.t1))
        for j in jobs
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


SPAN_METRICS = (
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_cpu_s", "s"),
    ("shuffle_bytes", "bytes"),
)


def span_metrics(
    ops: list[Op], by_op: dict[int, list[JobStat]], spans: list[str]
) -> dict[str, float]:
    """Per span, the median over passes of each pass's totals:
    ``wall_s``, ``driver_s`` (wall minus the time covered by the span's
    jobs), ``jobs``, ``tasks``, ``task_cpu_s`` and ``shuffle_bytes``.
    Spans the workload never entered report 0."""
    passes = sorted({o.pass_idx for o in ops})
    out: dict[str, float] = {}
    for span in spans:
        rows = []
        for p in passes:
            mine = [o for o in ops if o.pass_idx == p and o.span == span]
            jobs = [(o, by_op.get(o.seq, [])) for o in mine]
            rows.append(
                {
                    "wall_s": sum(o.wall for o in mine),
                    "driver_s": sum(o.wall - _covered(o, js) for o, js in jobs),
                    "jobs": sum(len(js) for _, js in jobs),
                    "tasks": sum(j.tasks for _, js in jobs for j in js),
                    "task_cpu_s": sum(j.cpu_s for _, js in jobs for j in js),
                    "shuffle_bytes": sum(
                        j.shuffle_bytes for _, js in jobs for j in js
                    ),
                }
            )
        for name, _unit in SPAN_METRICS:
            vals = [r[name] for r in rows] or [0]
            out[f"{span}.{name}"] = statistics.median(vals)
    return out


def first_job_delay(ops: list[Op], by_op: dict[int, list[JobStat]]) -> float:
    """Median time from a ``plans.*`` call to its first job's submission
    (0 when the workload makes no such call)."""
    delays = [
        min(j.submit for j in by_op[o.seq]) - o.t0
        for o in ops
        if o.span.startswith("plans.") and by_op.get(o.seq)
    ]
    return statistics.median(delays) if delays else 0.0
