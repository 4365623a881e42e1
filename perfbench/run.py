"""Benchmark of jurimetria_etl_spark: two workloads, ``ingest_index`` and
``query_mix``, driven through the library's public functions from one
process, on a ``local[N]`` session with N half the CPUs, as a closed loop
with one client.

Run from the repository root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 14 --trace 0

A run generates the workload's inputs from ``--seed``, sets up the Spark
session several times (``setup_s``), runs one cold pass
(``first_pass_s``), then as many warm passes as ``--seconds`` holds at
the workload's nominal pass time (at least two), and checks every pass's
outputs.  With ``--trace 0`` it prints the end-to-end metrics; with
``--trace 1`` it runs two warm passes untraced, restarts the session with
the Spark event log on, runs the rest of the window traced (at least one
pass) and prints the per-layer metrics (see README.md).  The last line
of stdout is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.

Everything the run writes lives under ``.perfbench_work/`` in the
repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T_START = time.perf_counter()
SETUPS = 5  # session set-ups timed per run; setup_s is their median


def proc_stat() -> dict:
    """Host steal seconds (``/proc/stat`` cpu field 8) and load averages."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load = f.read().split()
    return {
        "steal_s": int(cpu[8]) / os.sysconf("SC_CLK_TCK"),
        "loadavg_1m": float(load[0]),
        "loadavg_5m": float(load[1]),
    }


def vm_hwm_mb(pid: int | str) -> float:
    """High-water resident set of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest nearest-rank percentile with at
    least ten samples above it.  Below 100 samples that percentile is
    under p90 and says nothing about the tail, so the maximum stands in."""
    s = sorted(values)
    if len(s) < 100:
        return s[-1], 100.0
    rank = len(s) - 10
    return s[rank - 1], 100.0 * rank / len(s)


def configure_environment(work: str) -> None:
    """Keep every file the run creates under ``work`` and make the repo
    importable by Spark's Python workers.  Must run before pyspark or the
    library is imported (``session.py`` reads ``SPARK_GRAFT_CPUS`` at
    import)."""
    for sub in ("local", "tmp", "data", "passes", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # half the CPUs: the tables are small and tasks last milliseconds, so
    # more task threads buy nothing, while the JIT compiler, the GC and
    # Spark's Python workers need cores of their own; at one task thread
    # per CPU they queue behind the tasks and the timings measure the
    # scheduler
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    # the tables are small; a smaller heap keeps the driver's footprint
    # (and peak_rss_mb) steady on a shared host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # HotSpot writes its perf-counter file to /tmp whatever java.io.tmpdir
    # says; the launcher JVM reads this variable, the driver JVM its conf
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    os.chdir(work)


def session_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"file:{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                # Spark 4 compresses event logs with zstd by default
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file:{work}/eventlog",
            }
        )
    return conf


def start_session(conf: dict[str, str]):
    """A session from ``get_spark`` and the time until its first trivial
    job completes."""
    from jurimetria_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.range(1).count()
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


class Run:
    def __init__(self, wl, work: str, rec):
        self.wl, self.work, self.rec = wl, work, rec
        self.pass_walls: dict[str, list[float]] = {}
        self.results: dict[str, list] = {}
        self.n = 0
        self.last_dir = None

    def one_pass(self, spark, phase: str) -> float:
        self.rec.phase, self.rec.pass_idx = phase, self.n
        out_dir = os.path.join(self.work, "passes", str(self.n))
        os.makedirs(out_dir)
        with contextlib.redirect_stdout(sys.stderr):
            t0 = time.perf_counter()
            result = self.wl.run_pass(spark, self.rec, out_dir)
            wall = time.perf_counter() - t0
            self.checked(self.wl.check_pass, spark, self.rec, out_dir, result)
        if self.last_dir:
            shutil.rmtree(self.last_dir, ignore_errors=True)
        self.last_dir = out_dir
        self.n += 1
        self.pass_walls.setdefault(phase, []).append(wall)
        self.results.setdefault(phase, []).append(result)
        return wall

    def passes(self, spark, phase: str, n: int) -> None:
        for _ in range(n):
            self.one_pass(spark, phase)

    def check_final(self, spark) -> None:
        with contextlib.redirect_stdout(sys.stderr):
            self.checked(self.wl.check_final, spark, self.rec, self.last_dir)

    def checked(self, check, *args) -> None:
        """Run a workload's checks; a check that raises counts as failed."""
        try:
            check(*args)
        except Exception:
            traceback.print_exc()
            self.rec.check(check.__name__, False)


def per_call(ops) -> list[float]:
    """Median wall of each call of a pass across passes (the k-th op of
    every pass is the same call on the same inputs)."""
    by_pass: dict[int, list[float]] = {}
    for o in ops:
        by_pass.setdefault(o.pass_idx, []).append(o.wall)
    return [statistics.median(c) for c in zip(*by_pass.values())]


def end_to_end(run: Run, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    wl, rec = run.wl, run.rec
    warm = [o for o in rec.select("warm") if o.span in wl.latency_spans]
    lat = [o.wall for o in warm]
    calls = per_call(warm)
    # a warm pass: the sum of each call's median across warm passes (with
    # three or more, a stall in one call of one pass does not count)
    pass_s = sum(per_call(rec.select("warm")))
    pooled_tail, pct = tail(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (run.pass_walls["cold"][0], "s"),
        "pass_s": (pass_s, "s"),
        "rows_per_s": (wl.input_rows / pass_s, "rows/s"),
        "ops_per_s": (len(lat) / sum(lat), "1/s"),
        # a pass makes a few calls of very different cost, so a median
        # or tail over the pooled samples jumps between calls from run
        # to run; each call's median across passes is steadier
        "op_p50_s": (statistics.median(calls), "s"),
        "op_tail_s": (max(calls), "s"),
        "bytes_per_row": (wl.bytes_per_row, "bytes"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    by_span: dict[str, list[float]] = {}
    for o in rec.select("warm"):
        by_span.setdefault(o.span, []).append(o.wall)
    passes = len(run.pass_walls["warm"])
    context = {
        "warm_pass_walls_s": run.pass_walls["warm"],
        "warm_call_walls_s": [
            [round(o.wall, 4) for o in rec.select("warm") if o.pass_idx == p]
            for p in sorted({o.pass_idx for o in rec.select("warm")})
        ],
        "op_samples": len(lat),
        "op_tail_by_percentile_s": pooled_tail,
        "op_tail_percentile": round(pct, 1),
        "span_s_per_pass": {k: round(sum(v) / passes, 4) for k, v in by_span.items()},
    }
    return metrics, context


# Per-layer metrics beyond the six per span, with their units.
LAYER_EXTRAS = {
    "sources.pages": "count",
    "sources.transport_s": "s",
    "plans.first_job_s": "s",
    "store.files": "count",
    "store.bytes_per_row": "bytes",
    "ann_store.scan_frac": "ratio",
    "trace_overhead_s": "s",
    "uncovered_share": "ratio",
}


def per_layer(run: Run, work: str) -> tuple[dict, dict]:
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS

    wl, rec = run.wl, run.rec
    traced = rec.select("traced")
    by_op = tracing.job_stats(tracing.read_event_log(os.path.join(work, "eventlog")))
    all_spans = [s for w in WORKLOADS.values() for s in w().spans]
    values = tracing.span_metrics(traced, by_op, all_spans)
    units = {f"{s}.{m}": u for s in all_spans for m, u in tracing.SPAN_METRICS}
    metrics = {k: (v, units[k]) for k, v in values.items()}
    extras = dict.fromkeys(LAYER_EXTRAS, 0.0)
    extras.update(wl.layer_extras(traced, by_op, run.results["traced"]))
    extras["plans.first_job_s"] = tracing.first_job_delay(traced, by_op)
    traced_walls = run.pass_walls["traced"]
    extras["trace_overhead_s"] = statistics.median(traced_walls) - run.pass_walls["warm"][-1]
    covered = [
        sum(o.wall for o in traced if o.pass_idx == p)
        for p in sorted({o.pass_idx for o in traced})
    ]
    extras["uncovered_share"] = statistics.median(
        1 - c / w for c, w in zip(covered, traced_walls)
    )
    metrics.update({k: (v, LAYER_EXTRAS[k]) for k, v in extras.items()})
    jobs = sum(len(v) for v in by_op.values())
    return metrics, {"traced_passes": len(traced_walls), "tagged_jobs": jobs}


def stop_jvm() -> None:
    """Stop the active session and its JVM, if any, and wait for the JVM
    and the Python workers under it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    below = descendants(proc.pid)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # Spark's Python workers would exit on their own once they notice the
    # JVM is gone; stop them now and wait until they have
    for pid in below:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGTERM)
    deadline = time.time() + 30
    while below and time.time() < deadline:
        below = [p for p in below if alive(p)]
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds through the clean-up below like an interrupt does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for needed in ("jurimetria_etl_spark", "tools/gen_testdata.py"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}", file=sys.stderr)
            return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    configure_environment(work)
    try:
        return measure(args, work)
    finally:
        if "pyspark" in sys.modules:  # also on the error path
            stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def measure(args, work: str) -> int:
    from perfbench.tracing import Recorder
    from perfbench.workloads import WORKLOADS
    from tools.gen_testdata import generate

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    host_start = proc_stat()
    timeline: dict[str, float] = {}

    def mark(step: str) -> None:
        timeline[step] = round(time.perf_counter() - T_START, 3)

    mark("imported")
    wl = WORKLOADS[args.workload]()
    data = os.path.join(work, "data")

    def make_inputs() -> None:
        if wl.sf:
            generate(wl.sf, data, args.seed)
        wl.prepare(data, args.seed)

    # inputs are generated while the JVM launches; neither is timed as
    # work, and set-up is timed only after both are done
    with ThreadPoolExecutor(max_workers=1) as pool:
        inputs = pool.submit(make_inputs)
        spark, jvm_launch_s = start_session(session_conf(work, False))
        mark("jvm")
        inputs.result()
    mark("inputs")
    setups = []
    for _ in range(SETUPS):
        spark.stop()
        spark, s = start_session(session_conf(work, False))
        setups.append(s)
    mark("setups")
    rec = Recorder()
    run = Run(wl, work, rec)
    wl.bind(spark)
    # The warm window is a fixed number of passes, as many as --seconds
    # holds at the workload's nominal pass time, so every run measures
    # the same work.  The JVM still speeds up over these passes; a window
    # ended by the clock would end a slow run after fewer, less warmed
    # passes and widen the gap between slow and fast runs.
    warm = max(2, int(args.seconds // wl.nominal_pass_s))
    run.one_pass(spark, "cold")
    mark("cold")
    # a traced run compares its traced passes with the last untraced one,
    # which must not be the first warm pass
    run.passes(spark, "warm", 2 if args.trace else warm)
    mark("warm")
    if args.trace:
        spark.stop()
        spark, _ = start_session(session_conf(work, True))
        rec.sc = spark.sparkContext
        wl.bind(spark)
        run.passes(spark, "traced", max(1, warm - 2))
        rec.sc = None
        mark("traced")
    run.check_final(spark)
    mark("checked")
    from pyspark import SparkContext

    rss = vm_hwm_mb("self") + vm_hwm_mb(SparkContext._gateway.proc.pid)
    stop_jvm()
    mark("stopped")

    if args.trace:
        metrics, context = per_layer(run, work)
    else:
        metrics, context = end_to_end(run, statistics.median(setups), rss)
    host_end = proc_stat()
    context.update(
        {
            "workload": wl.name,
            "seed": args.seed,
            "nproc": len(os.sched_getaffinity(0)),
            "task_threads": int(os.environ["SPARK_GRAFT_CPUS"]),
            "jvm_launch_s": jvm_launch_s,
            "passes": {k: len(v) for k, v in run.pass_walls.items()},
            "error_rate": rec.failed / rec.attempted,
            "host_start": host_start,
            "host_end": host_end,
            "steal_s_run": host_end["steal_s"] - host_start["steal_s"],
            "timeline_s": timeline,
        }
    )
    for name, (value, unit) in metrics.items():
        alias = None if args.trace else wl.aliases.get(name)
        print(f"{name} {value:.6g} {unit}" + (f"  ({alias})" if alias else ""))
    print(f"error_rate {rec.failed / rec.attempted:.6g} ratio")
    print("context " + json.dumps(context, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": rec.failed == 0,
                "attempted": rec.attempted,
                "failed": rec.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
