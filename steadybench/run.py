"""The repository's benchmark: drives the engine from outside, through the
package's public functions, from one client process on ``local[N]``
(N = the smaller of 4 and the machine's core count).

    python3 steadybench/run.py --workload taxi_nightly --seed 1 --seconds 25 --trace 0

A run generates its inputs from ``--seed`` (cached under
``steadybench/_work/inputs``; only the generated files reach the engine),
sets up (session, the workload's base state, one untimed warm-up
operation), then measures a fixed number of operations that follows from
``--seconds`` and the workload's nominal cost per operation, never from
the measured speed, and checks every operation's outputs outside the timed
region.

End-to-end metrics (``--trace 0``): ``setup_s``, ``op_p50_s``,
``rows_per_s`` (input rows over summed operation time) and
``stored_bytes_per_input_byte``. ``--trace 1`` records spans,
a job group per span and Spark's event log, and reports the per-layer
metrics; the span list, layer table and tracing overhead go to
``steadybench/_work/results``.

Standard output ends with one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it holds the steadiness
diagnostics. The run exits 1 when an output check fails, and 2 without a
result when the engine or its tools cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CORES = min(4, os.cpu_count() or 1)


# -- /proc --------------------------------------------------------------------


def process_start_wall() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in _tree_pids(root):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


def tree_cpu_s(root: int) -> float:
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in _tree_pids(root):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += int(f[11]) + int(f[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, _idle, _iow, irq, softirq, steal = f[:8]
    return user + nice + system + irq + softirq + steal, steal


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the driver
    JVM and the PySpark workers), sampled from /proc."""

    def __init__(self, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        pid = os.getpid()
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self.samples += 1
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


# -- environment -------------------------------------------------------------


def prepare_environment(run_id: str, trace: bool) -> str:
    """Keep every file the engine writes inside ``_work``, pin the core
    count, and turn Spark's event log on for the traced run only (through
    a conf dir the benchmark owns). Returns the event-log dir."""
    conf = os.path.join(WORK, "conf")
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    logs = os.path.join(WORK, "eventlog", run_id)
    for d in (conf, tmp, local, logs):
        os.makedirs(d, exist_ok=True)
    defaults = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        # no hsperfdata file: the JVM would write it under /tmp. C1 only:
        # in a process that lives about a minute, C2 is still compiling
        # through the whole measured region (its threads took a third of
        # the process's CPU there), so an operation's time would depend on
        # how far this process's C2 had got; C1's code is settled after
        # the warm-up operation. C1 alone would get a 48 MB code cache,
        # which Spark's generated classes fill, so later operations slow
        # down as compiled code is flushed; keep the tiered 240 MB
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
            " -XX:ReservedCodeCacheSize=240m"
        ),
    }
    if trace:
        defaults.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logs,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.writelines(f"{k} {v}\n" for k, v in defaults.items())
    with open(os.path.join(conf, "log4j2.properties"), "w") as fh:
        fh.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    os.environ.update({
        "SPARK_CONF_DIR": conf,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(CORES),
    })
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    return logs


def stop_session(spark) -> None:
    """Stop the session, then the JVM that PySpark launched, and wait for
    it and every other process this run started."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    me = os.getpid()
    deadline = time.time() + 30
    while len(_tree_pids(me)) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for p in _tree_pids(me)[1:]:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# -- the run -----------------------------------------------------------------


def run(args) -> int:
    t_proc = process_start_wall()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    log_dir = prepare_environment(run_id, bool(args.trace))
    sys.path[:0] = [HERE, REPO, os.path.join(REPO, "tools")]
    try:
        import pyspark  # noqa: F401

        import aim357_2019_etl_and_ml_workshop_spark as engine
        import compare_oracle  # noqa: F401
        import gen_testdata  # noqa: F401
        import spans as tracing
        import workloads
    except ImportError as exc:
        print(f"steadybench: cannot import the engine or its tools: {exc}",
              file=sys.stderr)
        return 2

    tr = tracing.Tracer(enabled=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](WORK, args.seed, args.seconds, tr)
    t = time.time()
    wl.generate()
    gen_s = time.time() - t

    rss = RssSampler()  # peak_rss_mb is a per-layer metric: traced runs only
    if args.trace:
        rss.start()
    # Set-up: process start -> session -> the workload's base state -> its
    # untimed warm-up operations. Everything but input generation counts.
    with tr.call("session", "get_spark"):
        spark = engine.get_spark("steadybench", master=f"local[{CORES}]")
    tr.bind(spark)
    with tr.span("session", "get_spark", "exec"):
        spark.range(1).count()
    with tr.operation(None):
        wl.prepare(spark)
    wl.reset(spark)
    for k in range(wl.warmups):
        with tr.operation(None):
            wl.op(spark, k, warm=True)
        wl.reset(spark)
    setup_s = time.time() - t_proc - gen_s

    busy0, steal0 = cpu_ticks()
    cpu0 = tree_cpu_s(os.getpid())
    times, rows, fails, counts = [], [], [], []
    check_s = 0.0
    for i in range(wl.n_ops):
        try:
            with tr.operation(i):
                t0 = time.perf_counter()
                res = wl.op(spark, i, warm=False)
                dt = time.perf_counter() - t0
        except Exception:
            # a failed operation counts as attempted and failed, untimed
            print(f"steadybench: op {i} raised: {traceback.format_exc()}",
                  file=sys.stderr)
            fails.append(True)
            wl.reset(spark)
            continue
        times.append(dt)
        print(f"steadybench: op {i}: {dt:.3f} s", file=sys.stderr)
        rows.append(res.rows)
        t = time.time()
        try:
            wl.after(res)
            if args.corrupt and i == 0:
                wl.corrupt(res)
            f = wl.check(spark, i, res)
        except Exception:
            f = ["check raised: " + traceback.format_exc(limit=3)]
        check_s += time.time() - t
        if f:
            print(f"steadybench: op {i} failed: {f}", file=sys.stderr)
        fails.append(bool(f))
        counts.append(res.counts)
        wl.reset(spark)
    busy1, steal1 = cpu_ticks()
    cpu1 = tree_cpu_s(os.getpid())
    t = time.time()
    stop_session(spark)
    stop_s = time.time() - t
    if args.trace:
        rss.stop()

    n = len(times)
    attempted, failed = len(fails), sum(fails)
    if not times:
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        return 1
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(times), "s"),
        "rows_per_s": (sum(rows) / sum(times), "rows/s"),
        "stored_bytes_per_input_byte": (
            statistics.median(
                c["stored_bytes_per_input_byte"] for c in counts if c
            ),
            "ratio",
        ),
    }
    # first against last third of the operations: warm-up drift
    k = max(1, n // 3)
    first, last = times[:k], times[-k:]
    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": n,
        "samples": {
            "setup_s": 1, "op_p50_s": n, "rows_per_s": n,
            "stored_bytes_per_input_byte": n, "peak_rss_mb": rss.samples,
        },
        "first_round_p50_s": statistics.median(first),
        "last_round_p50_s": statistics.median(last),
        "steal_ticks": steal1 - steal0, "busy_ticks": busy1 - busy0,
        "tree_cpu_s": round(cpu1 - cpu0, 2),
        "op_s": [round(t, 3) for t in times],
        "gen_s": round(gen_s, 3), "measured_s": round(sum(times), 3),
        "check_s": round(check_s, 3), "stop_s": round(stop_s, 3),
    }
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace:
        metrics = traced_metrics(args, wl, tr, tracing, log_dir, counts, e2e,
                                 results, diag, rss.peak / 2**20)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        if failed == 0:  # the baseline of the traced run's overhead
            base_dir = untraced_dir(results, args.workload)
            os.makedirs(base_dir, exist_ok=True)
            with open(os.path.join(base_dir, f"s{args.seed}.json"), "w") as fh:
                json.dump({k: v for k, (v, _u) in e2e.items()}, fh)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


def traced_metrics(
    args, wl, tr, tracing, log_dir, counts, e2e, results, diag, peak_rss_mb,
):
    jobs = tracing.read_event_logs(log_dir)
    measured = [s for s in tr.spans if s.op is not None]
    setup_spans = [s for s in tr.spans if s.op is None]
    layer, table = tracing.layer_metrics(
        measured, jobs, wl.n_ops, CORES, setup_spans
    )

    def mean(key: str) -> float:
        vals = [c.get(key, 0) for c in counts]
        return sum(vals) / len(vals) if vals else 0.0

    minhash_jobs = tracing.jobs_of(tr.spans, jobs, "minhash_near_duplicates")
    cc_jobs = tracing.jobs_of(tr.spans, jobs, "connected_components")
    layer.update({
        "dedup.minhash_call_jobs": sum(minhash_jobs) / max(1, len(minhash_jobs)),
        "dedup.components_call_jobs": sum(cc_jobs) / max(1, len(cc_jobs)),
        "dedup.pairs": mean("dedup.pairs"),
        "dedup.kept_ratio": mean("dedup.kept_ratio"),
        "manifest.files": mean("manifest.files"),
        "manifest.bytes_rewritten": mean("manifest.bytes_rewritten"),
        "io.bytes_written": mean("io.bytes_written"),
        "peak_rss_mb": peak_rss_mb,
    })
    overhead = tracing_overhead(args, e2e, results)
    diag["tracing_overhead"] = overhead
    steps = {}
    for name, fns in wl.steps.items():
        rows = [r for r in table if (r["layer"], r["fn"]) in fns]
        wall = sum(r["call_s"] + r["exec_s"] for r in rows) / wl.n_ops
        job = sum(r["job_s"] for r in rows) / wl.n_ops
        steps[name] = {
            "wall_s": round(wall, 4), "in_jobs_s": round(job, 4),
            "outside_jobs_s": round(wall - job, 4),
            "task_s": round(sum(r["task_s"] for r in rows) / wl.n_ops, 4),
        }
    diag["steps_per_op"] = steps
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-trace.json"),
              "w") as fh:
        json.dump({
            "layer_table": table, "metrics": layer, "steps_per_op": steps,
            "tracing_overhead": overhead,
            "minhash_call_jobs_per_op": minhash_jobs,
            "components_call_jobs_per_op": cc_jobs,
            "spans": tr.dump(), "jobs": len(jobs),
        }, fh, indent=1)

    def unit(name: str) -> str:
        if name.endswith("_mb"):
            return "MB"
        if name.endswith("_s"):
            return "s"
        if "bytes" in name:
            return "bytes"
        if name.endswith(("_ratio", "_util")):
            return "ratio"
        return "count"

    return {k: {"value": v, "unit": unit(k)} for k, v in sorted(layer.items())}


def untraced_dir(results: str, workload: str) -> str:
    return os.path.join(results, f"{workload}-untraced")


def tracing_overhead(args, e2e, results):
    """The traced run's extra time against the untraced run of the same
    workload and seed, as a share, for ``op_p50_s`` and ``rows_per_s``.
    A share is only resolved when it is larger than the spread
    (interquartile range / median) of that metric over every untraced run
    of the workload in the checkout; with fewer than four such runs the
    spread is unknown and the share is reported unresolved."""
    base_dir = untraced_dir(results, args.workload)
    runs = {}
    if os.path.isdir(base_dir):
        for f in sorted(os.listdir(base_dir)):
            with open(os.path.join(base_dir, f)) as fh:
                runs[f] = json.load(fh)
    same = runs.get(f"s{args.seed}.json")
    if same is None:
        return f"n/a: no untraced {args.workload} run of seed {args.seed} yet"
    out = {}
    for k in ("op_p50_s", "rows_per_s"):
        traced, base = e2e[k][0], same[k]
        # positive = the traced run took longer
        share = traced / base - 1 if k == "op_p50_s" else base / traced - 1
        vals = [r[k] for r in runs.values()]
        spread = None
        if len(vals) >= 4:
            q = statistics.quantiles(vals, n=4)
            spread = (q[2] - q[0]) / statistics.median(vals)
        out[k] = {
            "traced": traced, "untraced_same_seed": base,
            "overhead": round(share, 4),
            "untraced_spread": None if spread is None else round(spread, 4),
            "untraced_runs": len(vals),
            "resolved": spread is not None and abs(share) > spread,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["taxi_nightly", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt the first operation's output;"
                         " the run must then fail")
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
