"""Medallion lakehouse benchmark for the smart-grid engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --all --seed N --seconds S

One process, one client thread, ``local[nproc]``; every workload is a
closed loop (the next operation starts when the previous one returns).
The run builds its inputs from ``--seed`` under ``.perfbench_work/`` in the
working directory, sets up three times (``setup_s`` is the median), runs
operations until ``--seconds`` of operation time has passed (at least one),
checks every operation's output, and prints as its last stdout line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a report with the workload's own
metrics (``ingest_full_s``, ``read_p90_ms``, ...) and their sample counts.

``--trace 1`` runs the warm-up plus one untimed round, an untraced
pass and a traced pass in one process, with Spark's event log switched on
through ``PYSPARK_SUBMIT_ARGS``. For ``CPU1_WORKLOADS`` it then stops that
Spark context and repeats the traced pass on a new one that ``get_spark``
builds with ``SPARK_GRAFT_CPUS=1`` (local[1], same JVM, so both passes run
warm), reported as ``cpu1.*``; they read 0, and the trace line names them
missing, if the host is too slow for that pass to end by
``CPU1_DEADLINE_S``. A traced run sets up once.

The measuring process runs as a child of a small supervisor, which returns
only after every process the run started (the JVM and its Python workers)
has ended, removes the run's files, and stops the run if it overruns
``CHILD_TIMEOUT_S``.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import importlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
NAMES = ("medallion_ingest", "forecast_refresh", "serving_mixed", "registry_battery")
CPU1_WORKLOADS = ("medallion_ingest", "forecast_refresh", "serving_mixed")  # serving's mix holds refreshes
CHILD_TIMEOUT_S = 165  # the run's limit is 180 s; the rest is for stopping processes
CPU1_DEADLINE_S = 150  # a traced run's single-core pass must be expected to end by then
CPU1_COST = 1.5  # single-core pass wall / local[nproc] traced pass wall (0.8-1.2 seen), with margin
STARTED = time.monotonic()
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    which = p.add_mutually_exclusive_group(required=True)
    which.add_argument("--workload", choices=NAMES)
    which.add_argument("--all", action="store_true",
                       help="run every workload untraced, one process each, and print all their metrics")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def _children() -> list[int]:
    """Processes whose parent is this one, zombies included."""
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            kids.append(int(d))
    return kids


def reap_descendants(grace_s: float = 5.0) -> None:
    """Wait until every descendant has ended: ``grace_s`` for them to exit
    on their own (the JVM does once its Python parent is gone), then
    SIGTERM, then SIGKILL. As a child subreaper this process inherits
    descendants whose parents have exited, so all of them show up here."""
    t0 = time.monotonic()
    while kids := _children():
        waited = time.monotonic() - t0
        sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM if waited > grace_s else None
        for pid in kids:
            if sig is not None:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        time.sleep(0.05)


def work_dir(workload: str, pid: int) -> str:
    """Where the measuring process with ``pid`` keeps every file it writes."""
    return os.path.join(os.getcwd(), ".perfbench_work", f"{workload}-{pid}")


def supervise(argv: list[str], workload: str | None, timeout: float | None) -> int:
    """Run the benchmark in a child process; return its exit code once it
    and every process it started have ended and its files are removed."""
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv, "--child"])
    try:
        return child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"benchmark run exceeded {timeout} s; stopped", file=sys.stderr)
        return 1
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
        reap_descendants()
        if workload:
            work = work_dir(workload, child.pid)
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):  # left in place while another run uses it
                os.rmdir(os.path.dirname(work))


def configure(work: str, trace: bool) -> None:
    """Environment for the JVM and Python workers, set before pyspark
    starts: everything Spark, Java and Python write goes under ``work``."""
    for d in ("local", "tmp", "events"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    # executors' Python workers import the package by reference
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            "spark.eventLog.compress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python process plus the JVM."""
    total = 0.0
    for pid in ("self", spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()):
        with open(f"/proc/{pid}/status") as fh:
            total += next(int(x.split()[1]) for x in fh if x.startswith("VmHWM:")) / 1024.0
    return total


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds, user and system, used so far by this process and every
    live descendant (the JVM and its Python workers), each with its reaped
    children. CPU time leaves out the time the hypervisor gives this
    machine's CPUs to other guests (steal), which on a shared host moved
    operation wall times by a third from one run to the next."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)], ticks[int(d)] = int(f[1]), sum(int(x) for x in f[11:15])
    me, total = os.getpid(), 0
    for pid, t in ticks.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            total += t
    return total / CLK_TCK


class Pass:
    """One closed-loop pass: op latencies and CPU seconds by kind, and
    failures."""

    def __init__(self):
        self.ops: list[tuple[str, float, bool, float]] = []
        self.errors: list[str] = []
        self.busy = 0.0

    def run(self, wl, seconds: float) -> "Pass":
        """Operations until ``seconds`` of operation time have passed, on a
        whole number of the workload's rounds (at least one)."""
        while self.busy < seconds or not self.ops or len(self.ops) % wl.ROUND:
            self.step(wl)
        return self

    def step(self, wl) -> None:
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            kind, check = wl.op()
        except Exception:  # a failed operation is counted, not fatal
            kind, check = "error", None
            self.errors.append(traceback.format_exc(limit=3))
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        self.busy += dt
        errs = _run_check(check) if check else ["operation raised"]
        self.ops.append((kind, dt, not errs, cpu))
        self.errors += errs

    def latencies(self, kinds=None) -> list[float]:
        return [dt for k, dt, *_ in self.ops if kinds is None or k in kinds]

    def cpu_times(self) -> list[float]:
        return [cpu for *_, cpu in self.ops]

    @property
    def failed(self) -> int:
        return sum(1 for _, _, ok, _ in self.ops if not ok)


def _run_check(check) -> list[str]:
    try:
        return check()
    except Exception:
        return [traceback.format_exc(limit=3)]


def _pct(xs, q) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def report_metrics(name, wl, p: Pass, setup_s: float, rss: float, reads) -> dict:
    """The workload's own end-to-end metrics, each with unit and count."""
    lat = p.latencies()
    out = {
        "setup_s": (setup_s, "s", SETUP_REPEATS),
        "op_gmean_ms": (statistics.geometric_mean(lat) * 1e3, "ms", len(lat)),
        "ops_per_s": (len(lat) / p.busy, "1/s", len(lat)),
        "op_error_rate": (p.failed / len(p.ops), "ratio", len(p.ops)),
        "peak_rss_mb": (rss, "MB", 1),
    }
    if name == "medallion_ingest":
        for k in ("ingest_full_s", "ingest_incr_s"):
            out[k] = (statistics.median(wl.report[k]), "s", len(wl.report[k]))
    elif name in ("forecast_refresh", "serving_mixed"):  # serving's mix holds refreshes too
        lat = p.latencies({"refresh"})
        out["forecast_refresh_s"] = (statistics.median(lat), "s", len(lat))
    if name == "serving_mixed":
        reads, writes = p.latencies(set(reads)), p.latencies({"write"})
        out["read_p50_ms"] = (statistics.median(reads) * 1e3, "ms", len(reads))
        out["read_p90_ms"] = (_pct(reads, 0.9) * 1e3, "ms", len(reads))
        out["write_p50_ms"] = (statistics.median(writes) * 1e3 if writes else 0.0, "ms", len(writes))
        out["serving_ops_per_s"] = (len(p.ops) / p.busy, "1/s", len(p.ops))
    elif name == "registry_battery":
        per = {}
        for k, dt, *_ in p.ops:
            per.setdefault(k, []).append(dt)
        out["battery_s"] = (sum(statistics.median(v) for v in per.values()), "s", len(per))
    return {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in out.items()}


def end_to_end(p: Pass, setup_s: float) -> dict:
    """The BENCHMARK.json metrics: set-up wall time, and the CPU cost of
    the operations, which unlike their wall time does not move with the
    host's steal (wall latencies are on the report line). Per-operation
    cost is a geometric mean, not a median: a serving round holds fixed
    counts of calls whose costs form clusters, and its median sits on the
    edge between two of them, so it jumped with the seed's draw."""
    cpu = [max(c, 1.0 / CLK_TCK) for c in p.cpu_times()]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_cpu_gmean_ms": {"value": statistics.geometric_mean(cpu) * 1e3, "unit": "ms"},
        "ops_per_cpu_s": {"value": len(cpu) / sum(cpu), "unit": "1/s"},
    }


def run_all(args) -> int:
    """Every workload in its own process; one summary line with each
    workload's named metrics, units, sample counts and check failures."""
    summary, failed = {}, 0
    for name in NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", "0"]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or len(lines) < 2:
            summary[name] = {"error": out.stderr[-2000:]}
            failed += 1
            continue
        rep, result = json.loads(lines[-2]), json.loads(lines[-1])
        summary[name] = {"metrics": rep["report"], "errors": rep["errors"]}
        failed += result["failed"]
    print(json.dumps(summary, indent=1))
    return 1 if failed else 0


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    if not args.child:
        return supervise(argv, args.workload, None if args.all else CHILD_TIMEOUT_S)
    if args.all:
        return run_all(args)
    work = work_dir(args.workload, os.getpid())
    configure(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    spark = None
    try:
        from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark import get_spark
        from perfbench import trace, workloads

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        boot_s = time.perf_counter() - t0
        tracer = trace.Tracer(spark, f"run{os.getpid()}") if args.trace else None
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, work)
        setups = []
        # a traced run reports no setup_s, so it sets up once
        for i in range(1 if args.trace else SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup(f"{work}/setup-{i}")
            setups.append(time.perf_counter() - t0)
        for i in range(len(setups) - 1):  # the workload runs on the last one
            shutil.rmtree(f"{work}/setup-{i}", ignore_errors=True)
        # session start happens once; the input build is repeated and its
        # median taken
        setup_s = boot_s + statistics.median(setups)
        warm = Pass()
        wl.warmup(lambda: warm.step(wl))

        if args.trace:
            result = traced_run(args, spark, wl, tracer, warm, work)
            spark = None  # stopped inside, to read the whole event log
        else:
            p = Pass().run(wl, args.seconds)
            final_errors = wl.final_check()
            rss = peak_rss_mb(spark)
            rep = report_metrics(args.workload, wl, p, setup_s, rss, workloads.READS)
            errors = warm.errors + p.errors + final_errors
            print(json.dumps({"workload": args.workload, "report": rep, "errors": errors[:5]}))
            failed = warm.failed + p.failed + bool(final_errors)
            result = {"correct": failed == 0, "attempted": len(warm.ops) + len(p.ops) + 1, "failed": failed,
                      "metrics": end_to_end(p, setup_s), "errors": errors}
        for e in result.pop("errors"):
            print(e, file=sys.stderr)
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            spark.stop()


def traced_run(args, spark, wl, tracer, warm, work) -> dict:
    """An untraced pass, then the same pass with spans and counters; the
    difference of their median operation times is the tracing overhead.
    Stops Spark, so the event log is complete before it is read, then runs
    the single-core pass for ``CPU1_WORKLOADS``."""
    from perfbench import layers, trace

    t_run = time.monotonic()
    # one more untimed round, so both compared passes run warm
    passes = [warm, Pass().run(wl, 0), Pass().run(wl, args.seconds)]
    untraced_p50 = statistics.median(passes[-1].latencies()) * 1e3
    counters = layers.Counters()
    seen = len(wl.progress)
    t0 = time.monotonic()
    traced, final_errors, window = traced_pass(wl, tracer, counters, args.seconds)
    traced_wall = time.monotonic() - t0
    tracer.collect_jobs()
    passes.append(traced)
    spark.stop()
    events = trace.read_event_log(f"{work}/events")
    m, missing = layers.per_layer(tracer, counters, wl.progress[seen:], events, window)
    op_p50 = statistics.median(traced.latencies()) * 1e3
    m["trace.op_p50_ms"] = op_p50
    m["trace.overhead_ms"] = op_p50 - untraced_p50

    if args.workload in CPU1_WORKLOADS:
        # skipped, and named missing, when the host is so slow that it
        # would not end by CPU1_DEADLINE_S
        if time.monotonic() - STARTED + CPU1_COST * traced_wall > CPU1_DEADLINE_S:
            missing.append("cpu1.* (single-core pass skipped: out of time)")
        else:
            t0 = time.monotonic()
            cpu1, cpu1_errors, cpu1_self = cpu1_pass(args, wl)
            passes.append(cpu1)
            final_errors += cpu1_errors
            m["cpu1.op_p50_ms"] = statistics.median(cpu1.latencies()) * 1e3
            for layer, v in layers.self_by_layer(cpu1_self).items():
                if layer in layers.CPU1_LAYERS:
                    m[f"cpu1.{layer}.self_s"] = v
            print(f"single-core pass {time.monotonic() - t0:.1f} s after a {traced_wall:.1f} s traced pass",
                  file=sys.stderr)
    print(json.dumps({"workload": args.workload, "trace": {
        "spans": len(tracer.spans), "missing": missing,
        "zero_on_this_workload": sorted(k for k in layers.PER_LAYER if not m.get(k)),
        "untraced_op_p50_ms": untraced_p50, "traced_op_p50_ms": op_p50,
        "wall_s": time.monotonic() - t_run}}))
    names = layers.PER_LAYER + (layers.BATTERY_LAYER if args.workload == "registry_battery" else [])
    errors = sum((p.errors for p in passes), final_errors)
    failed = sum(p.failed for p in passes) + bool(final_errors)
    return {"correct": failed == 0, "attempted": sum(len(p.ops) for p in passes) + 1, "failed": failed,
            "metrics": {k: {"value": float(m.get(k, 0.0)), "unit": layers.unit(k)} for k in names},
            "errors": errors}


def traced_pass(wl, tracer, counters, seconds: float) -> tuple[Pass, list[str], tuple[float, float]]:
    """One pass with the span wrappers installed (and the counter hooks,
    unless ``counters`` is None), its wall-clock window, and the
    workload's final check, run untraced."""
    from perfbench import layers, workloads

    # the benchmark's own module and the registry bind package functions too
    tracer.install(layers.targets(counters),
                   extra_modules=[m for n, m in sys.modules.items() if n in ("__spark_entry__", "perfbench.workloads")])
    wl.stage = tracer.span
    t0 = time.time()
    try:
        p = Pass().run(wl, seconds)
    finally:
        window = (t0, time.time())
        tracer.uninstall()
        wl.stage = workloads.no_span
    return p, wl.final_check(), window


def cpu1_pass(args, wl) -> tuple[Pass, list[str], dict[str, float]]:
    """The traced pass again, without counter probes, on a new Spark
    context in the same JVM that ``get_spark`` builds with
    ``SPARK_GRAFT_CPUS=1``: local[1] measured warm, beside the warm
    local[nproc] pass. Returns the pass, its final-check errors and its
    span self times."""
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark import session
    from perfbench import trace

    os.environ["SPARK_GRAFT_CPUS"] = "1"
    importlib.reload(session)  # the module reads SPARK_GRAFT_CPUS when imported
    spark = session.get_spark("perfbench-cpu1")
    try:
        wl.spark = spark
        tracer = trace.Tracer(spark, f"cpu1-{os.getpid()}")
        p, errors, _ = traced_pass(wl, tracer, None, args.seconds)
        return p, errors, tracer.self_times()
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
