"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout of the repository; it imports the program
from there. Everything it writes goes under ``.perfbench_work/`` (removed
at exit) and ``.perfbench_out/`` (trace spans) in that root.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is the full record: machine shape, every pass time and every end-to-end
metric the workload has.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import resource
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3  # session starts + stagings per run; setup_s uses their median
MIN_PASSES = 2  # timed passes per untraced run, at the least
SCAN_PROBES = 3


#: the CPU-probe kernel of the repository's ``bench.py``, as a program
BURN = "x = 0\nfor i in range({n}):\n    x += i * i\n"


def cpu_probe(procs: int, work: int = 2_000_000) -> float:
    """Seconds for ``procs`` concurrent interpreters each running the burn
    loop over ``work`` integers, min of 3; higher than usual means the host
    is contended."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        running = [
            subprocess.Popen([sys.executable, "-c", BURN.format(n=work)]) for _ in range(procs)
        ]
        for p in running:
            p.wait()
        best = min(best, time.perf_counter() - t0)
    return best


def machine_shape() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    driver_gb = max(1, min(4, mem_kb // (4 << 20)))
    return {
        "nproc": nproc,
        "mem_total_gb": round(mem_kb / (1 << 20), 1),
        "driver_memory": f"{driver_gb}g",
        "python": platform.python_version(),
    }


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def cpu_seconds(spark) -> float:
    """CPU time used so far by the JVM (with its exited children, the Python
    workers) and by this interpreter. Time the hypervisor gave to other
    guests is not in it."""
    with open(f"/proc/{jvm_pid(spark)}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    jvm_ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    t = os.times()
    return jvm_ticks / os.sysconf("SC_CLK_TCK") + t.user + t.system


def peak_rss_mb(spark) -> float:
    """JVM VmHWM plus this interpreter's ru_maxrss."""
    pid = jvm_pid(spark)
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = int(next(l for l in f if l.startswith("VmHWM")).split()[1])
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


class Ctx:
    """State of one run, passed to the workload."""

    def __init__(self, args, shape, work):
        from spans import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.shape = shape
        self.work = work
        self.spark = None
        self.tracer = Tracer()
        self.queries = 0
        self.rep = 0
        self.checks = 0
        self.mismatches: list[str] = []
        self.passes = 0
        self.pass_failures = 0
        self.pass_cpu_s: list[float] = []
        self.probe_facts: list[dict] = []

    def start_session(self, event_log: str | None = None) -> None:
        from fsharp_data_validation_spark.sources.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        extra = {
            "spark.driver.memory": self.shape["driver_memory"],
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
        }
        if event_log:
            extra.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            app=f"perfbench-{self.workload}",
            master=f"local[{self.shape['nproc']}]",
            extra=extra,
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def check(self, what: str, got, want) -> None:
        self.checks += 1
        if got != want:
            self.mismatches.append(f"{what}: got {got!r}, want {want!r}")


def stop_all(ctx) -> None:
    """Stop Spark and the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def timed_passes(ctx, wl, seconds: float, min_passes: int) -> tuple[list[float], list[dict]]:
    """Closed-loop passes until ``seconds`` have passed and at least
    ``min_passes`` succeeded; returns the pass times and facts, and adds each
    pass's CPU time to ``ctx.pass_cpu_s``. A pass that raises counts as a
    failed operation."""
    times, facts = [], []
    deadline = time.perf_counter() + seconds
    while len(times) < min_passes or time.perf_counter() < deadline:
        ctx.passes += 1
        t0, c0 = time.perf_counter(), cpu_seconds(ctx.spark)
        try:
            with ctx.tracer.span("pass"):
                f = wl.run_pass(ctx)
        except Exception:
            traceback.print_exc()
            ctx.pass_failures += 1
            if ctx.pass_failures > 3:
                raise
            continue
        times.append(time.perf_counter() - t0)
        ctx.pass_cpu_s.append(cpu_seconds(ctx.spark) - c0)
        facts.append(f)
        if wl.verify_every_pass:
            wl.verify(ctx, f)
    if not wl.verify_every_pass:
        wl.verify(ctx, facts[-1])
    return times, facts


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import fsharp_data_validation_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import gen
    import workloads
    from oracle import Oracle

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_PYTHON=sys.executable,
    )

    shape = machine_shape()
    stat0 = cpu_times()
    shape["cpu_probe_s"] = cpu_probe(shape["nproc"])
    ctx = Ctx(args, shape, work)
    wl = workloads.WORKLOADS[args.workload]()
    ctx.turns = wl.turns
    try:
        # set-up: session start and input staging, SETUP_REPS times (the
        # first launches the JVM); then the one warm-up pass
        starts = []
        for rep in range(SETUP_REPS):
            ctx.rep = rep
            ctx.input_dir = os.path.join(work, f"in{rep}")
            t0 = time.perf_counter()
            ctx.start_session()
            ctx.files = gen.write_partitioned(gen.generate(wl.turns, args.seed), ctx.input_dir)
            wl.stage(ctx)
            starts.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(os.path.join(work, f"in{rep - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        wl.run_pass(ctx)
        warmup = time.perf_counter() - t0
        ctx.oracle = Oracle(ctx.input_dir, os.path.join(work, "tmp"))
        ctx.check("input turns", ctx.oracle.turns(), wl.turns)
        ctx.oracle_counts = ctx.oracle.violation_counts()
        wl.reference(ctx)

        # every run measures at least MIN_PASSES passes, so that each run's
        # median has the same make-up whatever the host's load; a traced run
        # measures twice (untraced, then traced), half as long and one pass each
        seconds = args.seconds / 2 if args.trace else args.seconds
        min_passes = 1 if args.trace else MIN_PASSES
        times, facts = timed_passes(ctx, wl, seconds, min_passes)
        shape["spark"] = ctx.spark.version
        e2e = {
            "setup_s": workloads.median(starts) + warmup,
            "turns_per_s": wl.turns / workloads.median(times),
            "cpu_us_per_turn": 1e6 * workloads.median(ctx.pass_cpu_s) / wl.turns,
            "peak_rss_mb": peak_rss_mb(ctx.spark),
            **wl.end_to_end(ctx, facts),
        }
        layer_metrics = traced_run(ctx, wl, args, seconds, e2e) if args.trace else None
    finally:
        if getattr(ctx, "oracle", None) is not None:
            ctx.oracle.close()
        stop_all(ctx)
        shutil.rmtree(work, ignore_errors=True)

    shape["cpu_steal_share"] = steal_share(stat0, cpu_times())
    for m in ctx.mismatches:
        print(f"perfbench: mismatch: {m}", file=sys.stderr)
    attempted = ctx.passes + ctx.checks
    failed = ctx.pass_failures + len(ctx.mismatches)
    e2e["failed_ops_ratio"] = failed / attempted
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "machine": shape,
        "turns": wl.turns,
        "setup_starts_s": starts,
        "warmup_s": warmup,
        "pass_s": times,
        "pass_cpu_s": ctx.pass_cpu_s[: len(times)],
        "end_to_end": e2e,
        "mismatches": ctx.mismatches,
    }
    print(json.dumps(record))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = layer_metrics if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def traced_run(ctx, wl, args, seconds, e2e) -> dict:
    """Restart Spark with the event log on, rerun the passes inside spans,
    then fold the log into the per-layer metrics."""
    import layers
    import workloads
    from spans import EventLog, Tracer

    from fsharp_data_validation_spark.sources import transcripts

    events = os.path.join(ctx.work, "events")
    ctx.start_session(event_log=events)
    wl.run_pass(ctx)  # warm-up in the new session, as after set-up; no spans
    ctx.tracer = Tracer(ctx.spark.sparkContext, run_id=f"{args.workload}-{args.seed}")
    with layers.patched(ctx.tracer, wl.patches()):
        ttimes, tfacts = timed_passes(ctx, wl, seconds, 1)
        for _ in range(SCAN_PROBES):
            with ctx.tracer.span("probe.scan"), ctx.tracer.span("sources.scan"):
                workloads.force(transcripts.load_transcripts(ctx.spark, ctx.input_dir))
        wl.probes(ctx)
    ctx.spark.stop()
    ctx.spark = None
    (log,) = os.listdir(events)
    ev = EventLog.read(os.path.join(events, log))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    ctx.tracer.write(os.path.join(out_dir, f"{args.workload}-{args.seed}.spans.jsonl"))
    return layers.per_layer(ctx, wl, ev, ttimes, tfacts, e2e)


if __name__ == "__main__":
    sys.exit(main())
