#!/usr/bin/env python3
"""catena-spark benchmark: one seeded workload per run, on local[<cores>].

    python3 perfbench/run.py --workload catena_api --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones (spans, job groups, Spark event log,
streaming progress). Earlier stdout lines hold a detail record with the
workload's own metric names and the run's stamps; the last line is the
result object. Outputs are checked after the timed region; a wrong output
or an operation that raised makes ``correct`` false and the exit code 1.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import tracing  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3
#: summed top-level span time of the traced cycles must lie within this
#: share of the interleaved untraced cycles' time (same number of cycles).
SPAN_TOLERANCE = 0.15


def start_session(work: Path, cores: int, trace: bool):
    from catena_spark.session import get_spark

    extra = {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=extra)


def vm_quantum(spark) -> float:
    """Median time of a zero-work single-task job."""
    df = spark.range(0, 1, 1, 1)
    t = []
    for i in range(9):
        t0 = time.perf_counter()
        df.collect()
        if i >= 2:
            t.append(time.perf_counter() - t0)
    return statistics.median(t)


def git_sha() -> str | None:
    try:
        p = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return p.stdout.strip() if p.returncode == 0 else None


def cycle_count(wl, seconds: float) -> int:
    """Cycles the timed region runs: ``seconds`` of work at the workload's
    nominal cycle time (measured on a 4-core host), at least three. A
    fixed count keeps the work of a run, and the JIT warmth it reaches,
    the same on a slow and on a fast run."""
    return max(3, round(seconds / wl.NOMINAL_CYCLE_S))


def run_cycles(wl, ctx, count: int, tracer=None, cpu=lambda: 0.0):
    """Run ``count`` cycles. With a tracer, cycles go untraced, traced,
    traced, untraced, ... (ABBA), so both halves see the same JIT warmth
    and host load. Returns
    (cycle walls, primary-op latencies, wall time, cycle CPU seconds from
    ``cpu()``) of the traced cycles, or of all cycles without a tracer,
    and the untraced cycles' walls."""
    walls, lats, cpus, plain = [], [], [], []
    wall = 0.0
    for c in range(count):
        traced = tracer is not None and c % 4 in (1, 2)
        if tracer is not None:
            tracer.enabled = traced
        t0, cpu0 = time.time(), cpu()
        w, lat = wl.cycle(ctx, c)
        if tracer is not None and not traced:
            plain.append(w)
            continue
        wall += time.time() - t0
        cpus.append(cpu() - cpu0)
        walls.append(w)
        lats.extend(lat)
    if tracer is not None:
        tracer.enabled = False
    return walls, lats, wall, cpus, plain


def steal_ticks() -> int:
    """CPU time the hypervisor gave to other guests (``/proc/stat``)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers): live processes' own time plus the time
    of the children each has reaped. Time stolen by the hypervisor is not
    in it."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(entry)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    mine, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in procs.items():
            if ppid == parent and pid not in mine:
                mine.add(pid)
                frontier.append(pid)
    return sum(procs[p][1] for p in mine if p in procs) / os.sysconf("SC_CLK_TCK")


def end_to_end(setup_cpu_s: list[float], cycle_cpu_s: list[float], lats: list[float]) -> dict:
    """The end-to-end metrics every workload reports (BENCHMARK.json), in
    CPU seconds. Wall-clock set-up time, latency and rate are in the
    detail record instead: on a shared VM they move with the CPU time the
    hypervisor steals, from run to run, by more than any bound could
    allow (perfbench/README.md)."""
    return {
        "setup_s": (statistics.median(setup_cpu_s), "s"),
        "cpu_s_per_op": (sum(cycle_cpu_s) / len(lats), "s"),
    }


def layer_metrics(records, cores: int, walls_a, walls_b, wall_b: float, n_primary: int,
                  get_spark_s: float, quantum: float) -> dict:
    """Per-layer metrics every workload reports in its traced run, per
    primary operation of the traced cycles: Spark work attributed through
    job groups, the op time outside Spark jobs (Python, py4j, Catalyst,
    file listing), session start, the job quantum and tracing cost."""
    tot = {f: sum(r[f] for r in records) for f in tracing.COUNTERS}
    job_s = sum(r["job_s"] for r in records)
    span_s = sum(r["s"] for r in records)
    per = lambda v: v / n_primary  # noqa: E731
    return {
        "session.get_spark_s": (get_spark_s, "s"),
        "spark.vm_quantum_s": (quantum, "s"),
        "spark.jobs_per_op": (per(tot["jobs"]), "count"),
        "spark.stages_per_op": (per(tot["stages"]), "count"),
        "spark.tasks_per_op": (per(tot["tasks"]), "count"),
        "spark.job_s_per_op": (per(job_s), "s"),
        "client.self_s_per_op": (per(span_s - job_s), "s"),
        "spark.task_s_per_op": (per(tot["task_s"]), "s"),
        "spark.task_busy_share": (tot["task_s"] / (wall_b * cores), "ratio"),
        "spark.shuffle_bytes_per_op": (per(tot["shuffle_bytes"]), "bytes"),
        "spark.spill_bytes_per_op": (per(tot["spill_bytes"]), "bytes"),
        "spark.input_bytes_per_op": (per(tot["input_bytes"]), "bytes"),
        "spark.output_bytes_per_op": (per(tot["output_bytes"]), "bytes"),
        "scan.files_per_op": (per(tot["files_read"]), "count"),
        "scan.rows_per_op": (per(tot["scan_rows"]), "count"),
        "trace.overhead_share": (sum(walls_b) / sum(walls_a) - 1.0, "ratio"),
    }


def unit_of(name: str) -> str:
    """The unit a detail metric's name implies."""
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if "_per_" in name or name.endswith(("_ratio", "_share")):
        return "ratio"
    return "count"


def with_units(metrics: dict) -> dict:
    """Numbers (and missing values) as {"value", "unit"}; the rest as is."""
    return {
        k: {"value": v, "unit": unit_of(k)}
        if v is None or (isinstance(v, (int, float)) and not isinstance(v, bool)) else v
        for k, v in metrics.items()
    }


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")

    # everything below reads the clock, writes files and decodes
    # timestamps in one fixed place and zone
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import catena_spark  # noqa: F401
        import pyspark

        import workloads
    except ImportError as ex:
        print(f"perfbench: cannot import the program under test: {ex}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")

    work = Path(tempfile.mkdtemp(dir=ROOT, prefix=".perfbench-"))
    for d in ("tmp", "local"):
        (work / d).mkdir()
    for k in [k for k in os.environ if k.startswith(("SPARK_GRAFT_", "CATENA_"))]:
        del os.environ[k]
    os.environ.update({
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        # every JVM spark-submit starts, its launcher too, keeps its temp
        # files in the scratch dir and writes no hsperfdata file elsewhere
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    })
    tempfile.tempdir = str(work / "tmp")
    session = {}
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _run(args, work, session, workloads, pyspark.__version__)
    finally:
        try:
            _stop(session.get("spark"))
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    if spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
    finally:
        # even when stopping raised (a signal cut a py4j call short), the
        # JVM goes and is waited for
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def _run(args, work: Path, session: dict, workloads, spark_version: str) -> int:
    import bench

    cores = len(os.sched_getaffinity(0))
    foreign = bench._concurrent_spark_pids()
    trace = bool(args.trace)
    wl = workloads.WORKLOADS[args.workload]()
    tracer = tracing.Tracer()
    ctx = workloads.Ctx(None, work, args.seed, tracer)

    setup_s, setup_cpu_s, get_spark_s = [], [], []
    for rep in range(SETUP_REPS):
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        if ctx.spark is not None:
            ctx.spark.stop()
        ctx.work = work / f"rep{rep}"
        ctx.work.mkdir()
        t1 = time.perf_counter()
        ctx.spark = session["spark"] = start_session(work, cores, trace)
        get_spark_s.append(time.perf_counter() - t1)
        tracer.sc = ctx.spark.sparkContext
        wl.prepare(ctx)
        setup_s.append(time.perf_counter() - t0)
        setup_cpu_s.append(tree_cpu_s() - cpu0)
    t0 = time.perf_counter()
    wl.warm(ctx)
    warmup_s = time.perf_counter() - t0
    quantum = vm_quantum(ctx.spark)

    n = cycle_count(wl, args.seconds)
    steal0, cpu0, t0 = steal_ticks(), tree_cpu_s(), time.time()
    # traced: as many untraced as traced cycles, in ABBA order
    count = 2 * ((n + 1) // 2) if trace else n
    walls, lats, wall_b, cpus, walls_a = run_cycles(wl, ctx, count, tracer if trace else None,
                                                    tree_cpu_s)
    timed_s, cpu_s = time.time() - t0, tree_cpu_s() - cpu0
    steal_share = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / (timed_s * cores)
    wl.check(ctx)
    foreign = sorted(set(foreign) | set(bench._concurrent_spark_pids(exclude_own=True)))
    ctx.spark.stop()  # flushes the event log

    t = tracing.tail(lats)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "spark.vm_quantum_s": quantum,
        "git_sha": git_sha(),
        "spark_version": spark_version,
        "python_version": platform.python_version(),
        "foreign_spark_jvms": foreign,
        "setup_wall_s_samples": setup_s,
        "setup_cpu_s_samples": setup_cpu_s,
        "warmup_s": warmup_s,
        "cycle_walls_s": walls,
        "timed_s": timed_s,
        "cpu_steal_share": steal_share,
        "timed_cpu_s": cpu_s,
        "cycle_cpu_s": cpus,
        "ops": len(lats),
        "op_tail": None if t is None else {"percentile": t[0], "value_s": t[1], "n": t[2]},
        "errors": ctx.errors[:20],
        "metrics": with_units({
            "op_p50_s": statistics.median(lats),
            # every cycle runs the same number of primary operations; the
            # median cycle keeps a burst of host noise in one cycle out
            "ops_per_s": len(lats) / len(walls) / statistics.median(walls),
            "cycle_s": statistics.median(walls),
            "failed_op_ratio": ctx.failed / max(1, ctx.attempted),
            **wl.details(),
        }),
    }

    if trace:
        records = tracing.op_records(tracer, tracing.read_event_logs(str(work / "eventlog")))
        metrics = layer_metrics(records, cores, walls_a, walls, wall_b, len(lats),
                                statistics.median(get_spark_s), quantum)
        spans = tracer.records()
        span_share = sum(s["self_s"] for s in spans) / sum(walls_a)
        detail.update({
            "ops_by_name": tracing.by_name(records),
            "layers": with_units(wl.layer_details(records)),
            "span_vs_untraced": span_share,
            "span_tolerance": SPAN_TOLERANCE,
            "span_within_tolerance": abs(span_share - 1.0) <= SPAN_TOLERANCE,
        })
        print(json.dumps({"spans": spans}))
    else:
        metrics = end_to_end(setup_cpu_s, cpus, lats)
    # an operation that raised left its output unchecked, so it counts as wrong
    correct = ctx.failed == 0 and not any(e.startswith("wrong output") for e in ctx.errors)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result_line(correct, ctx.attempted, ctx.failed, metrics)))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
