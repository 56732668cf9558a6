"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_cron --seed 1 --seconds 15 --trace 0

Runs one workload in one process against the package's public
functions, prints a table of every figure by name with its unit, checks
the outputs, and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``). A traced
run also writes its spans to ``.perfbench/traces/``.

Everything it writes stays under ``.perfbench/`` in the checkout; the
per-run scratch directory is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "data_warehouse_opensky_spark"
APP = "perfbench"

#: Session starts measured per run for setup_s (after the first launch).
SETUP_REPEATS = 9
#: A run that has not finished by then is abandoned (the limit is 180 s).
WATCHDOG_S = 170


def pin_environment(run_dir: str) -> None:
    """Settings every run gets, before Spark or the package is imported:
    one core per local task slot and shuffle partition, the checkout on
    the Python workers' path, and all scratch space inside `run_dir`."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(run_dir)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
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


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of this process, the driver JVM and the JVM's Python
    workers (each process's high-water mark, summed)."""
    import resource

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kb += _vm_hwm_kb(jvm_pid) + sum(_vm_hwm_kb(p) for p in _descendants(jvm_pid))
    return kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM it runs in and the JVM's Python workers,
    and wait for all of them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # the workers exit once the JVM's end of their pipes closes
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in workers:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None


def fmt(value: float) -> str:
    return f"{value:.6g}"


def run(args: argparse.Namespace, run_dir: str, out_root: str) -> dict:
    from perfbench import metrics
    from perfbench.stats import gmean_of_medians, median, ratio, tail
    from perfbench.trace import EngineCounters, Tracer, install
    from perfbench.workloads import INGEST_SHAPES, QUERY_MIX, QUERY_SF, WORKLOADS, Outcome

    import data_warehouse_opensky_spark.plans  # noqa: F401 - registers the catalog
    from data_warehouse_opensky_spark import session

    tracer = Tracer()
    restore = install(tracer) if args.trace else (lambda: None)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    wl = WORKLOADS[args.workload](args.workload, args.seed, run_dir, tracer)
    out = Outcome()
    spark = None
    try:
        t = time.perf_counter()
        spark = session.get_spark(APP)
        spark.range(1).count()
        launch_s = time.perf_counter() - t
        jvm_pid = spark.sparkContext._gateway.proc.pid
        if args.trace:
            tracer.counters = EngineCounters(spark)
        phases = {"launch": launch_s}
        for phase, step in (
            ("warmup", lambda: wl.warm_up(spark)),
            ("measure", lambda: wl.measure(spark, args.seconds, out)),
            ("check", lambda: wl.check(spark, out)),
        ):
            tracer.phase = phase
            t = time.perf_counter()
            step()
            phases[phase] = time.perf_counter() - t
        tracer.counters = None  # bound to the session stopped next
        # Session restarts come last, in a warm JVM, so that setup_s is
        # the cost of a session start rather than the JIT's progress, and
        # the timed operations run in the session their warm-up ran in.
        tracer.phase = "setup"
        setup: list[float] = []
        for _ in range(SETUP_REPEATS):
            spark.stop()
            t = time.perf_counter()
            spark = session.get_spark(APP)
            spark.range(1).count()
            setup.append(time.perf_counter() - t)
        phases["setup"] = sum(setup)
        get_spark_s = [sp.duration for sp in tracer.spans if sp.name == "session.get_spark"][1:]
        rss = peak_rss_mb(jvm_pid)
        out.layer["spark.peak_rss_mb"] = rss
    finally:
        restore()
        if spark is not None:
            stop_spark(spark)

    lat = out.op_latencies
    if not lat:
        raise RuntimeError(f"no operation completed: {out.failures[:3]}")
    ingest = args.workload in INGEST_SHAPES
    qtail = tail(lat) if not ingest else None
    e2e = {
        "setup_s": median(setup),
        "op_p50_gmean_s": gmean_of_medians(out.named),
        "ops_per_min": 60.0 * len(lat) / out.measured_s,
    }

    # ---- the table: every figure by name, with its unit ----------------
    if ingest:
        shape = INGEST_SHAPES[args.workload]
        size = (
            f"{shape.files_per_cycle} files x {shape.rows_per_file} rows per cycle, "
            f"{len(lat)} cycles"
        )
    else:
        size = f"{len(QUERY_MIX)} queries at sf {QUERY_SF}, {len(lat)} queries timed"
    print(f"workload {args.workload}  seed {args.seed}  cores {cores}  ({size})")
    query_only = ("query_p50_s", "query_tail_s", "queries_per_min")
    figures = dict(out.figures)
    figures["setup_s"] = (e2e["setup_s"], "s")
    if not ingest:
        figures["query_p50_s"] = (median(lat), "s")
        figures["queries_per_min"] = (e2e["ops_per_min"], "1/min")
    figures["failed_ratio"] = (ratio(len(out.failures), out.attempted), "ratio")
    figures["peak_rss_mb"] = (rss, "MB")
    for name in (
        "setup_s", "cycle_p50_s", "ingest_rows_per_s", "stream_rows_per_s",
        "stored_bytes_per_input_byte", *query_only, "failed_ratio", "peak_rss_mb",
    ):
        if name == "query_tail_s" and not ingest:
            if qtail is None:
                print(f"  {name:<28} n/a ({len(lat)} samples, none with 10 beyond)")
            else:
                p, v, n = qtail
                print(f"  {name:<28} {fmt(v)} s  (p{p:.1f} of {n} samples)")
        elif name in figures:
            v, unit = figures[name]
            print(f"  {name:<28} {fmt(v)} {unit}")
        else:
            only = "query_mix" if name in query_only else "ingest workloads"
            print(f"  {name:<28} n/a ({only} only)")
    print("  phase seconds: " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
    print("  set-up seconds: " + " ".join(f"{x:.3f}" for x in setup))
    print("  operation seconds: " + " ".join(f"{x:.2f}" for x in lat))
    for msg in out.failures:
        print(f"  FAILED: {msg}")

    result_metrics: dict[str, dict] = {}
    if args.trace:
        layer = metrics.layer_metrics(tracer, out, get_spark_s, cores)
        self_t = metrics.layer_self_times(tracer)
        measured = sum(
            sp.duration for sp in tracer.spans if sp.phase == "measure" and sp.parent is None
        )
        print("  layer self time (measured phase):")
        for name, s in sorted(self_t.items(), key=lambda kv: -kv[1]):
            print(f"    {name:<12} {fmt(s)} s  {100 * ratio(s, measured):.1f}%")
        prev = os.path.join(out_root, "results", f"{args.workload}-seed{args.seed}.json")
        if os.path.exists(prev):
            with open(prev) as f:
                base = json.load(f)
            for k, v in e2e.items():
                if k in base:
                    print(f"  tracing overhead {k:<16} {fmt(v - base[k])} ({fmt(base[k])} untraced)")
        traces = os.path.join(out_root, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"e2e": e2e, "per_layer": layer, "spans": tracer.records()}, f)
        for name, (unit, _better) in metrics.PER_LAYER.items():
            result_metrics[name] = {"value": layer[name], "unit": unit}
    else:
        results = os.path.join(out_root, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(e2e, f)
        for name, (unit, _better, _bound) in metrics.END_TO_END.items():
            result_metrics[name] = {"value": e2e[name], "unit": unit}
    return {
        "correct": not out.failures,
        "attempted": out.attempted,
        "failed": len(out.failures),
        "metrics": result_metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest_cron", "ingest_backfill", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: package {PKG} not found next to perfbench/", file=sys.stderr)
        return 2
    out_root = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_root, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(WATCHDOG_S)
    cwd = os.getcwd()
    try:
        pin_environment(run_dir)
        sys.path.insert(0, ROOT)
        result = run(args, run_dir, out_root)
    except Exception:  # noqa: BLE001 - the entry point reports and fails
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
