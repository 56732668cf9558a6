"""Metric definitions and their derivation from one run.

End-to-end metrics are defined on every workload; the figures users know
by workload-specific names (cycle_p50_s, query_p50_s, ...) map onto them
as documented in README.md. Per-layer metrics are read from the traced
run's spans; additive ones are given per measured operation (a load
cycle or a query), so a faster build that fits more operations into the
same run length is not penalised for it.
"""

from __future__ import annotations

from .stats import median, ratio
from .trace import COUNTERS, Tracer
from .workloads import QUERY_MIX, Outcome

#: name -> (unit, better, bound)
END_TO_END: dict[str, tuple[str, str, float]] = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_gmean_s": ("s", "lower", 0.25),
    "ops_per_min": ("1/min", "higher", 0.25),
}

#: Layers whose self time is reported as a share of the measured time.
LAYERS = ("control", "etl", "exec", "transform", "streaming", "plans", "sources", "versioned")

#: name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "control.record_calls": ("count/op", "lower"),
    "control.record_s": ("s/op", "lower"),
    "control.register_new_s": ("s/op", "lower"),
    "control.current_s": ("s/op", "lower"),
    "control.compact_calls": ("count/op", "lower"),
    "control.spark_jobs": ("count/op", "lower"),
    "control.log_files": ("count", "lower"),
    "etl.discover_s": ("s/op", "lower"),
    "etl.stage_s": ("s/op", "lower"),
    "etl.stage_s_per_file": ("s/file", "lower"),
    "etl.gold_s": ("s/op", "lower"),
    "etl.files_failed": ("count", "lower"),
    "etl.spark_jobs_per_file": ("jobs/file", "lower"),
    "etl.rows_per_spark_job": ("rows/job", "higher"),
    "etl.rows_per_s": ("rows/s", "higher"),
    "etl.stored_bytes_per_input_byte": ("B/B", "lower"),
    "exec.write_s": ("s/op", "lower"),
    "transform.clean_calls": ("count/op", "lower"),
    "transform.clean_s": ("s/op", "lower"),
    "streaming.clean_to_silver_s": ("s/op", "lower"),
    "streaming.micro_batches": ("count/op", "lower"),
    "streaming.rows": ("rows/op", "higher"),
    "streaming.rows_per_s": ("rows/s", "higher"),
    "plans.build_s": ("s/op", "lower"),
    "plans.exec_s": ("s/op", "lower"),
    "plans.eager_jobs": ("count/op", "lower"),
    **{f"plans.query_s.{q}": ("s", "lower") for q in QUERY_MIX},
    "sources.load_table_calls": ("count/op", "lower"),
    "sources.load_table_s": ("s/op", "lower"),
    "versioned.merge_into_calls": ("count/op", "lower"),
    "versioned.merge_into_s": ("s/op", "lower"),
    "session.get_spark_s": ("s", "lower"),
    **{f"{layer}.self_share": ("ratio", "lower") for layer in LAYERS},
    "spark.jobs": ("count/op", "lower"),
    "spark.stages": ("count/op", "lower"),
    "spark.tasks": ("count/op", "lower"),
    "spark.failed_tasks": ("count/op", "lower"),
    "spark.executor_run_s": ("s/op", "lower"),
    "spark.executor_cpu_s": ("s/op", "lower"),
    "spark.gc_s": ("s/op", "lower"),
    "spark.input_bytes": ("B/op", "lower"),
    "spark.output_bytes": ("B/op", "lower"),
    "spark.shuffle_read_bytes": ("B/op", "lower"),
    "spark.shuffle_write_bytes": ("B/op", "lower"),
    "spark.spill_bytes": ("B/op", "lower"),
    "spark.busy_ratio": ("ratio", "higher"),
    "spark.peak_rss_mb": ("MB", "lower"),
    "trace.overhead_s": ("s/op", "lower"),
    "trace.overhead_share": ("ratio", "lower"),
}

def layer_metrics(tracer: Tracer, out: Outcome, setup_get_spark: list[float], cores: int) -> dict[str, float]:
    """Every PER_LAYER metric for one traced run (0 where the workload
    does not exercise the layer)."""
    ops = max(1, len(out.op_latencies))
    spans = [sp for sp in tracer.spans if sp.phase == "measure"]
    self_t = tracer.self_times()
    self_c = tracer.self_counters()

    def named(name: str):
        return [sp for sp in spans if sp.name == name]

    def total(name: str) -> float:
        return sum(sp.duration for sp in named(name))

    def calls(name: str) -> int:
        return len(named(name))

    def jobs_inclusive(name: str) -> float:
        return sum(sp.counters.get("jobs", 0.0) for sp in named(name))

    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({k: v for k, v in out.layer.items() if k in m})

    m["control.record_calls"] = calls("control.record") / ops
    m["control.record_s"] = total("control.record") / ops
    m["control.register_new_s"] = total("control.register_new") / ops
    m["control.current_s"] = total("control.current") / ops
    m["control.compact_calls"] = calls("control.compact") / ops
    m["control.spark_jobs"] = (
        sum(self_c[sp.id].get("jobs", 0.0) for sp in spans if sp.layer == "control") / ops
    )
    files = out.layer.get("etl.files_staged", 0)
    load_jobs = jobs_inclusive("etl.load")
    m["etl.discover_s"] = total("etl.discover") / ops
    m["etl.stage_s"] = total("etl.stage") / ops
    m["etl.stage_s_per_file"] = ratio(total("etl.stage"), files)
    m["etl.gold_s"] = total("etl.gold") / ops
    m["etl.spark_jobs_per_file"] = ratio(load_jobs, files)
    m["etl.rows_per_spark_job"] = ratio(out.layer.get("etl.rows", 0), load_jobs)
    m["exec.write_s"] = total("exec.write") / ops
    m["transform.clean_calls"] = calls("transform.clean") / ops
    m["transform.clean_s"] = total("transform.clean") / ops
    for k in ("streaming.clean_to_silver_s", "streaming.micro_batches", "streaming.rows"):
        m[k] = out.layer.get(k, 0.0) / ops
    m["plans.build_s"] = total("plans.build") / ops
    m["plans.exec_s"] = total("plans.exec") / ops
    m["plans.eager_jobs"] = jobs_inclusive("plans.build") / ops
    for q in QUERY_MIX:
        m[f"plans.query_s.{q}"] = median(out.named[q]) if out.named.get(q) else 0.0
    m["sources.load_table_calls"] = calls("sources.load_table") / ops
    m["sources.load_table_s"] = total("sources.load_table") / ops
    m["versioned.merge_into_calls"] = calls("versioned.merge_into") / ops
    m["versioned.merge_into_s"] = total("versioned.merge_into") / ops
    m["session.get_spark_s"] = median(setup_get_spark) if setup_get_spark else 0.0

    measured = sum(sp.duration for sp in spans if sp.parent is None)
    by_layer: dict[str, float] = {}
    for sp in spans:
        by_layer[sp.layer] = by_layer.get(sp.layer, 0.0) + self_t[sp.id]
    for layer in LAYERS:
        m[f"{layer}.self_share"] = ratio(by_layer.get(layer, 0.0), measured)

    engine = dict.fromkeys(COUNTERS, 0.0)
    for sp in spans:
        if sp.parent is None:
            for k in COUNTERS:
                engine[k] += sp.counters.get(k, 0.0)
    for k in COUNTERS:
        m[f"spark.{k}"] = engine[k] / ops
    m["spark.busy_ratio"] = ratio(engine["executor_run_s"], measured * cores)
    overhead = sum(sp.inner_overhead for sp in spans)
    m["trace.overhead_s"] = overhead / ops
    m["trace.overhead_share"] = ratio(overhead, measured)
    return m


def layer_self_times(tracer: Tracer) -> dict[str, float]:
    """Measured-phase self time per layer (seconds), for the printout."""
    st = tracer.self_times()
    out: dict[str, float] = {}
    for sp in tracer.spans:
        if sp.phase == "measure":
            out[sp.layer] = out.get(sp.layer, 0.0) + st[sp.id]
    return out
