"""The benchmark's workloads, each driven by one closed-loop client.

* ``ingest_cron``   : few small crawl files per load cycle (the
  reference's 10-minute crawl / hourly stage cadence); per-file control
  work and Spark job launches dominate.
* ``ingest_backfill``: few large crawl files per cycle through the same
  entry points; scans, the clean transform, parquet writes and the
  gold-mart shuffles dominate.
* ``query_mix``     : a fixed list of catalog queries over a seeded
  TPC-H-ish dataset, each forced with a noop write.

A workload object runs in three steps after the session starts:
`warm_up` (untimed, until plans are compiled and caches filled),
`measure` (the timed closed loop) and `check` (output checks, untimed). All package calls go through module
attributes so the traced run's wrappers are seen.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from . import checks, gen
from .stats import median, ratio
from .trace import Tracer

PKG = "data_warehouse_opensky_spark"


@dataclass
class Outcome:
    """What one run measured; every list holds one value per operation."""

    op_latencies: list[float] = field(default_factory=list)
    measured_s: float = 0.0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    #: e2e figures named as users know them (printed, per workload)
    figures: dict[str, tuple[float, str]] = field(default_factory=dict)
    #: per-layer figures the benchmark measures itself (trace-independent)
    layer: dict[str, float] = field(default_factory=dict)
    #: the same latencies by operation kind (the query name, or "cycle")
    named: dict[str, list[float]] = field(default_factory=dict)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# --------------------------------------------------------------------------
# Ingest
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class IngestShape:
    files_per_cycle: int
    rows_per_file: int
    fleet: int


INGEST_SHAPES = {
    "ingest_cron": IngestShape(files_per_cycle=2, rows_per_file=85, fleet=400),
    "ingest_backfill": IngestShape(files_per_cycle=2, rows_per_file=50_000, fleet=80_000),
}

#: Warm-up cycles land files of at most this many rows: enough to compile
#: every plan of the cycle without paying for a large cycle.
WARMUP_ROWS = 2_000

#: The ledger each run starts from (gen.write_file_log): a compacted
#: snapshot of this many earlier crawls, plus three event files for each
#: of this many recent ones. FileLog.maybe_compact fires above 500 files,
#: which a run's ~12 new files per cycle do not reach, so every run times
#: the same ledger size: the middle of a compaction period.
LEDGER_SNAPSHOT_FILES = 2_000
LEDGER_RECENT_FILES = 80


class IngestWorkload:
    """Load cycles into one warehouse. The ledger is pre-seeded and the
    warm-up cycle runs in the same landing, warehouse and checkpoint
    directories, so the timed cycles meet the steady state of a cron
    deployment: a grown ledger, an existing silver table and streaming
    checkpoint."""

    def __init__(self, name: str, seed: int, root: str, tracer: Tracer):
        self.name = name
        self.shape = INGEST_SHAPES[name]
        self.seed = seed
        self.tracer = tracer
        base = os.path.join(root, "ingest")
        self.dirs = {
            "landing": f"{base}/landing",
            "warehouse": f"{base}/warehouse",
            "stream_silver": f"{base}/stream_silver",
            "checkpoint": f"{base}/checkpoint",
        }
        os.makedirs(self.dirs["landing"])
        self.archived = gen.write_file_log(
            self.ledger, seed, LEDGER_SNAPSHOT_FILES, LEDGER_RECENT_FILES
        )
        self.seeded_bytes = _dir_bytes(self.ledger)
        self.gen = gen.CrawlGenerator(
            seed, fleet_size=self.shape.fleet, first_crawl=len(self.archived)
        )
        self.landed: list[gen.CrawlFile] = []
        self.loads: list[dict[str, str]] = []
        self.timed_rows = 0
        self.stream_rows = 0
        self.stream_batches = 0
        self.load_s = 0.0
        self.stream_s = 0.0

    @property
    def ledger(self) -> str:
        return f"{self.dirs['warehouse']}/control/file_log"

    def _cycle(self, spark, rows: int, out: Outcome | None) -> None:
        from data_warehouse_opensky_spark.streaming import ingest
        from data_warehouse_opensky_spark.warehouse import etl

        d = self.dirs
        silver = f"{d['warehouse']}/silver/state_vectors"
        landed = [
            self.gen.write(d["landing"], rows, edge_row=(i == 0))
            for i in range(self.shape.files_per_cycle)
        ]
        self.landed.extend(landed)
        t0 = time.perf_counter()
        res = etl.run_incremental_load(spark, d["landing"], d["warehouse"])
        t1 = time.perf_counter()
        etl.build_gold_marts(spark, silver, f"{d['warehouse']}/gold")
        t2 = time.perf_counter()
        with self.tracer.span("streaming.clean_to_silver"):
            q = ingest.stream_clean_to_silver(
                spark, d["landing"], d["stream_silver"], d["checkpoint"]
            )
            q.awaitTermination()
        t3 = time.perf_counter()
        if out is None:
            return  # the warm-up's files are covered by check()'s ledger check
        self.loads.append(res)
        progress = q.recentProgress
        self.stream_rows += sum(p.numInputRows for p in progress)
        self.stream_batches += sum(1 for p in progress if p.numInputRows > 0)
        self.timed_rows += sum(f.rows for f in landed)
        self.load_s += t1 - t0
        self.stream_s += t3 - t2
        out.op_latencies.append(t2 - t0)
        out.named.setdefault("cycle", []).append(t2 - t0)
        bad = [f"{n}: {s}" for n, s in res.items() if s != "CLEAN_EXPORTED"]
        out.failures.extend(f"cycle {len(out.op_latencies)}: file {b}" for b in bad)

    def warm_up(self, spark) -> None:
        self._cycle(spark, min(self.shape.rows_per_file, WARMUP_ROWS), None)

    def measure(self, spark, seconds: float, out: Outcome) -> None:
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < seconds:
            self.tracer.op = len(out.op_latencies)
            out.attempted += 1
            with self.tracer.span("op.cycle"):
                try:
                    self._cycle(spark, self.shape.rows_per_file, out)
                except Exception as ex:  # noqa: BLE001 - a failed cycle is counted, the run goes on
                    out.failures.append(f"cycle {out.attempted}: {type(ex).__name__}: {ex}")
                    break
        out.measured_s = time.perf_counter() - t_start
        self.tracer.op = None

    def check(self, spark, out: Outcome) -> None:
        from data_warehouse_opensky_spark.warehouse import control, etl

        d = self.dirs
        rows = sum(f.rows for f in self.landed)
        ids = set().union(*(f.icao24 for f in self.landed)) if self.landed else set()
        wh = d["warehouse"]
        silver_rows = spark.read.parquet(f"{wh}/silver/state_vectors").count()
        stream_rows = spark.read.parquet(d["stream_silver"]).count()
        statuses = {
            r.file_name: r.status for r in control.FileLog(spark, self.ledger).current().collect()
        }
        latest = spark.read.parquet(f"{wh}/gold/latest_positions").count()
        rerun = etl.run_incremental_load(spark, d["landing"], wh)
        want = dict(self.archived)
        want.update(dict.fromkeys((f.name for f in self.landed), "CLEAN_EXPORTED"))
        wrong = sum(statuses.get(k) != v for k, v in want.items())
        results = [
            (silver_rows == rows, f"silver has {silver_rows} rows, {rows} generated"),
            (
                statuses == want,
                f"ledger: {wrong} of {len(want)} files ({len(self.archived)} archived, "
                f"{len(self.landed)} landed) with a wrong final status, {len(statuses)} known",
            ),
            (len(rerun) == 0, f"re-run on an unchanged landing dir staged {len(rerun)} files"),
            (latest == len(ids), f"latest_positions has {latest} rows, {len(ids)} aircraft"),
            (stream_rows == silver_rows, f"stream silver {stream_rows} rows, batch {silver_rows}"),
        ]
        out.attempted += len(results)
        out.failures.extend(msg for ok, msg in results if not ok)

        stored = ratio(_dir_bytes(wh) - self.seeded_bytes, sum(f.bytes for f in self.landed))
        staged = sum(1 for res in self.loads for s in res.values() if s == "CLEAN_EXPORTED")
        out.figures.update(
            cycle_p50_s=(median(out.op_latencies), "s"),
            ingest_rows_per_s=(ratio(self.timed_rows, self.load_s), "rows/s"),
            stream_rows_per_s=(ratio(self.stream_rows, self.stream_s), "rows/s"),
            stored_bytes_per_input_byte=(stored, "B/B"),
        )
        out.layer.update(
            {
                "etl.files_staged": staged,
                "etl.rows": self.timed_rows,
                "etl.rows_per_s": ratio(self.timed_rows, self.load_s),
                "etl.stored_bytes_per_input_byte": stored,
                "etl.files_failed": sum(
                    1 for res in self.loads for s in res.values() if s == "FAILED"
                ),
                "control.log_files": sum(
                    1 for f in os.listdir(self.ledger) if not f.startswith((".", "_"))
                ),
                "streaming.clean_to_silver_s": self.stream_s,
                "streaming.micro_batches": self.stream_batches,
                "streaming.rows": self.stream_rows,
                "streaming.rows_per_s": ratio(self.stream_rows, self.stream_s),
            }
        )


# --------------------------------------------------------------------------
# Query mix
# --------------------------------------------------------------------------

#: One query per family; every one has a DuckDB oracle in the catalog.
QUERY_MIX = (
    "join_star_revenue",
    "agg_cube",
    "window_sliding_2h",
    "mart_skyline_revenue_qty",
    "merge_upsert_replay",
    "asof_click_before_purchase",
)

#: Dataset scale factor (sf=0.1 is the catalog's bench scale; see gen.table_sizes).
QUERY_SF = 0.02


class QueryMixWorkload:
    def __init__(self, name: str, seed: int, root: str, tracer: Tracer):
        self.name = name
        self.seed = seed
        self.tracer = tracer
        self.sf_dir = os.path.join(root, "data")
        self.sizes = gen.write_tables(self.sf_dir, QUERY_SF, seed)

    def warm_up(self, spark) -> None:
        """The first pass compiles every plan; its results are the ones
        checked against the oracles."""
        from data_warehouse_opensky_spark.plans import QUERIES

        self.results = {}
        for name in QUERY_MIX:
            try:
                self.results[name] = QUERIES[name].fn(spark, self.sf_dir).toPandas()
            except Exception as ex:  # noqa: BLE001 - reported by check()
                self.results[name] = ex
            finally:
                spark.catalog.clearCache()

    def measure(self, spark, seconds: float, out: Outcome) -> None:
        from data_warehouse_opensky_spark.plans import QUERIES

        t_start = time.perf_counter()
        # whole passes only, so every run times the same queries
        while time.perf_counter() - t_start < seconds:
            for name in QUERY_MIX:
                self.tracer.op = out.attempted
                out.attempted += 1
                try:
                    with self.tracer.span("op.query"):
                        t0 = time.perf_counter()
                        with self.tracer.span("plans.build"):
                            df = QUERIES[name].fn(spark, self.sf_dir)
                        with self.tracer.span("plans.exec"):
                            df.write.format("noop").mode("overwrite").save()
                        dt = time.perf_counter() - t0
                except Exception as ex:  # noqa: BLE001 - a failed query is counted, the run goes on
                    out.failures.append(f"{name}: {type(ex).__name__}: {ex}")
                    continue
                finally:
                    spark.catalog.clearCache()
                out.op_latencies.append(dt)
                out.named.setdefault(name, []).append(dt)
        out.measured_s = time.perf_counter() - t_start
        self.tracer.op = None

    def check(self, spark, out: Outcome) -> None:
        from data_warehouse_opensky_spark import sources
        from data_warehouse_opensky_spark.plans import QUERIES

        con = checks.duck_connection(self.sf_dir, sources.TABLES)
        try:
            for name in QUERY_MIX:
                out.attempted += 1
                got = self.results[name]
                if isinstance(got, Exception):
                    out.failures.append(f"{name}: {type(got).__name__}: {got}")
                    continue
                want = con.execute(QUERIES[name].oracle).df()
                out.failures.extend(checks.compare_to_oracle(name, got, want))
        finally:
            con.close()


WORKLOADS = {
    "ingest_cron": IngestWorkload,
    "ingest_backfill": IngestWorkload,
    "query_mix": QueryMixWorkload,
}
