"""Control-plane tables (SURVEY §1.1.2) — the reference's Postgres
`file_log` / `job_logs`, kept as driver-side event logs.

The reference mutates control rows in place (INSERT … ON CONFLICT DO
NOTHING at load_warehouse.py:110-111, keyed UPDATE at :117-129).
Plain parquet can't update in place (SURVEY §7 watch-out #4), so both
tables are **event-sourced**: every status change is appended as one
parquet file, and the current state is a fold over the events.

Why on the driver: like the reference's `file_log`, the ledger is a
small keyed table (one row per crawl, not fact-scale) that one loader
process reads and updates. As Spark jobs it cost a write job per event
and two scans per discovery; pyarrow reads and folds it in a fraction of
that. The files keep `FILE_LOG_SCHEMA`/`JOB_LOG_SCHEMA`, so Spark still
reads the directory, and a ledger Spark once wrote reads back unchanged.

Status machine reproduced from load_warehouse.py:97,191,198,202,207:
NEW → PROCESSING → CLEAN_EXPORTED | FAILED.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

FILE_LOG_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("row_count", T.LongType()),
        T.StructField("error_message", T.StringType()),
        T.StructField("last_updated", T.TimestampType()),
        # Globally monotonic tiebreak: epoch-nanos at event creation
        # (guarded strictly increasing within a process). Two processes
        # writing the same file's status inside the same last_updated
        # microsecond still order correctly at ns granularity — a
        # per-process 0-based counter would not (latest-wins could pick
        # the wrong writer's event).
        T.StructField("seq", T.LongType()),
    ]
)

JOB_LOG_SCHEMA = T.StructType(
    [
        T.StructField("log_id", T.StringType()),  # uuid (T1.20: uniqueness only)
        T.StructField("job_name", T.StringType()),
        T.StructField("start_time", T.TimestampType()),
        T.StructField("end_time", T.TimestampType()),
        T.StructField("status", T.StringType()),
        T.StructField("message", T.StringType()),
    ]
)


FILE_LOG_ARROW = to_arrow_schema(FILE_LOG_SCHEMA)
JOB_LOG_ARROW = to_arrow_schema(JOB_LOG_SCHEMA)


def _now() -> datetime:
    return datetime.now(timezone.utc)


def _files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return [f for f in os.listdir(path) if os.path.isfile(os.path.join(path, f))]


def _append(path: str, schema: pa.Schema, rows: list[dict]) -> None:
    """Write `rows` as one parquet file, under a `.`-prefixed name that
    readers skip, then renamed into place: no reader sees it half-written."""
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}")
    pq.write_table(pa.Table.from_pylist(rows, schema), tmp)
    os.replace(tmp, os.path.join(path, name))


def _events(path: str, schema: pa.Schema) -> list[dict]:
    """Every event; `pq.read_table` skips `_SUCCESS`, `.crc` and temp files."""
    if not os.path.isdir(path):
        return []
    return pq.read_table(path, schema=schema).to_pylist()


def _frame(spark: SparkSession, rows: list[dict], schema: T.StructType) -> DataFrame:
    return spark.createDataFrame([tuple(r[n] for n in schema.names) for r in rows], schema)


def _compact(path: str, schema: pa.Schema, fold) -> int:
    """Rewrite an event log to its snapshot `fold(events)`; returns the
    superseded event rows removed. Reader-atomic: the snapshot goes in
    first (it duplicates the winning events and each fold is idempotent
    over it), then every older file goes, `.crc`/`_SUCCESS`/temp files
    too. A crash leaves the current state unchanged. A reader that
    listed the directory before the deletes fails with
    FileNotFoundError — never wrong data — and a retry reads the
    snapshot."""
    older = _files(path)
    if not older:
        return 0
    events = _events(path, schema)
    snapshot = fold(events)
    _append(path, schema, snapshot)
    for f in older:
        os.remove(os.path.join(path, f))
    return len(events) - len(snapshot)


def _latest(events: list[dict]) -> list[dict]:
    """FileLog's fold: the latest (last_updated, seq) event per file."""
    latest: dict[str, dict] = {}
    for e in events:
        cur = latest.get(e["file_name"])
        if cur is None or (e["last_updated"], e["seq"]) > (cur["last_updated"], cur["seq"]):
            latest[e["file_name"]] = e
    return list(latest.values())


def _merge_runs(events: list[dict]) -> list[dict]:
    """JobLog's fold, per (log_id, job_name): min(start_time),
    max(end_time), max(message) and the status of the latest event by
    coalesce(end_time, start_time) — nulls ignored, as in SQL.
    Idempotent: folding an already-merged row returns that row."""
    runs: dict[tuple, list[dict]] = {}
    for e in events:
        runs.setdefault((e["log_id"], e["job_name"]), []).append(e)

    def agg(fn, evs, col):
        return fn((e[col] for e in evs if e[col] is not None), default=None)

    def at(e):
        return e["end_time"] or e["start_time"]

    return [
        dict(
            log_id=log_id,
            job_name=job_name,
            start_time=agg(min, evs, "start_time"),
            end_time=agg(max, evs, "end_time"),
            status=max((e for e in evs if at(e)), key=at, default={"status": None})["status"],
            message=agg(max, evs, "message"),
        )
        for (log_id, job_name), evs in runs.items()
    ]


class FileLog:
    """Per-file ingest ledger (T1.5–T1.7), read and folded on the
    driver: the latest (last_updated, seq) event per file wins.
    Single-writer, as the reference's one loader process."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._seq = 0  # last issued epoch-ns; guards strict monotonicity

    def _state(self) -> list[dict]:
        return _latest(_events(self.path, FILE_LOG_ARROW))

    def current(self) -> DataFrame:
        """Latest status per file, as a Spark DataFrame."""
        return _frame(self.spark, self._state(), FILE_LOG_SCHEMA)

    def processed_files(self) -> DataFrame:
        """`SELECT file_name WHERE status != 'NEW'` (load_warehouse.py:97)."""
        return self.current().filter(F.col("status") != "NEW").select("file_name")

    def _event(self, file_name, status, row_count=None, error_message=None) -> dict:
        self._seq = max(self._seq + 1, time.time_ns())
        msg = error_message[:500] if error_message else None  # T1.21, extract_script.py:184
        values = (file_name, status, row_count, msg, _now(), self._seq)
        return dict(zip(FILE_LOG_SCHEMA.names, values))

    def record(
        self,
        file_name: str,
        status: str,
        row_count: int | None = None,
        error_message: str | None = None,
    ) -> None:
        """Append one status event."""
        event = self._event(file_name, status, row_count, error_message)
        _append(self.path, FILE_LOG_ARROW, [event])

    def compact(self) -> int:
        """Rewrite the log to one snapshot file, one row per file
        (VERDICT r10 #3); see `_compact`. Idempotent. Counts as a write
        under the single-writer contract."""
        return _compact(self.path, FILE_LOG_ARROW, _latest)

    def maybe_compact(self, threshold: int = 500) -> int:
        """Auto-compaction hook (VERDICT r11 #6): compact when the
        event log holds more than `threshold` data files. The cadence
        rule is SCALE.md §42's: a load of k crawls appends 2k + 1 files,
        so the reference's hourly load of six crawls crosses 500 after
        ~38 h — compaction then rewrites the log to one file and read
        cost stays O(keys), not O(appends-forever). Cheap when below
        threshold: one listdir. Returns rows removed (0 when below)."""
        data = [f for f in _files(self.path) if not f.startswith(("_", "."))]
        if len(data) <= threshold:
            return 0
        return self.compact()

    def register_new(self, names: list[str]) -> list[str]:
        """Idempotent keyed insert (T1.6 — INSERT … ON CONFLICT DO
        NOTHING): append a NEW event, in one file, for every name the
        ledger does not know yet. Returns the names (input order, no
        duplicates) whose latest status is NEW — the fresh ones and any
        an interrupted run left NEW."""
        status = {e["file_name"]: e["status"] for e in self._state()}
        fresh = [n for n in dict.fromkeys(names) if n not in status]
        if fresh:
            _append(self.path, FILE_LOG_ARROW, [self._event(n, "NEW") for n in fresh])
        status.update(dict.fromkeys(fresh, "NEW"))
        return [n for n in dict.fromkeys(names) if status[n] == "NEW"]


class JobLog:
    """Run-audit table (T1.20, extract_script.py:157-189), kept like
    FileLog: a run's start and end events merge per (log_id, job_name)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _write(self, *values) -> None:
        """Append one event; `values` in JOB_LOG_SCHEMA order."""
        _append(self.path, JOB_LOG_ARROW, [dict(zip(JOB_LOG_SCHEMA.names, values))])

    def start(self, job_name: str) -> str:
        log_id = str(uuid.uuid4())
        self._write(log_id, job_name, _now(), None, "STARTED", None)
        return log_id

    def end(self, log_id: str, job_name: str, status: str, message: str | None = None) -> None:
        msg = message[:500] if message else None
        self._write(log_id, job_name, None, _now(), status, msg)

    def current(self) -> DataFrame:
        runs = _merge_runs(_events(self.path, JOB_LOG_ARROW))
        return _frame(self.spark, runs, JOB_LOG_SCHEMA)

    def compact(self) -> int:
        """Collapse each run's start/end events to one snapshot row."""
        return _compact(self.path, JOB_LOG_ARROW, _merge_runs)
