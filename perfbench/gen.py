"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* OpenSky crawl CSVs following the raw landing-zone contract
  (FIXTURES.md section 1): 17 string columns, header row, no quoting,
  8-character padded callsigns, capitalised ``True``/``False``, null
  altitudes on grounded rows, leading-zero squawks, an always-empty
  ``sensors`` column, aircraft that repeat across crawls, and a small
  share of non-numeric telemetry that the clean layer must coerce to
  NULL.
* An ingest ledger (the ``FileLog`` event log) as a cron pipeline
  leaves it between two compactions: one compacted snapshot of older
  crawls plus one single-row event file per status change of the most
  recent ones.
* The TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings`` that the query catalog reads, written as one parquet
  file per table with the same column names and types as the
  catalog's fixture tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

RAW_HEADER = (
    "icao24,callsign,origin_country,time_position,last_contact,longitude,"
    "latitude,baro_altitude,on_ground,velocity,true_track,vertical_rate,"
    "sensors,geo_altitude,squawk,spi,position_source"
)

COUNTRIES = (
    "Germany", "France", "United Kingdom", "Spain", "Italy", "Switzerland",
    "Kingdom of the Netherlands", "Poland", "Austria", "Ireland", "Turkey",
    "Viet Nam", "United States", "Republic of Korea", "Czech Republic",
    "Belgium", "Denmark", "Norway", "Sweden", "Portugal",
)

#: The grounded edge-case row of FIXTURES.md section 1, written at the
#: head of every crawl's first file.
EDGE_ROW = (
    "4b5da1,ATL780  ,Switzerland,1762999348,1762999348,8.5679,47.4442,,True,"
    "0.19,253.12,,,,,False,0"
)
EDGE_ICAO24 = "4b5da1"

#: First crawl instant (epoch seconds, Nov 2025) and the crawl cadence.
CRAWL_EPOCH = 1762999348
CRAWL_EVERY_S = 600

#: Shares of the null/garbage profile (asserted by the benchmark's tests).
NULL_CALLSIGN_SHARE = 0.015
GROUNDED_SHARE = 0.08
BAD_NUMERIC_SHARE = 0.004
BAD_TOKENS = ("N/A", "err", "--", "1.2.3")


@dataclass(frozen=True)
class CrawlFile:
    name: str
    rows: int
    icao24: frozenset[str]
    bytes: int


class CrawlGenerator:
    """Writes crawl CSVs; aircraft are drawn from a fixed fleet so the
    same ``icao24`` reappears across crawls, as in the live feed."""

    def __init__(self, seed: int, fleet_size: int, first_crawl: int = 0):
        self.rng = np.random.default_rng([seed, 1])
        ids = self.rng.choice(16**6, size=fleet_size + 1, replace=False)
        fleet = [f"{int(i):06x}" for i in ids]
        self.fleet = np.array([f for f in fleet if f != EDGE_ICAO24][:fleet_size])
        self.home = self.rng.integers(0, len(COUNTRIES), size=fleet_size)
        letters = self.rng.integers(0, 26, size=(fleet_size, 3))
        digits = self.rng.integers(1, 9999, size=fleet_size)
        self.callsigns = np.array(
            [
                ("".join(chr(65 + c) for c in row) + str(int(d))).ljust(8)[:8]
                for row, d in zip(letters, digits)
            ]
        )
        self.crawls = first_crawl

    def write(self, landing_dir: str, rows: int, edge_row: bool = False) -> CrawlFile:
        """Write one crawl of `rows` data rows (distinct aircraft) and
        return what the checks need to know about it."""
        rng = self.rng
        t0 = CRAWL_EPOCH + self.crawls * CRAWL_EVERY_S
        name = crawl_name(self.crawls)
        self.crawls += 1
        n = rows - (1 if edge_row else 0)
        pick = rng.choice(len(self.fleet), size=n, replace=False)
        last_contact = t0 - rng.integers(0, 15, size=n)
        time_position = last_contact - rng.integers(0, 5, size=n)
        lon = rng.uniform(-10.0, 30.0, size=n)
        lat = rng.uniform(36.0, 60.0, size=n)
        grounded = rng.random(n) < GROUNDED_SHARE
        baro = rng.uniform(300.0, 12500.0, size=n)
        geo = baro + rng.normal(150.0, 60.0, size=n)
        velocity = np.where(grounded, rng.uniform(0, 15, n), rng.uniform(60, 280, n))
        track = rng.uniform(0.0, 360.0, size=n)
        vrate = np.round(rng.normal(0.0, 6.0, size=n), 2)
        vrate[rng.random(n) < 0.1] = 0.0
        squawk = rng.integers(0, 0o7777 + 1, size=n)
        null_callsign = rng.random(n) < NULL_CALLSIGN_SHARE
        null_squawk = rng.random(n) < 0.12
        null_velocity = rng.random(n) < 0.001
        spi = rng.random(n) < 0.005
        source = np.where(rng.random(n) < 0.9, 0, rng.integers(1, 4, size=n))
        bad = rng.random((n, 4)) < BAD_NUMERIC_SHARE
        bad_tok = rng.integers(0, len(BAD_TOKENS), size=(n, 4))

        def num(v: float, k: int, i: int, digits: int) -> str:
            return BAD_TOKENS[bad_tok[i, k]] if bad[i, k] else f"{v:.{digits}f}"

        lines = [RAW_HEADER]
        if edge_row:
            lines.append(EDGE_ROW)
        for i in range(n):
            a = pick[i]
            g = grounded[i]
            lines.append(
                ",".join(
                    (
                        self.fleet[a],
                        "" if null_callsign[i] else self.callsigns[a],
                        COUNTRIES[self.home[a]],
                        str(time_position[i]),
                        str(last_contact[i]),
                        num(lon[i], 0, i, 4),
                        num(lat[i], 1, i, 4),
                        "" if g else num(baro[i], 2, i, 2),
                        "True" if g else "False",
                        "" if null_velocity[i] else num(velocity[i], 3, i, 2),
                        f"{track[i]:.2f}",
                        "" if g else f"{vrate[i]:g}",
                        "",
                        "" if g else f"{geo[i]:.2f}",
                        "" if null_squawk[i] or g else f"{squawk[i]:04o}",
                        "True" if spi[i] else "False",
                        str(source[i]),
                    )
                )
            )
        path = os.path.join(landing_dir, name)
        data = ("\n".join(lines) + "\n").encode()
        with open(path, "wb") as f:
            f.write(data)
        ids = set(self.fleet[pick].tolist())
        if edge_row:
            ids.add(EDGE_ICAO24)
        return CrawlFile(name=name, rows=rows, icao24=frozenset(ids), bytes=len(data))


# --------------------------------------------------------------------------
# Ingest ledger
# --------------------------------------------------------------------------

#: Share of archived crawls whose final ledger status is FAILED.
FAILED_SHARE = 0.01


def crawl_name(crawl: int) -> str:
    return f"states_crawl_europe_live_data_{crawl:06d}.csv"


def write_file_log(path: str, seed: int, snapshot_files: int, recent_files: int) -> dict[str, str]:
    """Write a ``FileLog`` event log for `snapshot_files` + `recent_files`
    earlier crawls (numbers 0 .. n-1, already archived out of the landing
    dir) and return each one's final status.

    The older crawls sit in one compacted snapshot file, one row each, as
    ``FileLog.compact`` leaves them. Each recent crawl has three events,
    NEW, PROCESSING and its final status, each in a file of its own, as
    ``FileLog.record`` appends them: ``3 * recent_files`` event files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("file_name", pa.string()),
            ("status", pa.string()),
            ("row_count", pa.int64()),
            ("error_message", pa.string()),
            ("last_updated", pa.timestamp("us", tz="UTC")),
            ("seq", pa.int64()),
        ]
    )
    rng = np.random.default_rng([seed, 2])
    n = snapshot_files + recent_files
    failed = rng.random(n) < FAILED_SHARE
    rows = rng.integers(80, 90, size=n)
    final = {crawl_name(i): "FAILED" if failed[i] else "CLEAN_EXPORTED" for i in range(n)}

    def event(i: int, status: str, step: int) -> dict:
        t_us = (CRAWL_EPOCH + i * CRAWL_EVERY_S + 60 + step) * 1_000_000
        done = status == "CLEAN_EXPORTED"
        return {
            "file_name": crawl_name(i),
            "status": status,
            "row_count": int(rows[i]) if done else None,
            "error_message": "malformed CSV record" if status == "FAILED" else None,
            "last_updated": t_us,
            "seq": t_us * 1000,
        }

    os.makedirs(path, exist_ok=True)
    snapshot = [event(i, final[crawl_name(i)], 2) for i in range(snapshot_files)]
    pq.write_table(
        pa.Table.from_pylist(snapshot, schema), os.path.join(path, "part-00000-snapshot.parquet")
    )
    k = 1
    for i in range(snapshot_files, n):
        for step, status in enumerate(("NEW", "PROCESSING", final[crawl_name(i)])):
            pq.write_table(
                pa.Table.from_pylist([event(i, status, step)], schema),
                os.path.join(path, f"part-{k:05d}-event.parquet"),
            )
            k += 1
    return final


# --------------------------------------------------------------------------
# Catalog tables
# --------------------------------------------------------------------------

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
PART_ADJ = "large hot blue old cold red small new".split()
PART_NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
LANGS = ("en", "zh", "es", "fr", "de")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor `sf` (sf=0.1 gives the
    catalog's bench-scale fixture sizes)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(start: str, k: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + (k * 86_400_000_000).astype("timedelta64[us]")


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every catalog table under `out_dir` and return row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    n = table_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)

    def money(lo: float, hi: float, size: int) -> np.ndarray:
        return rng.integers(int(lo * 100), int(hi * 100) + 1, size=size) / 100.0

    def keyname(prefix: str, count: int) -> list[str]:
        return [f"{prefix}#{i:09d}" for i in range(count)]

    tables: dict[str, dict] = {}
    tables["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": list(REGIONS),
    }
    tables["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }
    c = n["customer"]
    tables["customer"] = {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": keyname("Customer", c),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)],
    }
    s = n["supplier"]
    tables["supplier"] = {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": keyname("Supplier", s),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, s),
    }
    p = n["part"]
    tables["part"] = {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": 900.0 + (np.arange(p) % 1000) / 10.0,
    }
    o = n["orders"]
    tables["orders"] = {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": money(1000.0, 500000.0, o),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, o)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)],
    }
    li = n["lineitem"]
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": [("N", "R", "A")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, li)),
    }
    e = n["events"]
    month_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, month_us, e))
    tables["events"] = {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(15, e // 66), e).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, e)],
    }
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS) - 1, k)))
    lang_p = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
    tables["documents"] = {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, size=d, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    m = n["embeddings"]
    vec = rng.normal(size=(m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m).astype(np.int32)),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return n
