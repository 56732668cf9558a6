"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import csv
import io
import json
import math
import os
import statistics

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, gen, metrics
from perfbench.stats import gmean_of_medians, median, percentile, quartile_spread, ratio, tail
from perfbench.trace import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))


# ---- stats -----------------------------------------------------------------


@pytest.mark.parametrize("n", [1, 2, 5, 11, 100])
def test_percentile_matches_numpy(n):
    xs = list(np.random.default_rng(n).normal(size=n))
    for q in (0, 10, 25, 50, 90, 99, 100):
        assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_median_odd_and_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_percentile_of_empty_sample_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_needs_more_than_ten_samples():
    assert tail([1.0] * 10) is None
    p, v, n = tail([float(i) for i in range(11)])
    assert (p, v, n) == (pytest.approx(100 / 11), 0.0, 11)


@pytest.mark.parametrize("n", [11, 20, 57, 100, 1000])
def test_tail_leaves_exactly_ten_samples_beyond(n):
    xs = list(np.random.default_rng(n).permutation(n).astype(float))
    p, v, count = tail(xs)
    assert count == n
    assert sum(x > v for x in xs) == 10
    assert p == pytest.approx(100.0 * (n - 10) / n)


def test_tail_of_100_samples_is_p90():
    p, v, _ = tail([float(i) for i in range(1, 101)])
    assert (p, v) == (90.0, 90.0)


def test_gmean_of_medians():
    assert gmean_of_medians({"a": [1.0, 9.0, 2.0], "b": [8.0]}) == pytest.approx(4.0)
    assert gmean_of_medians({"cycle": [7.0, 9.0]}) == pytest.approx(8.0)
    assert gmean_of_medians({"a": [], "b": [3.0]}) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        gmean_of_medians({"a": []})


def test_gmean_of_medians_moves_with_one_kind():
    # the median of all samples sits between two kinds and jumps when one
    # sample crosses the gap; the geometric mean moves by the kind's share
    fast, slow = [1.0, 1.0], [3.0, 3.0]
    before = {"fast": fast, "slow": slow}
    after = {"fast": fast, "slow": [1.2, 3.0]}
    assert median(fast + [1.2, 3.0]) / median(fast + slow) == pytest.approx(0.55)
    assert gmean_of_medians(after) / gmean_of_medians(before) == pytest.approx(
        math.sqrt(2.1 / 3.0)
    )


def test_ratio_edge_cases():
    assert ratio(3, 4) == 0.75
    assert ratio(0, 0) == 0.0
    assert math.isinf(ratio(1, 0))


def test_quartile_spread_matches_statistics():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.3]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / q2)


# ---- crawl generator -------------------------------------------------------


def _read(path):
    with open(path, newline="") as f:
        text = f.read()
    assert '"' not in text  # the contract has no quoting
    return list(csv.reader(io.StringIO(text)))


@pytest.fixture(scope="module")
def crawls(tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    g = gen.CrawlGenerator(seed=5, fleet_size=6000)
    files = [g.write(str(d), 4000, edge_row=(i == 0)) for i in range(2)]
    return d, files


def test_crawl_header_and_width(crawls):
    d, files = crawls
    for cf in files:
        rows = _read(os.path.join(d, cf.name))
        assert ",".join(rows[0]) == gen.RAW_HEADER
        assert all(len(r) == 17 for r in rows)
        assert len(rows) - 1 == cf.rows


def test_crawl_null_profile(crawls):
    d, files = crawls
    rows = [r for cf in files for r in _read(os.path.join(d, cf.name))[1:]]
    cols = gen.RAW_HEADER.split(",")
    df = pd.DataFrame(rows, columns=cols)
    n = len(df)

    callsign = df["callsign"]
    assert (callsign[callsign != ""].str.len() == 8).all()
    assert 0.008 < (callsign == "").mean() < 0.025

    assert set(df["on_ground"]) == {"True", "False"}
    assert set(df["spi"]) <= {"True", "False"}
    grounded = df[df["on_ground"] == "True"]
    assert 0.05 < len(grounded) / n < 0.11
    assert (grounded["baro_altitude"] == "").all()
    assert (grounded["geo_altitude"] == "").all()

    assert (df["sensors"] == "").all()

    squawk = df["squawk"][df["squawk"] != ""]
    assert squawk.str.fullmatch(r"[0-7]{4}").all()
    assert squawk.str.startswith("0").any()

    assert df["icao24"].str.fullmatch(r"[0-9a-f]{6}").all()
    assert df["time_position"].astype(int).le(df["last_contact"].astype(int)).all()

    def non_numeric(v: str) -> bool:
        if v == "":
            return False
        try:
            float(v)
        except ValueError:
            return True
        return False

    telemetry = ["longitude", "latitude", "baro_altitude", "velocity"]
    bad = df[telemetry].map(non_numeric).to_numpy().mean()
    assert 0.001 < bad < 0.01
    assert not df[["true_track", "vertical_rate", "geo_altitude"]].map(non_numeric).any().any()


def test_crawl_aircraft_repeat_across_files(crawls):
    _d, files = crawls
    assert len(files[0].icao24 & files[1].icao24) > 1000
    assert gen.EDGE_ICAO24 in files[0].icao24


def test_crawl_edge_row_is_present(crawls):
    d, files = crawls
    rows = _read(os.path.join(d, files[0].name))
    assert ",".join(rows[1]) == gen.EDGE_ROW


def test_crawl_is_a_function_of_the_seed(tmp_path):
    def one(seed, sub):
        p = tmp_path / sub
        p.mkdir()
        cf = gen.CrawlGenerator(seed, fleet_size=500).write(str(p), 85)
        return (p / cf.name).read_bytes()

    first = one(1, "a")
    assert first == one(1, "b")
    assert first != one(2, "c")


def test_tables_have_catalog_schema(tmp_path):
    import pyarrow.parquet as pq

    sizes = gen.write_tables(str(tmp_path), 0.001, seed=3)
    li = pq.read_table(tmp_path / "lineitem.parquet")
    assert li.num_rows == sizes["lineitem"]
    assert str(li.schema.field("l_shipdate").type) == "timestamp[us]"
    ev = pq.read_table(tmp_path / "events.parquet").to_pandas()
    assert ev["ts"].is_monotonic_increasing
    emb = pq.read_table(tmp_path / "embeddings.parquet").to_pandas()
    norms = np.linalg.norm(np.stack(emb["embedding"].to_numpy()), axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5)


def test_file_log_is_a_compacted_snapshot_plus_recent_events(tmp_path):
    import pyarrow.parquet as pq

    from data_warehouse_opensky_spark.warehouse.control import FILE_LOG_SCHEMA

    final = gen.write_file_log(str(tmp_path), seed=4, snapshot_files=300, recent_files=5)
    files = sorted(os.listdir(tmp_path))
    assert len(files) == 1 + 3 * 5
    events = pq.read_table(tmp_path).to_pandas()
    assert list(events.columns) == [f.name for f in FILE_LOG_SCHEMA.fields]
    assert len(events) == 300 + 3 * 5
    assert events["seq"].is_unique
    latest = events.sort_values(["last_updated", "seq"]).groupby("file_name").last()
    assert latest["status"].to_dict() == final
    assert set(final.values()) == {"CLEAN_EXPORTED", "FAILED"}
    recent = events[events["file_name"] == gen.crawl_name(304)]
    assert list(recent.sort_values("seq")["status"]) == ["NEW", "PROCESSING", final[gen.crawl_name(304)]]
    assert final == gen.write_file_log(str(tmp_path / "again"), 4, 300, 5)


def test_live_crawls_follow_the_archived_ones(tmp_path):
    final = gen.write_file_log(str(tmp_path / "log"), seed=1, snapshot_files=3, recent_files=2)
    (tmp_path / "landing").mkdir()
    cf = gen.CrawlGenerator(1, fleet_size=200, first_crawl=5).write(str(tmp_path / "landing"), 85)
    assert cf.name == gen.crawl_name(5) and cf.name not in final


# ---- checks ----------------------------------------------------------------


def test_result_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", None]})
    b = pd.DataFrame({"y": [None, "a", "b"], "x": [3, 1, 2]})
    assert checks.result_digest(a) == checks.result_digest(b)
    c = pd.DataFrame({"x": [1, 2, 4], "y": ["a", "b", None]})
    assert checks.compare_to_oracle("q", a, c)
    assert checks.compare_to_oracle("q", a, b) == []


# ---- tracer ----------------------------------------------------------------


class FakeCounters:
    def __init__(self):
        self.jobs = 0.0

    def snapshot(self):
        return {"jobs": self.jobs}


def test_tracer_self_time_and_self_counters():
    counters = FakeCounters()
    tr = Tracer(counters)
    with tr.span("op.cycle") as outer:
        counters.jobs += 1
        with tr.span("etl.stage") as inner:
            counters.jobs += 2
    self_t = tr.self_times()
    self_c = tr.self_counters()
    assert inner.parent == outer.id
    assert outer.counters["jobs"] == 3 and inner.counters["jobs"] == 2
    assert self_c[outer.id]["jobs"] == 1 and self_c[inner.id]["jobs"] == 2
    assert self_t[outer.id] == pytest.approx(
        outer.duration - inner.duration - outer.inner_overhead
    )
    assert all(v >= 0 for v in self_t.values())


def test_scoped_wrap_opens_a_span_only_under_its_layer():
    tr = Tracer()
    write = tr.wrap(lambda: None, "exec.write", under="etl")
    write()
    with tr.span("control.record"):
        write()
    with tr.span("etl.stage") as stage:
        write()
    writes = [sp for sp in tr.spans if sp.name == "exec.write"]
    assert len(writes) == 1 and writes[0].parent == stage.id


# ---- BENCHMARK.json agrees with the code -----------------------------------


def test_benchmark_json_matches_metric_definitions():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]}
    assert e2e == metrics.END_TO_END
    layer = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert layer == metrics.PER_LAYER
