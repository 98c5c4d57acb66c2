"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import batch, checks, datagen, run, stream

HERE = os.path.dirname(os.path.abspath(__file__))
SF = 0.001


@pytest.fixture(scope="module")
def tables():
    return datagen.base_tables(SF)


def _files(d):
    return {n: open(os.path.join(d, f"{n}.parquet"), "rb").read() for n in datagen.TABLES}


def test_same_seed_gives_byte_identical_inputs(tables, tmp_path):
    datagen.write_permuted(tables, str(tmp_path / "a"), 7)
    datagen.write_permuted(datagen.base_tables(SF), str(tmp_path / "b"), 7)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    src = datagen.EventSource(7)
    one = src.make(np.random.default_rng(1), datagen.backlog_times(7, 2_000))
    two = datagen.EventSource(7).make(np.random.default_rng(1), datagen.backlog_times(7, 2_000))
    assert one[0] == two[0]


def test_other_seed_keeps_row_counts_and_changes_order(tables, tmp_path):
    datagen.write_permuted(tables, str(tmp_path / "a"), 1)
    datagen.write_permuted(tables, str(tmp_path / "b"), 2)
    for name in datagen.TABLES:
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        b = pq.read_table(tmp_path / "b" / f"{name}.parquet")
        assert a.num_rows == b.num_rows
        key = a.column_names[0]
        assert sorted(a[key].to_pylist()) == sorted(b[key].to_pylist())
        if a.num_rows > 5:
            assert a[key].to_pylist() != b[key].to_pylist(), name


def test_stream_inputs_have_malformed_and_all_alert_classes():
    src = datagen.EventSource(3)
    values, valid, _, _ = src.make(np.random.default_rng(0), datagen.backlog_times(3, 60_000))
    assert 0.04 < 1 - valid.mean() < 0.06
    expected = checks.reference_windows(values, [False] * len(values))
    kinds = {w["alert_type"] for w in expected.values()}
    assert kinds == {"normal", "tachycardia", "bradycardia"}


def _alerts(expected):
    return [json.dumps(w) for w in expected.values()]


def test_alert_checker_rejects_corrupted_missing_and_extra_alerts():
    src = datagen.EventSource(5)
    values, _, _, _ = src.make(np.random.default_rng(0), datagen.backlog_times(5, 5_000))
    late = [False] * len(values)
    expected = checks.reference_windows(values, late)
    wm = max(w["window_end"] for w in expected.values())
    good = _alerts(expected)
    assert checks.check_alerts(good, expected, wm)[:2] == (len(expected), 0)

    bad = json.loads(good[0])
    bad["avg_hr"] += 0.5
    assert checks.check_alerts([json.dumps(bad)] + good[1:], expected, wm)[1] == 1
    bad = json.loads(good[1])
    bad["alert_type"] = "tachycardia" if bad["alert_type"] != "tachycardia" else "normal"
    assert checks.check_alerts(good[:1] + [json.dumps(bad)] + good[2:], expected, wm)[1] == 1
    assert checks.check_alerts(good[1:], expected, wm)[1] == 1  # missing
    assert checks.check_alerts(good + good[:1], expected, wm)[1] == 1  # duplicate
    # a window that has not closed yet must not be emitted
    open_wm = wm - 60_000
    attempted, failed, _ = checks.check_alerts(good, expected, open_wm)
    assert failed == len(expected) - attempted > 0


def test_late_events_are_left_out_of_the_reference():
    src = datagen.EventSource(9)
    t = datagen.backlog_times(9, 2_000)
    values, valid, _, _ = src.make(np.random.default_rng(0), t)
    full = checks.reference_windows(values, [False] * len(values))
    i = int(np.flatnonzero(valid)[0])
    late = [k == i for k in range(len(values))]
    assert checks.reference_windows(values, late) != full


def test_query_checker_rejects_a_corrupted_row(tables, tmp_path):
    from hw_kafka_flink_health_spark.queries import ORACLES

    d = str(tmp_path / "t")
    datagen.write_permuted(tables, d, 1)
    cols, rows = batch._oracle_rows(d, ORACLES["q1_pricing_summary"])
    rows = [tuple(r) for r in rows]
    assert len(rows) > 1
    assert checks.compare_rows(cols, rows[::-1], cols, rows) == (True, True, "")
    j = next(k for k, v in enumerate(rows[0]) if isinstance(v, float))
    bad = list(rows[0])
    bad[j] = bad[j] * 1.01 + 1
    ok, _, _ = checks.compare_rows(cols, [tuple(bad)] + rows[1:], cols, rows)
    assert not ok
    assert not checks.compare_rows(cols, rows[1:], cols, rows)[0]
    # columns match by case-insensitive name, in any order
    assert checks.compare_rows(cols[::-1], [r[::-1] for r in rows], cols, rows)[0]


def test_float_tolerance_is_one_unit_of_the_last_rounded_digit():
    assert checks.compare_rows(["x"], [(1.2346,)], ["x"], [(1.2345,)]) == (True, False, "")
    assert not checks.compare_rows(["x"], [(1.2348,)], ["x"], [(1.2345,)])[0]
    assert checks.compare_rows(["x"], [(0.1 + 0.2,)], ["x"], [(0.30000000000000004,)])[0]
    assert not checks.compare_rows(["x"], [("a",)], ["x"], [("b",)])[0]
    assert not checks.compare_rows(["x"], [(None,)], ["x"], [(0.0,)])[0]


def test_duckdb_views_cover_every_table(tables, tmp_path):
    d = str(tmp_path / "t")
    datagen.write_permuted(tables, d, 1)
    con = duckdb.connect()
    for t in datagen.TABLES:
        n = con.execute(f"SELECT count(*) FROM read_parquet('{d}/{t}.parquet')").fetchone()[0]
        assert n == tables[t].num_rows > 0


def test_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert set(batch.MIXES) | {"stream_alerts"} == set(run.WORKLOADS)


def test_every_mixed_query_has_an_oracle():
    from hw_kafka_flink_health_spark.queries import ORACLES, QUERIES

    for names in batch.MIXES.values():
        for q in names:
            assert q in QUERIES and q in ORACLES, q


def test_live_event_timing_keeps_output_independent_of_batch_splits():
    # on-time disorder stays inside the watermark
    assert stream.MAX_DISORDER_MS < stream.WATERMARK_MS
    # late events trail the clock by more than 10 wall seconds of engine lag
    assert stream.LATE_MS[0] / stream.EVENT_SPEED >= 10_000
    assert stream.LATE_MS[0] >= 3 * 60_000
    assert (stream.RATE * stream.TICK_S).is_integer()
