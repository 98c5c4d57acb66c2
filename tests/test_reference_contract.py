"""The reference's own pytest contract, ported verbatim (SURVEY §5.1).

Inputs/expectations mirror tests/test_flink_logic.py and
tests/test_kafka_payload.py in the reference repo — run against BOTH the
pure-Python twins and the engine's vectorized expressions on literal
one-row DataFrames.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.functions.classify import classify_expr, classify_window
from hw_kafka_flink_health_spark.functions.parsing import parse_event, parse_events_df

VALID = '{"patient_id": "p001", "timestamp": "2025-11-19T07:15:23.123456+00:00", "heart_rate_bpm": 85}'


# --- pure-Python twins (exact reference contract) ---


def test_parse_event_valid():
    ev = parse_event(VALID)
    assert ev is not None
    assert ev["patient_id"] == "p001"
    assert isinstance(ev["heart_rate_bpm"], int) and ev["heart_rate_bpm"] == 85
    assert isinstance(ev["event_time"], int)


def test_parse_event_invalid_json():
    assert parse_event("not-json") is None


def test_parse_event_missing_fields():
    assert parse_event('{"patient_id": "p001"}') is None


def test_classify_tachycardia():
    assert classify_window(120.0) == "tachycardia"


def test_classify_bradycardia():
    assert classify_window(40.0) == "bradycardia"


def test_classify_normal():
    assert classify_window(75.0) == "normal"


def test_classify_boundaries_strict():
    assert classify_window(100.0) == "normal"
    assert classify_window(50.0) == "normal"


# --- engine path: same contract through Catalyst expressions ---


#: Inputs where a JSON decoder's corner cases could split the engine from
#: the twin; each expectation is whatever `parse_event` returns.
EDGE_CASES = [
    None,
    "",
    "[1, 2]",
    '{"patient_id": "p002", "timestamp": "2025-11-19T07:15:23+00:00", "heart_rate_bpm": 90, "device": {"fw": [1, {"rev": null}]}}',
    '{"patient_id": 123, "timestamp": "2025-11-19T07:15:24+00:00", "heart_rate_bpm": 91}',
    '{"patient_id": "first", "patient_id": "last", "timestamp": "2025-11-19T07:15:25+00:00", "heart_rate_bpm": 92}',
    '{"patient_id": null, "timestamp": "2025-11-19T07:15:26+00:00", "heart_rate_bpm": 93}',
    '{"patient_id": "p003", "timestamp": "not-a-time", "heart_rate_bpm": 94}',
]


def test_engine_parse_matches_contract(spark):
    inputs = [VALID, "not-json", '{"patient_id": "p001"}', *EDGE_CASES]
    raw = spark.createDataFrame([(v,) for v in inputs], "raw string")
    got = sorted(
        (r.patient_id, r.heart_rate_bpm, r.event_time) for r in parse_events_df(raw).collect()
    )
    twins = [parse_event(v) for v in inputs]
    want = sorted(
        (ev["patient_id"], ev["heart_rate_bpm"], ev["event_time"]) for ev in twins if ev is not None
    )
    # invalid rows dropped (None contract); the twin keeps VALID, the
    # nested-extra record, the numeric id as "123" and the last duplicate key
    assert [p for p, _, _ in want] == ["123", "last", "p001", "p002"]
    assert got == want


def test_engine_parse_accepts_z_suffix(spark):
    raw = spark.createDataFrame(
        [('{"patient_id":"p9","timestamp":"2025-11-19T07:15:23.123Z","heart_rate_bpm":70}',)],
        ["raw"],
    )
    rows = parse_events_df(raw).collect()
    assert len(rows) == 1
    assert rows[0].event_time == parse_event(
        '{"patient_id":"p9","timestamp":"2025-11-19T07:15:23.123Z","heart_rate_bpm":70}'
    )["event_time"]


def test_engine_classify_matches_contract(spark):
    df = spark.createDataFrame(
        [(120.0,), (40.0,), (75.0,), (100.0,), (50.0,)], ["avg_hr"]
    )
    got = [r.alert_type for r in df.select(classify_expr("avg_hr").alias("alert_type")).collect()]
    assert got == ["tachycardia", "bradycardia", "normal", "normal", "normal"]


def test_synthetic_generator_payload(spark):
    """The producer-payload contract (tests/test_kafka_payload.py in the
    reference): 3 required fields, int bpm in a plausible range, tz-aware
    ISO timestamp — against our rate-source analog's expression columns."""
    from hw_kafka_flink_health_spark.sources.rate import synthetic_heart_rate_batch

    df = synthetic_heart_rate_batch(spark, n=100)
    rows = df.collect()
    assert len(rows) == 100
    for r in rows:
        assert r.patient_id in {f"p{i:03d}" for i in range(1, 6)}
        assert isinstance(r.heart_rate_bpm, int)
        assert 30 < r.heart_rate_bpm < 200
        assert "+00:00" in r.timestamp or r.timestamp.endswith("Z")
