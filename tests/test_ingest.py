"""Ingest-chain unit tests (OP-T1..T14) on the raw fixture corpus.

Mirrors the reference adapter's behaviors: fan-out row counts, id
synthesis, timestamp policies, battery calibration, thresholds,
validation rejects, and the late/future clamp.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metrocloud_data_pipeline_spark import schema as S
from metrocloud_data_pipeline_spark.operators import ingest
from metrocloud_data_pipeline_spark.tests_fixtures import RAW_FIXTURE_ROWS, RAW_FIXTURE_SCHEMA

ANCHOR = "2025-09-26 12:00:00"


@pytest.fixture(scope="module")
def raw(spark):
    return spark.createDataFrame(RAW_FIXTURE_ROWS, schema=RAW_FIXTURE_SCHEMA)


@pytest.fixture(scope="module")
def fanned(raw):
    return ingest.fan_out(raw).cache()


def test_fanout_row_counts(fanned):
    # row 1: 9 channels; row 2: 3; row 3: 4; row 4: 2; row 5: 2; row 6: 1
    assert fanned.count() == 21
    by_parent = {r["parent_device"]: r["n"] for r in
                 fanned.groupBy("parent_device").agg(F.count("*").alias("n")).collect()}
    assert by_parent["c6:8d:c6:26:39:a6"] == 9
    assert by_parent["d2:5a:11:07:be:ef"] == 3


def test_fanout_excludes_measurement_sequence(fanned):
    # measurement_sequence is not in the mapping and must never fan out
    assert fanned.where(F.col("channel") == "measurement_sequence").count() == 0


def test_fanout_device_id_synthesis_and_metadata(fanned):
    row = fanned.where(
        (F.col("parent_device") == "c6:8d:c6:26:39:a6") & (F.col("channel") == "temperature")
    ).first()
    assert row["device_id"] == "c6:8d:c6:26:39:a6_temperature"
    assert row["device_type"] == "temperature_sensor"
    assert row["unit"] == "°C"
    assert row["device_metadata"]["parent_device"] == "c6:8d:c6:26:39:a6"
    ax = fanned.where(F.col("channel") == "acceleration_y").first()
    assert ax["device_metadata"]["axis"] == "y"


def test_timestamp_normalization(spark, fanned):
    ts = ingest.timestamp_normalize(fanned, anchor=ANCHOR)
    got = {r["parent_device"]: r["timestamp"].isoformat()
           for r in ts.select("parent_device", "timestamp").distinct().collect()}
    assert got["c6:8d:c6:26:39:a6"] == "2025-09-26T07:00:00"  # epoch 1758870000
    assert got["d2:5a:11:07:be:ef"] == "2025-09-25T08:30:00"  # ISO-8601 Z
    assert got["aa:bb:cc:dd:ee:02"] == "2025-09-26T12:00:00"  # relative uptime -> anchor
    assert got["aa:bb:cc:dd:ee:03"] == "2025-09-26T12:00:00"  # garbage -> anchor


@pytest.mark.parametrize(
    "voltage,expected",
    [(2.91, 91.0), (2.05, 5.0), (1.75, 0.0), (3.5, 100.0), (2.0, 0.0), (None, 0.0)],
)
def test_battery_percent(spark, voltage, expected):
    df = spark.createDataFrame([(voltage,)], "battery_voltage double")
    got = ingest.battery_percent(df).first()["battery_level"]
    assert got == pytest.approx(expected)


def test_anomaly_thresholds(spark, fanned):
    ts = ingest.timestamp_normalize(fanned, anchor=ANCHOR)
    flagged = ingest.detect_anomalies(ingest.enrich_defaults(ingest.battery_percent(ts)))
    anoms = {(r["parent_device"], r["channel"])
             for r in flagged.where("is_anomaly").select("parent_device", "channel").collect()}
    # temp 55.3 > 50; pressure 86500 < 87000; battery 1.75 < 2.0 on row 3
    assert ("aa:bb:cc:dd:ee:01", "temperature") in anoms
    assert ("aa:bb:cc:dd:ee:01", "pressure") in anoms
    assert ("aa:bb:cc:dd:ee:01", "battery_voltage") in anoms
    # nominal values not flagged; unthresholded channels never flagged
    assert ("c6:8d:c6:26:39:a6", "temperature") not in anoms
    assert all(ch not in {"tx_power", "movement_counter", "acceleration_x"} for _, ch in anoms)


def _threshold_sweep():
    """(id, device_id, device_type, value, unit, status) rows: every listed
    type below, at and above each bound (the battery's inf upper bound at
    inf and at a finite value near the largest double), an unlisted type, a NULL type and a
    NULL value; then ERROR-status rows, one of them with no value and no
    device_id."""
    rows = []
    for dt, (lo, hi) in S.ANOMALY_THRESHOLDS.items():
        values = [lo - 0.25, lo, lo + 0.25, hi, hi + 0.25] if hi != float("inf") else [lo - 0.25, lo, lo + 0.25, 1.7e308, hi]
        rows += [(dt, v, "ACTIVE") for v in values]
    rows += [("unknown_sensor", v, "ACTIVE") for v in (-1e9, 0.0, 1e9)]
    rows += [(None, v, "ACTIVE") for v in (-1e9, 1e9)]
    rows += [(dt, None, "ACTIVE") for dt in S.ANOMALY_THRESHOLDS]
    rows += [("temperature_sensor", 20.25, "ERROR"), ("humidity_sensor", None, "ERROR"), (None, 1.5, "ERROR")]
    return [
        (i, None if dt is None and status == "ERROR" else f"d{i}", dt, v, "u" if i % 2 else None, status)
        for i, (dt, v, status) in enumerate(rows)
    ]


def _naive_alert(device_id, dt, value, unit, status):
    """alert_columns read straight off S.ANOMALY_THRESHOLDS in Python."""
    thr = S.ANOMALY_THRESHOLDS.get(dt)
    low = thr is not None and value is not None and value < thr[0]
    high = thr is not None and value is not None and value > thr[1]
    flat = dt == "battery_sensor" and value is not None and value < S.BATTERY_MIN_VOLTAGE
    if status == "ERROR" or flat:
        level = "CRITICAL"
    elif low or high:
        level = "WARNING"
    else:
        return None
    reason = (
        "device_error" if status == "ERROR" else "low_battery" if flat else "below_threshold" if low else "above_threshold"
    )
    shown = "None" if value is None else f"{value:,.2f}"
    return level, reason, f"{level}: {device_id or 'None'} {reason} (value={shown} {unit or 'None'})"


def test_threshold_lookup_matches_naive_reference(spark):
    """detect_anomalies and alert_columns both flag against
    ingest.threshold_bounds; swept at and around every bound of
    S.ANOMALY_THRESHOLDS and over the types and values it does not
    cover, each matches a plain-Python reading of the table."""
    from metrocloud_data_pipeline_spark.streaming import alert_columns

    rows = _threshold_sweep()
    df = spark.createDataFrame(
        rows, "id int, device_id string, device_type string, value double, unit string, status string"
    )
    flags = {r["id"]: r["is_anomaly"] for r in ingest.detect_anomalies(df).collect()}
    expected = {}
    for i, _, dt, v, _, _ in rows:
        thr = S.ANOMALY_THRESHOLDS.get(dt)
        expected[i] = False if thr is None else None if v is None else (v < thr[0] or v > thr[1])
    assert flags == expected

    alerts = {
        r["id"]: (r["alert_level"], r["alert_reason"], r["alert_message"]) for r in alert_columns(df).collect()
    }
    naive = {i: _naive_alert(dev, dt, v, unit, st) for i, dev, dt, v, unit, st in rows}
    assert alerts == {i: a for i, a in naive.items() if a is not None}
    # the sweep reaches every outcome, so a lookup that lost a bound shows
    assert {a[1] for a in alerts.values()} == {"device_error", "low_battery", "below_threshold", "above_threshold"}
    assert set(flags.values()) == {True, False, None}


def test_normalize_raw_end_to_end(raw):
    valid, rejected = ingest.normalize_raw(raw, anchor=ANCHOR)
    vrows = valid.collect()
    # null-device_id parent contributes 1 fanned row -> rejected
    assert rejected.count() == 1
    assert rejected.first()["reject_reasons"] == ["missing_device_id"]
    assert len(vrows) == 20
    # flattened storage schema (location struct expanded)
    cols = set(valid.columns)
    assert {"latitude", "longitude", "building", "floor", "zone", "room"} <= cols
    assert "location" not in cols
    # defaults applied
    assert all(r["status"] == "ACTIVE" for r in vrows)
    assert all(r["tags"] is not None for r in vrows)


def test_clamp_timestamps(spark):
    df = spark.createDataFrame(
        [("a", "2025-09-20 00:00:00"), ("b", "2025-09-26 10:00:00"), ("c", "2025-09-28 00:00:00")],
        "device_id string, raw string",
    ).withColumn("timestamp", F.col("raw").cast("timestamp"))
    out = {r["device_id"]: r["timestamp"].isoformat()
           for r in ingest.clamp_timestamps(df, anchor=ANCHOR).collect()}
    assert out["a"] == "2025-09-26T12:00:00"  # >24h late -> clamped
    assert out["b"] == "2025-09-26T10:00:00"  # inside window -> kept
    assert out["c"] == "2025-09-26T12:00:00"  # future -> clamped


def test_validate_domain_rules(spark):
    df = spark.createDataFrame(
        [
            ("d1", "t", "u", 50.0, "ACTIVE"),
            ("d2", "t", "u", 150.0, "ACTIVE"),   # battery out of range
            ("d3", "t", "u", 50.0, "BROKEN"),    # invalid status
            ("", "t", "u", 50.0, "ACTIVE"),      # empty device_id
        ],
        "device_id string, device_type string, unit string, battery_level double, status string",
    ).withColumn("timestamp", F.lit("2025-09-26 00:00:00").cast("timestamp"))
    valid, rejected = ingest.validate(df)
    assert valid.count() == 1
    reasons = {r["device_id"]: r["reject_reasons"] for r in rejected.collect()}
    assert reasons["d2"] == ["battery_out_of_range"]
    assert reasons["d3"] == ["invalid_status"]
    assert reasons[""] == ["missing_device_id"]
