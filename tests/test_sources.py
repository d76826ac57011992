"""Source tests: JSON raw messages (OP-S3), gated Avro IO (OP-S1/S2),
and the star-schema loader's per-snapshot schema map."""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime

import pytest

from __spark_entry__ import SF0001_DIR
from metrocloud_data_pipeline_spark.functions.partitioning import _estimated_rows
from metrocloud_data_pipeline_spark.operators import ingest
from metrocloud_data_pipeline_spark.sources import avro_io, raw_json, star_schema
from metrocloud_data_pipeline_spark.tests_fixtures import RAW_FIXTURE_ROWS, RAW_FIXTURE_SCHEMA


@pytest.fixture()
def json_dir(spark, tmp_path):
    rows = spark.createDataFrame(RAW_FIXTURE_ROWS, schema=RAW_FIXTURE_SCHEMA).toJSON().collect()
    p = tmp_path / "raw_json"
    p.mkdir()
    (p / "batch1.json").write_text("\n".join(rows[:2]) + "\nnot a json line\n")
    (p / "batch2.json").write_text("\n".join(rows[2:]))
    return str(p)


def test_read_raw_json_parses_and_quarantines(spark, json_dir):
    parsed, corrupt = raw_json.read_raw_json(spark, json_dir)
    assert parsed.count() == len(RAW_FIXTURE_ROWS)
    bad = corrupt.collect()
    assert len(bad) == 1 and "not a json" in bad[0][0]
    # parsed rows feed the same normalize chain as any other source
    valid, _ = ingest.normalize_raw(parsed, anchor="2025-09-26 12:00:00")
    assert valid.count() == 20


def test_stream_raw_json_is_streaming(spark, json_dir):
    assert raw_json.stream_raw_json(spark, json_dir).isStreaming


def test_parse_raw_json_column_roundtrip(spark):
    payload = json.dumps({"device_id": "aa:bb", "device_type": "ruuvitag", "timestamp": "1695715200", "temperature": 21.5})
    df = spark.createDataFrame([(payload,)], "value string")
    out = raw_json.parse_raw_json_column(df).first()
    assert out["device_id"] == "aa:bb"
    assert out["temperature"] == 21.5


def test_avro_schema_shape():
    s = json.loads(avro_io.reading_avro_schema())
    names = {f["name"] for f in s["fields"]}
    assert {"device_id", "device_type", "timestamp", "value", "unit"} <= names


def test_avro_sink_jvm_engine_gated_without_package(spark):
    """engine='jvm' must fail at construction with the deployment hint
    when spark-avro is absent (auto falls back to the Python codec)."""
    df = spark.createDataFrame([("d1",)], "device_id string")
    if _avro_loaded(spark):
        pytest.skip("spark-avro present; gate not exercised")
    with pytest.raises(RuntimeError, match="spark-avro"):
        avro_io.kafka_avro_sink_frame(df, engine="jvm")


def _avro_loaded(spark) -> bool:
    try:
        from pyspark.sql.avro.functions import to_avro
        from pyspark.sql import functions as F

        spark.range(1).select(to_avro(F.struct("id"))).schema
        return True
    except Exception:
        return False


def _roundtrip_rows(spark):
    from datetime import datetime

    from metrocloud_data_pipeline_spark import schema as S

    full = {f.name: None for f in S.FLAT_READING_SCHEMA.fields}
    full.update(
        {
            "device_id": "aa:bb:cc",
            "device_type": "ruuvitag",
            "timestamp": datetime(2025, 9, 26, 12, 0, 0, 123456),
            "value": 21.5,
            "unit": "celsius",
            "floor": 3,
            "is_anomaly": False,
            "device_metadata": {"fw": "1.2", "site": "hq"},
            "tags": ["temperature", "climate"],
        }
    )
    sparse = {f.name: None for f in S.FLAT_READING_SCHEMA.fields}
    sparse.update(
        {
            "device_id": "dd:ee:ff",
            "device_type": "ruuvitag",
            "timestamp": datetime(2025, 9, 26, 12, 5, 0),
            "unit": "%",
        }
    )
    return spark.createDataFrame([full, sparse], S.FLAT_READING_SCHEMA)


def test_avro_wire_roundtrip(spark):
    """Sink frame -> source frame round-trip through the actual Avro
    wire bytes (OP-S1/OP-S2) — runs UNCONDITIONALLY: engine='auto'
    resolves to spark-avro where the jar is present and to the
    spec-implemented Python codec here, so the serialize/deserialize
    parity the Kafka path depends on is executed, not asserted."""
    wire = avro_io.kafka_avro_sink_frame(_roundtrip_rows(spark))
    assert [f.name for f in wire.schema.fields] == ["key", "value"]
    assert wire.schema["value"].dataType.simpleString() == "binary"
    back = {r["device_id"]: r for r in avro_io.kafka_avro_source_frame(wire).collect()}
    full = back["aa:bb:cc"]
    assert full["value"] == 21.5 and full["unit"] == "celsius"
    assert str(full["timestamp"]) == "2025-09-26 12:00:00.123456"
    assert full["floor"] == 3 and full["is_anomaly"] is False
    assert full["device_metadata"] == {"fw": "1.2", "site": "hq"}
    assert full["tags"] == ["temperature", "climate"]
    sparse = back["dd:ee:ff"]
    assert sparse["value"] is None and sparse["battery_level"] is None
    assert sparse["tags"] is None and sparse["device_metadata"] is None
    assert str(sparse["timestamp"]) == "2025-09-26 12:05:00"


def test_avro_wire_bytes_are_utc_under_any_session_timezone(spark):
    """Avro timestamp-micros is epoch-UTC by spec; the Python engine
    must emit the SAME wire bytes whatever spark.sql.session.timeZone
    is (Arrow hands the codec session-local wall clock — an unlocalized
    epoch read would skew by the UTC offset, r6 advice), and the
    decode side must mirror the conversion so the round-trip is the
    identity."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc_bytes = {
            r["key"]: bytes(r["value"])
            for r in avro_io.kafka_avro_sink_frame(_roundtrip_rows(spark)).collect()
        }
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        # the same INSTANTS (createDataFrame fixes the instant at create
        # time) must encode to the same wire bytes under any session tz:
        # Arrow hands the codec NY wall-clock values here, so without
        # the localize step the bytes would skew by the UTC offset
        # (exactly the pre-fix failure)
        ny_wire = avro_io.kafka_avro_sink_frame(_roundtrip_rows(spark))
        ny_bytes = {r["key"]: bytes(r["value"]) for r in ny_wire.collect()}
        assert ny_bytes["aa:bb:cc"] == utc_bytes["aa:bb:cc"]
        assert ny_bytes["dd:ee:ff"] == utc_bytes["dd:ee:ff"]
        # and the round-trip under the non-UTC session preserves the
        # INSTANT: collect() renders session-local wall clock, so the
        # 12:00 UTC instant reads back as 08:00 New York — same moment
        back_ts = {
            r["device_id"]: str(r["timestamp"])
            for r in avro_io.kafka_avro_source_frame(ny_wire).collect()
        }
        assert back_ts == {
            "aa:bb:cc": "2025-09-26 08:00:00.123456",
            "dd:ee:ff": "2025-09-26 08:05:00",
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_avro_sink_survives_dst_edges(spark):
    """Under a DST-observing session timezone, fall-back wall clocks
    are AMBIGUOUS (01:30 happens twice) and spring-forward ones are
    NONEXISTENT (02:30 never happens) — pandas' default tz_localize
    raises on both, which would kill the whole sink job on perfectly
    valid instants. The codec resolves like java.time: overlaps take
    the earlier offset, gaps shift forward — and the ambiguous case
    round-trips to a real instant."""
    from datetime import datetime

    from metrocloud_data_pipeline_spark import schema as S

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        amb = {f.name: None for f in S.FLAT_READING_SCHEMA.fields}
        amb.update({
            "device_id": "amb", "device_type": "ruuvitag", "unit": "%",
            # createDataFrame fixes the INSTANT (naive = UTC here):
            # 05:30Z = 01:30 EDT on fall-back day — the New York wall
            # clock Arrow hands the codec is the ambiguous 01:30
            "timestamp": datetime(2025, 11, 2, 5, 30, 0),
        })
        frame = spark.createDataFrame([amb], S.FLAT_READING_SCHEMA)
        wire = avro_io.kafka_avro_sink_frame(frame)
        back = {
            r["device_id"]: str(r["timestamp"])
            for r in avro_io.kafka_avro_source_frame(wire).collect()
        }
        # no AmbiguousTimeError, and the earlier-offset resolution
        # round-trips to the same session-local wall clock
        assert back["amb"] == "2025-11-02 01:30:00"
        # (the NONEXISTENT spring-forward case cannot be produced by a
        # real instant — no instant renders to a gapped wall clock — so
        # nonexistent='shift_forward' in the codec is pure defense
        # against corrupted upstream wall-clock data)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_avro_codec_spec_vectors():
    """Pin the binary encoding against the published Avro spec examples
    (zig-zag varints) plus string/union/map/array framing — so wire
    compatibility with a real Avro reader is checked byte-for-byte,
    not just self-consistent."""
    from metrocloud_data_pipeline_spark.sources import avro_codec as C

    # spec table: 0->00, -1->01, 1->02, -2->03, 2->04, -64->7f, 64->80 01
    for n, want in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-2, b"\x03"),
                    (2, b"\x04"), (-64, b"\x7f"), (64, b"\x80\x01")]:
        out = bytearray()
        C._write_long(out, n)
        assert bytes(out) == want, (n, bytes(out))
        assert C._read_long(bytes(out), 0) == (n, len(want))
    # string "foo": length 3 (zig-zag 06) + utf-8 bytes (spec example)
    out = bytearray()
    C._encode("string", "foo", out)
    assert bytes(out) == b"\x06foo"
    # union ["null","string"]: null -> index 0 only; "a" -> index 1 + body
    out = bytearray(); C._encode(["null", "string"], None, out)
    assert bytes(out) == b"\x00"
    out = bytearray(); C._encode(["null", "string"], "a", out)
    assert bytes(out) == b"\x02\x02a"
    # map {"k":"v"}: block count 1 (02), key, value, end block (00)
    out = bytearray()
    C._encode({"type": "map", "values": "string"}, {"k": "v"}, out)
    assert bytes(out) == b"\x02\x02k\x02v\x00"
    # array ["x"]: count 1, item, end block
    out = bytearray()
    C._encode({"type": "array", "items": "string"}, ["x"], out)
    assert bytes(out) == b"\x02\x02x\x00"
    # Confluent framing: magic 0 + big-endian id + body, stripped on read
    rec_schema = {"type": "record", "name": "r", "fields": [{"name": "a", "type": "long"}]}
    framed = C.encode_record(rec_schema, {"a": 7}, schema_id=42)
    assert framed[:5] == b"\x00\x00\x00\x00\x2a"
    assert C.decode_record(rec_schema, framed, confluent_framed=True) == {"a": 7}


def test_jdbc_sink_gated_without_driver(spark):
    """No JDBC driver jar ships in this container: the builder must fail
    at construction with the deployment hint, not at executor runtime."""
    from metrocloud_data_pipeline_spark.sources import jdbc_io

    df = spark.createDataFrame([("d1",)], "device_id string")
    try:
        spark._jvm.java.lang.Class.forName(jdbc_io.POSTGRES_DRIVER)
        loaded = True
    except Exception:
        loaded = False
    if loaded:
        pytest.skip("postgres driver unexpectedly present")
    with pytest.raises(RuntimeError, match="JDBC driver"):
        jdbc_io.write_jdbc(df, "jdbc:postgresql://localhost/db", "sensor_readings")
    with pytest.raises(RuntimeError, match="JDBC driver"):
        jdbc_io.read_jdbc(spark, "jdbc:postgresql://localhost/db", "sensor_readings")


def test_ruuvitag_rawv2_decode_spec_vector(spark):
    """Decode the published Ruuvi data-format-5 'valid data' test vector
    (temp 24.3 C, humidity 53.49 %, pressure 100044 Pa, accel
    (0.004, -0.004, 1.036) g, battery 2.977 V, tx +4 dBm, movement 66,
    sequence 205) from a realistic advertisement layout — flags AD
    structure first, manufacturer data at a nonzero offset, exactly the
    byte walk the reference's ESP32 gateway does (main.c:305-368)."""
    from metrocloud_data_pipeline_spark.sources.ble_decoder import decode_ruuvitag_rawv2

    payload = bytes.fromhex("12FC5394C37C0004FFFC040CAC364200CD")  # temp..seq
    adv = bytes([0x02, 0x01, 0x06, 0x1B, 0xFF, 0x99, 0x04, 0x05]) + payload + bytes(6)
    mac = bytes.fromhex("CBB8334C884F")
    too_short = bytes([0xFF, 0x99, 0x04, 0x05])
    not_ruuvi = bytes([0x02, 0x01, 0x06]) + bytes(24)
    frames = spark.createDataFrame(
        [(mac, adv, "1695715200"), (mac, too_short, "1695715201"),
         (mac, not_ruuvi, "1695715202")],
        "mac binary, adv_data binary, timestamp string",
    )
    out = decode_ruuvitag_rawv2(frames).collect()
    assert len(out) == 1  # short/non-Ruuvi frames dropped like the C early-returns
    r = out[0]
    assert r["device_id"] == "cb:b8:33:4c:88:4f"
    assert r["device_type"] == "ruuvitag"
    assert r["temperature"] == pytest.approx(24.3)
    assert r["humidity"] == pytest.approx(53.49)
    assert r["pressure"] == pytest.approx(100044.0)
    assert r["acceleration_x"] == pytest.approx(0.004)
    assert r["acceleration_y"] == pytest.approx(-0.004)
    assert r["acceleration_z"] == pytest.approx(1.036)
    assert r["battery_voltage"] == pytest.approx(2.977)
    assert r["tx_power"] == pytest.approx(4.0)
    assert r["movement_counter"] == 66.0
    assert r["measurement_sequence"] == 205.0


def test_ruuvitag_decode_feeds_normalize_chain(spark):
    """Decoded frames carry the wide RAW_RUUVITAG_SCHEMA shape, so they
    run through the SAME normalize/fan-out chain as the JSON source —
    the decoder is just another front door (OP-S8 -> OP-T1..)."""
    from metrocloud_data_pipeline_spark.sources.ble_decoder import decode_ruuvitag_rawv2

    payload = bytes.fromhex("12FC5394C37C0004FFFC040CAC364200CD")
    adv = bytes([0xFF, 0x99, 0x04, 0x05]) + payload + bytes(6)
    frames = spark.createDataFrame(
        [(bytes.fromhex("CBB8334C884F"), adv, "1695715200")],
        "mac binary, adv_data binary, timestamp string",
    )
    wide = decode_ruuvitag_rawv2(frames)
    valid, rejected = ingest.normalize_raw(wide, anchor="2025-09-26 12:00:00")
    rows = valid.collect()
    assert rejected.count() == 0
    # fan-out produced one per-channel reading, each suffixing the MAC
    assert all(r["device_id"].startswith("cb:b8:33:4c:88:4f") for r in rows)
    by_type = {r["device_type"]: r["value"] for r in rows}
    assert by_type["temperature_sensor"] == pytest.approx(24.3)
    assert by_type["humidity_sensor"] == pytest.approx(53.49)


def test_avro_codec_rejects_corrupt_and_truncated_payloads():
    """Pathological wire bytes through the spec codec (r12, the
    edge-parity discipline pointed at the sources layer): every
    corruption class must FAIL LOUD as ValueError — the silent failure
    this pins against is a corrupt NEGATIVE union index (byte 0x01 =
    zig-zag -1) decoding the LAST branch via Python negative indexing,
    i.e. wrong data with no error."""
    from metrocloud_data_pipeline_spark.sources import avro_codec as ac

    schema = ac.parse_schema(json.dumps({
        "type": "record", "name": "r", "fields": [
            {"name": "v", "type": ["null", "double"]},
            {"name": "s", "type": "string"},
        ],
    }))
    good = ac.encode_record(schema, {"v": 1.5, "s": "ok"})
    assert ac.decode_record(schema, good) == {"v": 1.5, "s": "ok"}

    # corrupt union index -1 (would hit schema[-1] = "double" silently)
    neg_union = bytes([0x01]) + good[1:]
    with pytest.raises(ValueError, match="corrupt Avro union index -1"):
        ac.decode_record(schema, neg_union)
    # union index beyond the branch list (zig-zag 5 = 0x0A)
    with pytest.raises(ValueError, match="corrupt Avro union index 5"):
        ac.decode_record(schema, bytes([0x0A]) + good[1:])

    # truncations: mid-double, mid-string-length, string shorter than
    # its length prefix, varint with a dangling continuation bit
    with pytest.raises(ValueError, match="truncated Avro record"):
        ac.decode_record(schema, good[:5])       # inside the double
    with pytest.raises(ValueError, match="truncated Avro buffer"):
        ac.decode_record(schema, good[:9])       # at the string length
    with pytest.raises(ValueError, match="overruns"):
        ac.decode_record(schema, good[:-1])      # string body cut short
    with pytest.raises(ValueError, match="truncated Avro buffer: varint"):
        ac.decode_record(schema, b"\x80")        # dangling continuation bit

    # oversized varint (12 continuation bytes where the string length
    # belongs — more than any spec zig-zag long) and negative length
    with pytest.raises(ValueError, match="corrupt Avro varint"):
        ac.decode_record(schema, bytes([0x02]) + b"\x00" * 8 + b"\xff" * 12)
    neg_len = bytearray(good)
    neg_len[9] = 0x01  # string length zig-zag -1
    with pytest.raises(ValueError, match="corrupt Avro bytes length"):
        ac.decode_record(schema, bytes(neg_len))

    # trailing garbage after a well-formed record still rejects
    with pytest.raises(ValueError, match="trailing bytes"):
        ac.decode_record(schema, good + b"\x00")


def test_jdbc_dedup_refuses_null_natural_keys(spark):
    """The jdbc sink's pre-write dedup (the ON CONFLICT stand-in) must
    not silently collapse NULL-keyed rows — dropDuplicates treats
    NULLs as equal, so two unrelated rows with a missing key would
    merge into one arbitrary survivor. Same fail-loud contract as
    idempotent_append (r11) and write_partitioned (r12)."""
    from metrocloud_data_pipeline_spark.sources.jdbc_io import _dedup_on_natural_key

    clean = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "k long, v string"
    )
    out = _dedup_on_natural_key(clean, ("k",)).collect()
    assert sorted(r.k for r in out) == [1, 2]

    dirty = spark.createDataFrame(
        [(1, "a"), (None, "x"), (None, "y")], "k long, v string"
    )
    with pytest.raises(Exception, match="NULL natural key"):
        _dedup_on_natural_key(dirty, ("k",)).collect()


def test_avro_reader_schema_resolution():
    """The Confluent deserializer's evolution contract (r12): bytes
    written under an OLD schema decode into a NEW reader shape —
    reader-only fields fill from defaults or null, writer-only fields
    drop, sanctioned promotions (int -> long -> double,
    string <-> bytes) cross types, and everything else fails loud."""
    from metrocloud_data_pipeline_spark.sources import avro_codec as ac

    old = ac.parse_schema(json.dumps({
        "type": "record", "name": "r", "fields": [
            {"name": "seq", "type": "int"},
            {"name": "value", "type": ["null", "double"]},
            {"name": "unit", "type": "string"},
            {"name": "legacy", "type": "string"},
            {"name": "tags", "type": {"type": "array", "items": "int"}},
        ],
    }))
    wire = ac.encode_record(
        old, {"seq": 7, "value": 1.5, "unit": "c", "legacy": "x", "tags": [1, 2]}
    )

    new = ac.parse_schema(json.dumps({
        "type": "record", "name": "r", "fields": [
            {"name": "seq", "type": "long"},                       # widened
            {"name": "value", "type": ["null", "double"]},
            {"name": "unit", "type": "bytes"},                     # promoted
            {"name": "floor", "type": ["null", "int"]},            # added nullable
            {"name": "site", "type": "string", "default": "hq"},   # added w/ default
            {"name": "tags", "type": {"type": "array", "items": "double"}},
        ],
    }))
    rec = ac.decode_record(old, wire, reader_schema=new)
    assert rec == {
        "seq": 7, "value": 1.5, "unit": b"c", "floor": None,
        "site": "hq", "tags": [1.0, 2.0],
    }
    assert "legacy" not in rec

    # narrowing double -> int: NOT a sanctioned promotion, fail loud
    narrow = ac.parse_schema(json.dumps({
        "type": "record", "name": "r", "fields": [
            {"name": "value", "type": ["null", "int"]},
        ],
    }))
    with pytest.raises(ValueError, match="fits no reader union branch"):
        ac.decode_record(old, wire, reader_schema=narrow)

    # nullability tightened: reads non-null data, refuses a null datum —
    # Avro resolution is per-datum, which is exactly why the registry
    # GATE (catalog.check_compatibility) must reject the evolution
    # up front rather than letting half the stream decode
    tight = ac.parse_schema(json.dumps({
        "type": "record", "name": "r", "fields": [
            {"name": "value", "type": "double"},
        ],
    }))
    assert ac.decode_record(old, wire, reader_schema=tight) == {"value": 1.5}
    null_wire = ac.encode_record(
        old, {"seq": 1, "value": None, "unit": "c", "legacy": "x", "tags": []}
    )
    with pytest.raises(ValueError, match="fits no reader union branch|not a record|not readable"):
        ac.decode_record(old, null_wire, reader_schema=tight)

    # added REQUIRED field without a default: the BACKWARD violation
    # the compat gate flags, mirrored at decode time
    required = ac.parse_schema(json.dumps({
        "type": "record", "name": "r", "fields": [
            {"name": "must_have", "type": "string"},
        ],
    }))
    with pytest.raises(ValueError, match="absent from writer schema and has no default"):
        ac.decode_record(old, wire, reader_schema=required)


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


@pytest.mark.skipif(not os.path.isdir(SF0001_DIR), reason=f"testdata dir {SF0001_DIR} not present")
def test_load_reuses_schema_per_snapshot(spark):
    """Only the first load of a table file infers its schema (a one-task
    footer job); a second load of every table starts no Spark job."""
    first = {t: star_schema.load(spark, SF0001_DIR, t).schema for t in star_schema.TABLES}
    j0 = _jobs(spark)
    again = {t: star_schema.load(spark, SF0001_DIR, t).schema for t in star_schema.TABLES}
    assert _jobs(spark) - j0 == 0
    assert again == first


def test_load_reinfers_rewritten_file(spark, tmp_path):
    """A rewritten file is a new snapshot: its new schema is inferred."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert star_schema.load(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}), path
    )
    df = star_schema.load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y"]


def test_load_normalizes_timestamps_on_both_paths(spark, tmp_path):
    """The NANOS-as-long and TIMESTAMP_NTZ normalizations hold whether
    the schema was just inferred or came from the map."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    ts = [datetime(2025, 9, 26, 12, 0, 0, 123456), datetime(2025, 9, 27, 0, 0, 1)]
    pq.write_table(
        pa.table({
            "ts": pa.array(ts, pa.timestamp("ns")),
            "seen": pa.array(ts[::-1], pa.timestamp("us")),
            "value": [1.0, 2.0],
        }),
        str(tmp_path / "events.parquet"),
    )
    inferred = star_schema.load(spark, str(tmp_path), "events")
    j0 = _jobs(spark)
    cached = star_schema.load(spark, str(tmp_path), "events")
    assert _jobs(spark) - j0 == 0, "second load did not take the recorded schema"
    for df in (inferred, cached):
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        assert isinstance(df.schema["seen"].dataType, TimestampType)
    rows = sorted(tuple(r) for r in inferred.collect())
    assert rows == sorted(tuple(r) for r in cached.collect())
    assert [r[0] for r in rows] == ts


@pytest.mark.skipif(not os.path.isdir(SF0001_DIR), reason=f"testdata dir {SF0001_DIR} not present")
def test_estimated_rows_on_loaded_scan(spark, tmp_path):
    """The plan-statistics estimate behind every fan_out_scan width cap
    and the KN broadcast gate is a number, not the swallowed-exception
    None, on an inferred and on a map-resolved scan."""
    shutil.copy(os.path.join(SF0001_DIR, "documents.parquet"), tmp_path)
    inferred = _estimated_rows(star_schema.load(spark, str(tmp_path), "documents"))
    cached = _estimated_rows(star_schema.load(spark, str(tmp_path), "documents"))
    assert isinstance(inferred, int) and inferred > 0
    assert cached == inferred
