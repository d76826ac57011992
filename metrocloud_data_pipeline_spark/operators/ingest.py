"""Ingest/normalize chain — OP-T1..T14 as composable DataFrame transforms.

The reference's adapter pipeline (src/data_receiver/ruuvitag_adapter.py)
turns one wide raw RuuviTag JSON row into ≤9 normalized
IoTSensorReading rows and validates/enriches them. Here the whole chain
is pure DataFrame->DataFrame functions, so identical code serves batch
reprocessing and Structured Streaming foreachBatch (SURVEY.md §7).

Everything is built-in column expressions (JVM-side, whole-stage
codegen) — no Python UDFs anywhere on this hot path, which is what makes
the chain viable at 100 TB.

Chain order (normalize): fan_out (T1) -> timestamp_normalize (T3/T4)
-> battery_percent (T6) -> enrich_defaults (T12/T13) -> anomaly flag
(T7) -> reject_reasons (T9/T10) -> clamp of the valid rows (T11); then
split_normalized: valid/rejected split -> flatten (T2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import schema as S
from ..functions.numeric import clamp as clamp_expr
from ..functions.numeric import safe_double


def fan_out(raw: DataFrame) -> DataFrame:
    """OP-T1: unpivot one raw row into one row per present sensor channel
    (ruuvitag_adapter.py:272-379).

    Implemented with ``stack`` (a single generator projection — no
    shuffle, no UDF): each channel contributes (field, value, device_type,
    unit, tags, metadata); absent (null) channels are dropped, and
    ``measurement_sequence`` is intentionally not in the mapping. The
    per-channel device id is synthesized as ``{mac}_{field}``
    (adapter:340)."""
    n = len(S.SENSOR_MAPPING)
    stack_args = []
    for field, m in S.SENSOR_MAPPING.items():
        tags = ", ".join(f"'{t}'" for t in m["tags"])
        meta = m.get("metadata", {})
        if meta:
            kv = ", ".join(f"'{k}', '{v}'" for k, v in meta.items())
            meta_expr = f"map('sensor_type', '{field}', {kv})"
        else:
            meta_expr = f"map('sensor_type', '{field}')"
        stack_args.append(
            f"'{field}', CAST({field} AS DOUBLE), '{m['device_type']}', '{m['unit']}', "
            f"array({tags}), {meta_expr}"
        )
    stack = (
        f"stack({n}, " + ", ".join(stack_args) + ") AS (channel, value, channel_device_type, unit, tags, channel_metadata)"
    )
    out = raw.selectExpr(
        "device_id AS parent_device",
        "timestamp AS raw_timestamp",
        "battery_voltage",
        stack,
    )
    return (
        out.where(F.col("value").isNotNull())
        # F.concat (not concat_ws): null parent must yield null device_id
        # so OP-T9 validation rejects the row, as the reference does
        .withColumn("device_id", F.concat(F.col("parent_device"), F.lit("_"), F.col("channel")))
        .withColumn("device_type", F.col("channel_device_type"))
        .withColumn(
            "device_metadata",
            F.map_concat(
                F.col("channel_metadata"),
                F.create_map(F.lit("parent_device"), F.col("parent_device")),
            ),
        )
        .drop("channel_device_type", "channel_metadata")
    )


def timestamp_normalize(df: DataFrame, ts_col: str = "raw_timestamp", anchor=None) -> DataFrame:
    """OP-T3/T4: epoch-seconds-string vs ISO-8601 vs garbage/relative
    timestamps (ruuvitag_adapter.py:407-437; models.py:242-254).

    - digits and >= RELATIVE_TS_CUTOFF: epoch seconds -> UTC timestamp
    - digits below the cutoff: device-uptime-relative -> anchor (now)
    - otherwise: ISO-8601 parse (Z handled by Spark), fallback anchor.
    ``anchor`` defaults to current_timestamp; tests pass a literal for
    determinism."""
    c = F.col(ts_col)
    now = F.lit(anchor).cast("timestamp") if anchor is not None else F.current_timestamp()
    is_numeric = c.rlike(r"^[0-9]+(\.[0-9]+)?$")
    epoch_val = c.cast("double")
    parsed = F.when(is_numeric & (epoch_val >= S.RELATIVE_TS_CUTOFF), F.timestamp_seconds(epoch_val)).when(
        is_numeric, now
    ).otherwise(F.coalesce(F.try_to_timestamp(c), now))
    return df.withColumn("timestamp", parsed)


def battery_percent(df: DataFrame, voltage_col: str = "battery_voltage") -> DataFrame:
    """OP-T6: voltage -> battery percent (ruuvitag_adapter.py:446-468).

    0 below the dead-battery cutoff; linear [min_v, max_v] -> [0, 100];
    clamped; rounded to 2 decimals."""
    v = safe_double(voltage_col)
    span = S.BATTERY_MAX_VOLTAGE - S.BATTERY_MIN_VOLTAGE
    linear = (v - F.lit(S.BATTERY_MIN_VOLTAGE)) / F.lit(span) * F.lit(100.0)
    pctv = F.when(v < S.BATTERY_DEAD_VOLTAGE, F.lit(0.0)).otherwise(clamp_expr(linear, 0.0, 100.0))
    return df.withColumn("battery_level", F.round(pctv, 2))


def enrich_defaults(df: DataFrame, devices_dim: DataFrame | None = None) -> DataFrame:
    """OP-T12/T13: static enrichment + null shaping.

    The reference attaches configured defaults (config.py:277-315); the
    idiomatic generalization is a broadcast join against a small
    ``devices`` dimension keyed by parent_device, with configured
    defaults as the fallback for misses (schema_registry.py:92-137
    defaulting)."""
    loc = S.DEFAULT_LOCATION
    if devices_dim is not None:
        dim = F.broadcast(devices_dim.select(
            F.col("device_id").alias("parent_device"),
            F.col("latitude").alias("dim_latitude"),
            F.col("longitude").alias("dim_longitude"),
            F.col("building").alias("dim_building"),
            F.col("floor").alias("dim_floor"),
            F.col("zone").alias("dim_zone"),
            F.col("room").alias("dim_room"),
            F.col("firmware_version").alias("dim_firmware"),
        ))
        df = df.join(dim, "parent_device", "left")
        lat = F.coalesce(F.col("dim_latitude"), F.lit(loc["latitude"]))
        lon = F.coalesce(F.col("dim_longitude"), F.lit(loc["longitude"]))
        bld = F.coalesce(F.col("dim_building"), F.lit(loc["building"]))
        flr = F.coalesce(F.col("dim_floor"), F.lit(loc["floor"]))
        zone = F.coalesce(F.col("dim_zone"), F.lit(loc["zone"]))
        room = F.coalesce(F.col("dim_room"), F.lit(loc["room"]))
        fw = F.coalesce(F.col("dim_firmware"), F.lit(S.DEFAULT_FIRMWARE_VERSION))
    else:
        lat, lon = F.lit(loc["latitude"]), F.lit(loc["longitude"])
        bld, flr = F.lit(loc["building"]), F.lit(loc["floor"])
        zone, room = F.lit(loc["zone"]), F.lit(loc["room"])
        fw = F.lit(S.DEFAULT_FIRMWARE_VERSION)
    out = (
        df.withColumn(
            "location",
            F.struct(
                lat.alias("latitude"),
                lon.alias("longitude"),
                bld.alias("building"),
                flr.cast("int").alias("floor"),
                zone.alias("zone"),
                room.alias("room"),
            ),
        )
        .withColumn("firmware_version", fw)
        .withColumn("signal_strength", F.coalesce(F.col("signal_strength") if "signal_strength" in df.columns else F.lit(None).cast("double"), F.lit(-70.0)))
        .withColumn("status", F.lit(S.DEFAULT_STATUS))
        .withColumn("tags", F.coalesce(F.col("tags"), F.array()))
        .withColumn("device_metadata", F.coalesce(F.col("device_metadata"), F.create_map()))
        .withColumn("maintenance_date", F.lit(None).cast("timestamp"))
    )
    return out.drop(*[c for c in out.columns if c.startswith("dim_")])


def threshold_bounds(device_type: Column) -> tuple[Column, Column]:
    """OP-T7's per-type (thr_min, thr_max) from S.ANOMALY_THRESHOLDS
    (config.yaml:152-159): two map-literal lookups, NULL for a type the
    table does not list and for a NULL type. The one reader of the
    table: detect_anomalies and streaming.pipeline.alert_columns both
    flag against it. It is an expression, not a join against a
    thresholds frame, so a micro-batch starts no broadcast job for it."""

    def lookup(i: int) -> Column:
        pairs = [F.lit(x) for dt, bounds in S.ANOMALY_THRESHOLDS.items() for x in (dt, float(bounds[i]))]
        return F.create_map(*pairs)[device_type]

    return lookup(0), lookup(1)


def detect_anomalies(df: DataFrame) -> DataFrame:
    """OP-T7: per-channel threshold anomaly detection
    (ruuvitag_adapter.py:470-511) against threshold_bounds — a row-local
    expression, never a shuffle. A type without thresholds is never an
    anomaly; a NULL value leaves the flag NULL. device_type leads the
    output columns, so the rejects table keeps its column order."""
    thr_min, thr_max = threshold_bounds(F.col("device_type"))
    flag = F.when(thr_min.isNotNull(), (F.col("value") < thr_min) | (F.col("value") > thr_max)).otherwise(
        F.lit(False)
    )
    return df.select("device_type", *[c for c in df.columns if c != "device_type"]).withColumn("is_anomaly", flag)


REQUIRED_FIELDS = ("device_id", "device_type", "unit")


def reject_reasons(df: DataFrame) -> Column:
    """OP-T9/T10: required-field + domain validation as ONE array column
    naming every failed check (empty == valid). The single definition of
    the checks: validate splits on it, and normalize tags the whole
    micro-batch with it before the split."""
    checks = [
        (F.col(f).isNull() | (F.col(f) == ""), f"missing_{f}") for f in REQUIRED_FIELDS if f in df.columns
    ]
    checks.append((F.col("timestamp").isNull(), "missing_timestamp"))
    if "battery_level" in df.columns:
        checks.append(
            (F.col("battery_level").isNotNull() & ~F.col("battery_level").between(0.0, 100.0), "battery_out_of_range")
        )
    if "location" in df.columns:
        lat, lon = F.col("location.latitude"), F.col("location.longitude")
        checks.append(((lat.isNull() != lon.isNull()), "partial_coordinates"))
        checks.append((lat.isNotNull() & ~lat.between(-90.0, 90.0), "latitude_out_of_range"))
        checks.append((lon.isNotNull() & ~lon.between(-180.0, 180.0), "longitude_out_of_range"))
    if "status" in df.columns:
        checks.append((F.col("status").isNotNull() & ~F.col("status").isin(list(S.DEVICE_STATUSES)), "invalid_status"))
    return F.array_compact(F.array(*[F.when(cond, F.lit(name)) for cond, name in checks]))


def is_valid() -> Column:
    """True on a row of a reject_reasons-tagged frame that passed every check."""
    return F.size("reject_reasons") == 0


def split_rejects(tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid without the reasons column, rejected with it) — two
    filters of one tagged frame, so they partition it."""
    return tagged.where(is_valid()).drop("reject_reasons"), tagged.where(~is_valid())


def validate(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """OP-T9/T10: returns (valid, rejected-with-reason). The engine keeps
    both streams (reject stream replaces the reference's drop-and-count,
    ruuvitag_adapter.py:387-405; models.py:171-197; init.sql:64-69)."""
    return split_rejects(df.withColumn("reject_reasons", reject_reasons(df)))


def clamped_timestamp(anchor=None, window_hours: int = S.CLAMP_WINDOW_HOURS) -> Column:
    """OP-T11: accept-but-correct late/future timestamps
    (timescaledb_sink.py:151-160): |ts - now| > window -> replace with now.
    In streaming this pairs with withWatermark (OP-ST5)."""
    now = F.lit(anchor).cast("timestamp") if anchor is not None else F.current_timestamp()
    secs = window_hours * 3600
    diff = F.abs(F.unix_timestamp("timestamp") - F.unix_timestamp(now))
    return F.when(diff > secs, now).otherwise(F.col("timestamp"))


def clamp_timestamps(df: DataFrame, anchor=None, window_hours: int = S.CLAMP_WINDOW_HOURS) -> DataFrame:
    """OP-T11 over a whole frame (see clamped_timestamp)."""
    return df.withColumn("timestamp", clamped_timestamp(anchor, window_hours))


def flatten_location(df: DataFrame) -> DataFrame:
    """OP-T2: nested location struct -> six flat storage columns
    (models.py:239-276; init.sql:40-45)."""
    if "location" not in df.columns:
        return df
    return df.select("*", "location.*").drop("location")


def normalize(
    raw: DataFrame,
    devices_dim: DataFrame | None = None,
    anchor=None,
) -> DataFrame:
    """The full adapter chain up to (not including) the valid/rejected
    split: every fanned-out reading, tagged with reject_reasons, with
    the OP-T11 clamp applied to the valid rows only (a rejected row
    keeps the timestamp it arrived with). Mirrors
    ruuvitag_adapter.adapt_ruuvitag_data (:229-385) + sink validation
    (timescaledb_sink.py:124-167).

    One frame holds both outcomes so a micro-batch can be materialized
    once and split afterwards (split_normalized)."""
    df = fan_out(raw)
    df = timestamp_normalize(df, anchor=anchor)
    df = battery_percent(df)
    df = enrich_defaults(df, devices_dim)
    df = detect_anomalies(df)
    tagged = df.withColumn("reject_reasons", reject_reasons(df))
    return tagged.withColumn(
        "timestamp", F.when(is_valid(), clamped_timestamp(anchor)).otherwise(F.col("timestamp"))
    )


def split_normalized(tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """normalize's tagged frame -> (valid flat readings in store column
    order, rejected rows with their reasons)."""
    valid, rejected = split_rejects(tagged)
    ordered = [
        "device_id",
        "device_type",
        "timestamp",
        "value",
        "unit",
        "location",
        "battery_level",
        "signal_strength",
        "is_anomaly",
        "firmware_version",
        "device_metadata",
        "status",
        "tags",
        "maintenance_date",
    ]
    return flatten_location(valid.select(*ordered)), rejected


def normalize_raw(
    raw: DataFrame,
    devices_dim: DataFrame | None = None,
    anchor=None,
) -> tuple[DataFrame, DataFrame]:
    """Raw wide rows -> (valid flat readings, rejected rows): normalize
    then split_normalized."""
    return split_normalized(normalize(raw, devices_dim, anchor))
