"""Structured Streaming wiring — OP-ST1..ST8 (SURVEY.md §2.8).

The reference is a hand-rolled micro-batch system (Kafka consumer loop,
size-or-time commit, retry-then-drop). Here the same semantics ride on
Structured Streaming:

- OP-ST1 micro-batch trigger: processingTime/availableNow trigger +
  foreachBatch. (Spark has no row-count trigger; the time trigger
  subsumes the reference's `>=100 rows OR >=5 s` rule — documented
  deviation.) Every runner in this package (sensor ingest and alerts,
  corpus ingest, ANN serving, SCD2, media) starts through the one
  helper `_start_micro_batches` and reads its file source through
  `_parquet_stream`; every batch_id-keyed sink lands through
  `maintenance.overwrite_batch_partition`.
- OP-ST2 per-device ordering: the batch pipeline repartitions by
  device before stateful ops; sinks write device-keyed.
- OP-ST3 stateful last-reading store: streaming max_by aggregate per
  (parent_device, sensor_type) in update mode (state bounded by
  watermark).
- OP-ST4 threshold alerting: alert_columns derives alert_level/reason
  from the same threshold lookup as OP-T7 (ingest.threshold_bounds).
- OP-ST5 late/future data: withWatermark + the OP-T11 clamp.
- OP-ST6 at-least-once + idempotent sink: checkpointed foreachBatch
  into maintenance.idempotent_append (dedup on natural key) ==
  effectively-once — a deliberate upgrade over retry-then-drop. The
  ingest body persists each micro-batch once and lands its sinks in
  the order rejects → append → metrics, all batch_id-keyed side sinks
  through maintenance.overwrite_batch_partition; every runner builds
  its one-row metrics frame through `_metrics_row`.
- OP-ST7 maintenance: operators.maintenance jobs, scheduled externally.
- OP-ST8 continuous aggregates: windowed agg with watermark in update
  mode, playing the refresh-policy role.
- OP-ST9 (round-2) streaming sessionization: session_window aggregate,
  the streaming twin of operators/temporal.sessionize.

The ingest chain itself is the SAME code as batch
(operators.ingest.normalize / normalize_raw) — pure DataFrame transforms
applied inside foreachBatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from .. import schema as S
from ..operators import ingest, maintenance, quality


def _parquet_stream(spark: SparkSession, schema, path: str, max_files_per_trigger: int | None) -> DataFrame:
    """The one body of the package's parquet file sources: a fixed
    schema (no inference on a stream), optionally capped files per
    trigger."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _start_micro_batches(
    stream: DataFrame, process, checkpoint_path: str, trigger: dict | None = None
) -> StreamingQuery:
    """OP-ST1/ST6: the one start path of every runner — foreachBatch
    `process` behind a checkpoint, fired by `trigger` (DataStreamWriter
    .trigger keywords; None is availableNow). The foreachBatch method
    is looked up on each call, so a patched
    DataStreamWriter.foreachBatch (perfbench's batch tracing) wraps the
    stream started next."""
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def _metrics_row(spark: SparkSession, schema: str, values) -> DataFrame:
    """The one builder of a runner's per-batch metrics row: `values` as
    literals cast to the DDL `schema`'s types, in its column order, over
    a one-row range — built in the JVM (no Python worker starts) and
    written in one task. Literal columns are non-nullable, so the
    parquet footer records them as required; Spark reads every file
    source column back as nullable, so readers see the same schema."""
    fields = StructType.fromDDL(schema).fields
    return spark.range(1, numPartitions=1).select(
        *[F.lit(v).cast(f.dataType).alias(f.name) for f, v in zip(fields, values, strict=True)]
    )


def stream_raw_files(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based raw-message stream (stands in for the MQTT/Kafka source,
    OP-S1/S3; swap for spark.readStream.format('kafka') + from_avro in a
    Kafka deployment)."""
    return _parquet_stream(spark, S.RAW_RUUVITAG_SCHEMA, path, max_files_per_trigger)


def run_ingest_stream(
    raw_stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    rejects_path: str | None = None,
    metrics_path: str | None = None,
    anchor=None,
    available_now: bool = True,
    processing_time: str = "5 seconds",
) -> StreamingQuery:
    """OP-ST1/ST6: the storage sink. Each micro-batch runs the batch
    normalize chain, then idempotent-appends to the date-partitioned
    table (checkpoint + natural-key dedup == effectively-once).

    With metrics_path set, each batch also appends one row of
    data-quality counters (rows in/valid/rejected/anomalous + failure
    rate) to a pipeline_metrics table — the queryable replacement for
    the reference's Prometheus counters (metrics.py:41-165; §2.11).

    Job shape: the micro-batch is computed ONCE — the reject_reasons-
    tagged frame, before the valid/rejected split, is persisted, and
    an Observation on it carries the batch facts: the four counters and
    the event days of the valid rows (after the OP-T11 clamp). The
    rejects write runs first: it is the one job that builds the cache
    and fills the Observation (without a rejects sink, a noop write
    does). The append and the metrics write then read the cache, and
    the day set goes to idempotent_append(days=...), so nothing is
    recomputed to learn a count or a target partition, and the
    append's NULL-key refusal rides its own write instead of a probe
    job. The cache is released when the batch ends, crashed or not.
    That is 4 Spark jobs per batch, whether or not its day is already
    in the store (adaptive execution on, both side sinks set): the
    rejects write (the OP-T7 thresholds are an inline lookup, not a
    broadcast), two for the append (one shuffle that dedups the batch
    and drops the stored keys of the overlapping partitions, then the
    write) and the one-row metrics write in one task. A batch with no
    valid rows skips the append: no rows, no write."""

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        facts = Observation()
        tagged = ingest.normalize(batch, anchor=anchor).observe(
            facts,
            *quality.batch_counters(ingest.is_valid(), F.col("is_anomaly")),
            F.collect_set(F.when(ingest.is_valid(), F.to_date("timestamp"))).alias("days"),
        ).persist()
        try:
            valid, rejected = ingest.split_normalized(tagged)
            # rejects + metrics are effectively-once like the data store
            # (r14): batch_id-keyed dynamic partition overwrite, so a
            # re-delivered micro-batch rewrites its own partition instead
            # of double-counting the books. The first sink builds the
            # cache and fills `facts`, whose day set the append needs.
            if rejects_path is not None:
                maintenance.overwrite_batch_partition(rejected, rejects_path, batch_id)
            else:
                tagged.write.format("noop").mode("overwrite").save()
            observed = facts.get
            if observed["rows_valid"]:
                maintenance.idempotent_append(spark, valid, table_path, days=observed["days"])
            if metrics_path is not None:
                m = quality.metrics_record(observed)
                metrics_row = _metrics_row(
                    spark,
                    "rows_in long, rows_valid long, rows_rejected long, anomalies long, validation_failure_rate double",
                    (m["rows_in"], m["rows_valid"], m["rows_rejected"], m["anomalies"], m["validation_failure_rate"]),
                )
                maintenance.overwrite_batch_partition(metrics_row, metrics_path, batch_id)
        finally:
            tagged.unpersist()

    trigger = {"availableNow": True} if available_now else {"processingTime": processing_time}
    return _start_micro_batches(raw_stream, process, checkpoint_path, trigger)


def alert_columns(readings: DataFrame) -> DataFrame:
    """OP-ST4: derive alert_level/alert_reason (consumer.py:359-508).

    CRITICAL: status ERROR or dead battery; WARNING: threshold breach.
    Works identically on a batch or streaming DataFrame. The thresholds
    are ingest.threshold_bounds, the lookup OP-T7 flags with; device_type
    leads the output columns, so the alerts table keeps its column
    order."""
    thr_min, thr_max = ingest.threshold_bounds(F.col("device_type"))
    low = F.col("value") < thr_min
    high = F.col("value") > thr_max
    critical = (F.col("status") == "ERROR") | (
        (F.col("device_type") == "battery_sensor") & (F.col("value") < S.BATTERY_MIN_VOLTAGE)
    )
    level = (
        F.when(critical, "CRITICAL")
        .when(thr_min.isNotNull() & (low | high), "WARNING")
        .otherwise(None)
    )
    reason = (
        F.when(F.col("status") == "ERROR", "device_error")
        .when((F.col("device_type") == "battery_sensor") & (F.col("value") < S.BATTERY_MIN_VOLTAGE), "low_battery")
        .when(thr_min.isNotNull() & low, "below_threshold")
        .when(thr_max.isNotNull() & high, "above_threshold")
        .otherwise(None)
    )
    # OP-T14 (consumer.py:391-395): the human-readable alert line with the
    # value formatted to 2 decimals — format_number, JVM-side. Every
    # nullable piece is coalesced: value is NOT a required ingest field,
    # so a status=ERROR reading with a null value raises a CRITICAL
    # alert, and concat's null-propagation would null the ENTIRE message
    # on exactly the alerts that matter most (found by the streaming
    # edge-parity fixture, r11). The fallbacks render as the literal
    # 'None' — byte-for-byte what the reference's Python f-strings
    # (str(None)) print for a missing value/unit/device — so grep-style
    # downstream alert tooling matches either producer (ADVICE r11).
    message = F.concat(
        level, F.lit(": "),
        F.coalesce(F.col("device_id"), F.lit("None")), F.lit(" "), reason,
        F.lit(" (value="),
        F.coalesce(F.format_number(F.col("value"), 2), F.lit("None")),
        F.lit(" "), F.coalesce(F.col("unit"), F.lit("None")), F.lit(")"),
    )
    return (
        readings.select("device_type", *[c for c in readings.columns if c != "device_type"])
        .withColumn("alert_level", level)
        .withColumn("alert_reason", reason)
        .withColumn("alert_message", message)
        .where(F.col("alert_level").isNotNull())
    )


def last_reading_state(readings: DataFrame, watermark: str = "24 hours") -> DataFrame:
    """OP-ST3: per-(parent_device, sensor_type) latest reading — the
    consumer's cross-sensor context store (consumer.py:350-357,
    :397-432) as a streaming max_by aggregate (update mode)."""
    src = readings.withWatermark("timestamp", watermark)
    return src.groupBy(
        F.col("device_metadata")["parent_device"].alias("parent_device"),
        F.col("device_metadata")["sensor_type"].alias("sensor_type"),
    ).agg(
        F.max_by("value", "timestamp").alias("value"),
        F.max_by("unit", "timestamp").alias("unit"),
        F.max("timestamp").alias("last_seen"),
        F.max_by("is_anomaly", "timestamp").alias("is_anomaly"),
    )


def continuous_aggregate(
    readings: DataFrame, bucket: str = "1 hour", watermark: str = "3 hours"
) -> DataFrame:
    """OP-ST8: the continuous-aggregate analogue (init.sql:324-368).

    Streaming windowed aggregation; the watermark delay plays the
    refresh policy's end_offset (buckets finalize once the watermark
    passes). Bucket label exposed as window.start (time_bucket parity)."""
    src = readings.withWatermark("timestamp", watermark)
    return (
        src.groupBy(
            F.window("timestamp", bucket).alias("w"),
            F.col("device_id"),
            F.col("device_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("reading_count"),
            F.avg("value").alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count(F.when(F.col("is_anomaly"), 1)).alias("anomaly_count"),
            F.max_by("battery_level", "timestamp").alias("last_battery_level"),
        )
        .select(F.col("w.start").alias("bucket"), "*")
        .drop("w")
    )


def session_aggregate(
    readings: DataFrame, gap: str = "30 minutes", watermark: str = "3 hours"
) -> DataFrame:
    """OP-ST9: streaming gap sessionization — the session_window twin of
    the batch gaps-and-islands operator (operators/temporal.sessionize).

    Spark's session-window state store merges overlapping per-key
    windows as events arrive, so state per device is the OPEN sessions
    only; a session finalizes (append mode) once the watermark passes
    gap beyond its last event. Same 100 TB posture as every streaming
    agg here: state bounded by watermark, keyed shuffle only."""
    src = readings.withWatermark("timestamp", watermark)
    return (
        src.groupBy(F.session_window("timestamp", gap).alias("w"), F.col("device_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg("value").alias("avg_value"),
            F.count(F.when(F.col("is_anomaly"), 1)).alias("anomaly_count"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "device_id",
            "n_events",
            "avg_value",
            "anomaly_count",
        )
    )


ANOMALY_CONTEXT_SCHEMA = (
    "parent_device string, sensor_type string, value double, unit string, "
    "event_ts timestamp, sibling_context string"
)
_STATE_SCHEMA = (
    "sensor_types array<string>, values array<double>, units array<string>, seen_epoch array<double>"
)


def stateful_anomaly_context(readings: DataFrame) -> DataFrame:
    """OP-ST3 as TRUE streaming state (consumer.py:350-357, :397-432):
    per parent device, keep the latest reading of every sensor channel
    across micro-batches; when an anomalous reading arrives, emit it with
    a JSON snapshot of its sibling channels' current values.

    applyInPandasWithState — arbitrary keyed state that survives between
    triggers, unlike the windowed max_by in last_reading_state which only
    aggregates within the watermark. State per key is O(#channels) (<=9
    for a RuuviTag), so memory is bounded by device count, not rate.
    Partitioning: groupBy(parent_device) shuffles each device's readings
    to one task == the per-device ordering Kafka keying gave the
    reference (OP-ST2)."""
    import json

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key: tuple, pdfs, state: GroupState):
        store: dict[str, tuple] = {}
        if state.exists:
            stypes, vals, units, seen = state.get
            store = {t: (v, u, s) for t, v, u, s in zip(stypes, vals, units, seen)}
        out = []
        # pdfs is an iterator of Arrow chunks with NO ordering guarantee —
        # a group whose micro-batch exceeds one Arrow batch would otherwise
        # be replayed per-chunk out of order. Materialize the whole group's
        # batch (bounded: one key's rows in one trigger) and sort once.
        chunks = list(pdfs)
        if chunks:
            batch = pd.concat(chunks, ignore_index=True).sort_values("event_ts")
            for r in batch.itertuples(index=False):
                epoch = r.event_ts.timestamp()
                store[r.sensor_type] = (r.value, r.unit, epoch)
                if r.is_anomaly:
                    ctx = {
                        t: {"value": v, "unit": u}
                        for t, (v, u, _) in sorted(store.items())
                        if t != r.sensor_type
                    }
                    out.append(
                        (key[0], r.sensor_type, r.value, r.unit, r.event_ts, json.dumps(ctx, sort_keys=True))
                    )
        keys = sorted(store)
        state.update((
            keys,
            [store[t][0] for t in keys],
            [store[t][1] for t in keys],
            [store[t][2] for t in keys],
        ))
        cols = ["parent_device", "sensor_type", "value", "unit", "event_ts", "sibling_context"]
        yield pd.DataFrame(out, columns=cols)

    src = readings.select(
        F.col("device_metadata")["parent_device"].alias("parent_device"),
        F.col("device_metadata")["sensor_type"].alias("sensor_type"),
        F.col("value").cast("double").alias("value"),
        "unit",
        F.col("timestamp").alias("event_ts"),
        "is_anomaly",
    )
    return src.groupBy("parent_device").applyInPandasWithState(
        fn,
        outputStructType=ANOMALY_CONTEXT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_within_watermark(
    stream: DataFrame,
    keys: tuple[str, ...] = ("reading_id",),
    ts_col: str = "timestamp",
    watermark: str = "24 hours",
) -> DataFrame:
    """In-stream dedup for at-least-once sources (OP-ST6 complement):
    drop repeats of the natural key arriving within the watermark
    horizon. State is bounded by the watermark (a plain dropDuplicates
    on a stream keeps every key forever); replays that arrive LATER
    than the horizon are still caught by the sink-side
    idempotent_append stored-key drop, which remains the cross-restart
    guarantee. Keyed-state shuffle on the dedup key, same 100 TB
    posture as the other stateful ops."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


ALERT_EVAL_SCHEMA = (
    "series string, bucket timestamp, metric double, condition_met boolean, "
    "run_len int, firing boolean"
)
_ALERT_STATE_SCHEMA = "run_len int, last_epoch double"


def streaming_alert_eval(
    bucketed: DataFrame, width: str, for_buckets: int = 1
) -> DataFrame:
    """Streaming twin of observability.alert_eval: Prometheus ``expr`` +
    ``for:`` semantics evaluated continuously. Input is a bucketed
    condition stream (series, bucket, metric, condition_met); a row
    FIRES when its condition held for `for_buckets` CONTIGUOUS buckets
    of its series — and unlike the batch window form, the consecutive-
    breach run survives micro-batch boundaries and query restarts
    (keyed state: one (run_len, last_epoch) pair per series, O(series)
    memory regardless of rate).

    Semantics match the batch operator row-for-row: a bucket gap resets
    the run (Prometheus behavior when a series disappears mid-`for`);
    condition false resets it to zero. Partitioning: groupBy(series)
    shuffles each alert series to one task — series are independent, so
    a fleet of rules/devices parallelizes across the cluster."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..functions.timeutil import bucket_seconds

    if for_buckets < 1:
        raise ValueError(f"for_buckets must be >= 1, got {for_buckets}")
    sec = bucket_seconds(width)

    def fn(key: tuple, pdfs, state: GroupState):
        run, last = state.get if state.exists else (0, -1.0)
        out = []
        # Arrow chunk order is not guaranteed: sorting each chunk alone
        # breaks run_len when one series' micro-batch spans chunks (e.g. an
        # availableNow backfill). Materialize the group's batch and sort
        # globally — bounded by one key's rows per trigger.
        chunks = list(pdfs)
        if chunks:
            batch = pd.concat(chunks, ignore_index=True).sort_values("bucket")
            for r in batch.itertuples(index=False):
                epoch = r.bucket.timestamp()
                cond = bool(r.condition_met)
                contiguous = last >= 0 and abs(epoch - (last + sec)) < 1e-6
                if cond:
                    run = run + 1 if contiguous else 1
                else:
                    run = 0
                out.append(
                    (key[0], r.bucket, r.metric, cond, run, cond and run >= for_buckets)
                )
                last = epoch
        state.update((run, last))
        cols = ["series", "bucket", "metric", "condition_met", "run_len", "firing"]
        yield pd.DataFrame(out, columns=cols)

    return bucketed.groupBy("series").applyInPandasWithState(
        fn,
        outputStructType=ALERT_EVAL_SCHEMA,
        stateStructType=_ALERT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_alert_stream(
    raw_stream: DataFrame,
    alerts_path: str,
    checkpoint_path: str,
    anchor=None,
) -> StreamingQuery:
    """OP-ST4 end-to-end: the alerting consumer as its own streaming query
    over the same source (the reference runs alerting and storage as
    separate consumer groups on one topic, so each sees every record —
    two Structured Streaming queries with separate checkpoints reproduce
    that fan-out). Emits only alert rows, appended to an alerts table."""

    def process(batch: DataFrame, batch_id: int) -> None:
        valid, _ = ingest.normalize_raw(batch, anchor=anchor)
        alerts = alert_columns(valid)
        # effectively-once (r14): a re-delivered batch rewrites its own
        # alerts partition — an alert fired twice for one reading is a
        # paging bug, not an observability quirk
        maintenance.overwrite_batch_partition(alerts, alerts_path, batch_id)

    return _start_micro_batches(raw_stream, process, checkpoint_path)
