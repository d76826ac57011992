"""Streaming tests (OP-ST1..ST8) with file sources + availableNow triggers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metrocloud_data_pipeline_spark import streaming
from metrocloud_data_pipeline_spark.llm import dedup
from metrocloud_data_pipeline_spark.operators import ingest, maintenance
from metrocloud_data_pipeline_spark.tests_fixtures import RAW_FIXTURE_ROWS, RAW_FIXTURE_SCHEMA

ANCHOR = "2025-09-26 12:00:00"


@pytest.fixture()
def raw_dir(spark, tmp_path):
    p = str(tmp_path / "raw")
    spark.createDataFrame(RAW_FIXTURE_ROWS, schema=RAW_FIXTURE_SCHEMA).coalesce(1).write.parquet(p)
    return p


def test_ingest_stream_end_to_end(spark, tmp_path, raw_dir):
    table = str(tmp_path / "bronze")
    ck = str(tmp_path / "ck")
    rejects = str(tmp_path / "rejects")
    stream = streaming.stream_raw_files(spark, raw_dir)
    assert stream.isStreaming
    q = streaming.run_ingest_stream(stream, table, ck, rejects_path=rejects, anchor=ANCHOR)
    q.awaitTermination(120)
    out = maintenance.read_table(spark, table)
    assert out.count() == 20  # 21 fanned rows - 1 rejected
    assert spark.read.parquet(rejects).count() == 1
    # restart over the same files + checkpoint: no reprocessing, no dups
    q2 = streaming.run_ingest_stream(streaming.stream_raw_files(spark, raw_dir), table, ck, anchor=ANCHOR)
    q2.awaitTermination(120)
    assert maintenance.read_table(spark, table).count() == 20


def test_ingest_stream_idempotent_across_duplicate_files(spark, tmp_path, raw_dir):
    # same rows delivered again as NEW files (fresh checkpoint): the
    # natural-key dedup sink keeps the table exactly-once (OP-ST6/D4)
    table = str(tmp_path / "bronze2")
    q = streaming.run_ingest_stream(streaming.stream_raw_files(spark, raw_dir), table, str(tmp_path / "ck1"), anchor=ANCHOR)
    q.awaitTermination(120)
    q2 = streaming.run_ingest_stream(streaming.stream_raw_files(spark, raw_dir), table, str(tmp_path / "ck2"), anchor=ANCHOR)
    q2.awaitTermination(120)
    assert maintenance.read_table(spark, table).count() == 20


@pytest.fixture()
def normalized(spark, raw_dir):
    raw = spark.createDataFrame(RAW_FIXTURE_ROWS, schema=RAW_FIXTURE_SCHEMA)
    valid, _ = ingest.normalize_raw(raw, anchor=ANCHOR)
    return valid.cache()


def test_alert_columns(normalized):
    alerts = {(r["device_id"], r["alert_level"], r["alert_reason"])
              for r in streaming.alert_columns(normalized).collect()}
    assert ("aa:bb:cc:dd:ee:01_temperature", "WARNING", "above_threshold") in alerts
    assert ("aa:bb:cc:dd:ee:01_pressure", "WARNING", "below_threshold") in alerts
    assert ("aa:bb:cc:dd:ee:01_battery_voltage", "CRITICAL", "low_battery") in alerts
    # nominal devices raise nothing
    assert not any(d.startswith("c6:8d") for d, _, _ in alerts)


def test_last_reading_state_batch_semantics(normalized):
    state = {(r["parent_device"], r["sensor_type"]): r
             for r in streaming.last_reading_state(normalized.withColumnRenamed("ts", "timestamp")).collect()}
    key = ("c6:8d:c6:26:39:a6", "temperature")
    assert key in state
    assert state[key]["value"] == 21.42
    assert state[key]["unit"] == "°C"


def test_continuous_aggregate_streaming(spark, tmp_path, normalized):
    # stream the normalized readings through the windowed aggregate in
    # update mode into a memory sink
    src_dir = str(tmp_path / "norm")
    normalized.write.parquet(src_dir)
    stream = spark.readStream.schema(normalized.schema).parquet(src_dir)
    agg = streaming.continuous_aggregate(stream, bucket="1 hour")
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("cagg")
        .option("checkpointLocation", str(tmp_path / "ck_agg"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM cagg").collect()
    assert rows
    k = {(r["bucket"].isoformat(), r["device_id"]): r for r in rows}
    key = ("2025-09-26T07:00:00", "c6:8d:c6:26:39:a6_temperature")
    assert key in k
    assert k[key]["reading_count"] == 1
    assert k[key]["avg_value"] == 21.42


def test_stateful_anomaly_context_across_batches(spark, tmp_path, normalized):
    # batch 1: only normal readings seed the state; batch 2 delivers the
    # anomalies — their context must include channel values learned in
    # batch 1, proving keyed state survives between triggers (same
    # checkpoint, parquet sink: memory sink cannot resume a checkpoint).
    import json

    from metrocloud_data_pipeline_spark.streaming.pipeline import ANOMALY_CONTEXT_SCHEMA

    src_dir = tmp_path / "state_src"
    src_dir.mkdir()
    out_dir = str(tmp_path / "ctx_out")
    ck = str(tmp_path / "ck_state")
    normal = normalized.where("not is_anomaly")
    anomalous = normalized.where("is_anomaly")
    normal.coalesce(1).write.parquet(str(src_dir / "b1"))

    def run_once():
        stream = spark.readStream.schema(normalized.schema).parquet(str(src_dir) + "/*")
        q = (
            streaming.stateful_anomaly_context(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    read = lambda: spark.read.schema(ANOMALY_CONTEXT_SCHEMA).parquet(out_dir)
    assert read().count() == 0  # no anomalies yet, state seeded

    anomalous.coalesce(1).write.parquet(str(src_dir / "b2"))
    run_once()
    rows = read().collect()
    assert len(rows) == 3  # every fixture anomaly surfaced exactly once
    by_sensor = {(r["parent_device"], r["sensor_type"]): r for r in rows}
    key = next(k for k in by_sensor if k[1] == "temperature")
    ctx = json.loads(by_sensor[key]["sibling_context"])
    # sibling channels seeded by batch-1 (non-anomalous) readings of the
    # SAME parent are visible in the context emitted during batch 2
    parent = key[0]
    seeded = {
        r["device_metadata"]["sensor_type"]
        for r in normal.where(
            F.col("device_metadata")["parent_device"] == parent
        ).collect()
    } - {"temperature"}
    assert seeded and seeded <= set(ctx)
    assert all("value" in v and "unit" in v for v in ctx.values())
    assert by_sensor[key]["value"] is not None


def test_streaming_alert_eval_run_survives_batches(spark, tmp_path):
    # FOR-duration alert runs must survive micro-batch boundaries:
    # batch 1 ends mid-run (1 breach bucket); batch 2's first bucket
    # completes the 2-bucket run and must FIRE — only possible if the
    # run length crossed the checkpoint. Series "g" has a bucket gap
    # between its two breaches, so it must never fire.
    from datetime import datetime

    from metrocloud_data_pipeline_spark.streaming.pipeline import ALERT_EVAL_SCHEMA

    h = lambda i: datetime(2024, 1, 1, i)
    in_schema = "series string, bucket timestamp, metric double, condition_met boolean"
    src_dir = tmp_path / "alert_src"
    src_dir.mkdir()
    out_dir = str(tmp_path / "alert_out")
    ck = str(tmp_path / "alert_ck")

    b1 = [("a", h(0), 5.0, False), ("a", h(1), 20.0, True), ("g", h(1), 20.0, True)]
    b2 = [("a", h(2), 25.0, True), ("a", h(3), 2.0, False), ("g", h(3), 25.0, True)]
    spark.createDataFrame(b1, in_schema).coalesce(1).write.parquet(str(src_dir / "b1"))

    def run_once():
        stream = spark.readStream.schema(in_schema).parquet(str(src_dir) + "/*")
        q = (
            streaming.streaming_alert_eval(stream, width="1 hour", for_buckets=2)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    read = lambda: spark.read.schema(ALERT_EVAL_SCHEMA).parquet(out_dir)
    first = {(r["series"], r["bucket"].hour): r for r in read().collect()}
    assert not any(r["firing"] for r in first.values())  # run=1 is pending, not firing
    assert first[("a", 1)]["run_len"] == 1

    spark.createDataFrame(b2, in_schema).coalesce(1).write.parquet(str(src_dir / "b2"))
    run_once()
    rows = {(r["series"], r["bucket"].hour): r for r in read().collect()}
    assert rows[("a", 2)]["firing"] and rows[("a", 2)]["run_len"] == 2  # crossed batches
    assert not rows[("a", 3)]["firing"] and rows[("a", 3)]["run_len"] == 0
    assert not rows[("g", 3)]["firing"]  # gap at h2 reset the run
    assert rows[("g", 3)]["run_len"] == 1


def test_streaming_alert_eval_multi_chunk_batch(spark, tmp_path):
    # One series whose single micro-batch spans MANY Arrow chunks (forced
    # by a tiny maxRecordsPerBatch) and arrives bucket-DESCENDING. A
    # per-chunk sort would evaluate buckets out of order and corrupt
    # run_len; the global sort must make the long backfill behave exactly
    # like ordered arrival: an unbroken breach run 0..N-1 then a reset.
    from datetime import datetime, timedelta

    from metrocloud_data_pipeline_spark.streaming.pipeline import ALERT_EVAL_SCHEMA

    n = 60  # >> 7-row Arrow batches -> ~9 chunks for the one series
    t0 = datetime(2024, 1, 1)
    rows = [("s", t0 + timedelta(hours=i), 20.0, i < n - 1) for i in range(n)]
    rows.reverse()  # descending arrival order inside the batch
    in_schema = "series string, bucket timestamp, metric double, condition_met boolean"
    src_dir = tmp_path / "mc_src"
    src_dir.mkdir()
    spark.createDataFrame(rows, in_schema).coalesce(1).write.parquet(str(src_dir / "b1"))

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        stream = spark.readStream.schema(in_schema).parquet(str(src_dir) + "/*")
        out_dir = str(tmp_path / "mc_out")
        q = (
            streaming.streaming_alert_eval(stream, width="1 hour", for_buckets=3)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "mc_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set(key, prev)
    got = {
        r["bucket"]: (r["run_len"], r["firing"])
        for r in spark.read.schema(ALERT_EVAL_SCHEMA).parquet(out_dir).collect()
    }
    assert len(got) == n
    for i in range(n):
        want_run = i + 1 if i < n - 1 else 0
        b = t0 + timedelta(hours=i)
        assert got[b] == (want_run, want_run >= 3), f"bucket {i}: {got[b]} != ({want_run}, {want_run >= 3})"


def test_streaming_alert_eval_matches_batch_operator(spark, tmp_path):
    # same bucket series through the stateful stream and the batch
    # window operator -> identical firing decisions
    from datetime import datetime

    from metrocloud_data_pipeline_spark.operators import observability as OBS
    from metrocloud_data_pipeline_spark.streaming.pipeline import ALERT_EVAL_SCHEMA

    h = lambda i: datetime(2024, 1, 1, i)
    in_schema = "series string, bucket timestamp, metric double, condition_met boolean"
    rows = [
        ("s", h(0), 20.0, True), ("s", h(1), 21.0, True), ("s", h(2), 3.0, False),
        ("s", h(3), 22.0, True), ("s", h(4), 23.0, True), ("s", h(5), 24.0, True),
    ]
    src_dir = tmp_path / "ab_src"
    src_dir.mkdir()
    spark.createDataFrame(rows, in_schema).coalesce(1).write.parquet(str(src_dir / "b1"))
    stream = spark.readStream.schema(in_schema).parquet(str(src_dir) + "/*")
    out_dir = str(tmp_path / "ab_out")
    q = (
        streaming.streaming_alert_eval(stream, width="1 hour", for_buckets=2)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ab_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_fire = {
        (r["series"], r["bucket"]): r["firing"]
        for r in spark.read.schema(ALERT_EVAL_SCHEMA).parquet(out_dir).collect()
    }
    batch = OBS.alert_eval(
        spark.createDataFrame(rows, in_schema).withColumnRenamed("condition_met", "c"),
        F.col("c"), width="1 hour", for_buckets=2, key_cols=("series",),
    )
    batch_fire = {(r["series"], r["bucket"]): r["firing"] for r in batch.collect()}
    assert stream_fire == batch_fire


def test_ingest_stream_pipeline_metrics(spark, tmp_path, raw_dir):
    table = str(tmp_path / "bronze_m")
    metrics = str(tmp_path / "metrics")
    q = streaming.run_ingest_stream(
        streaming.stream_raw_files(spark, raw_dir),
        table,
        str(tmp_path / "ck_m"),
        metrics_path=metrics,
        anchor=ANCHOR,
    )
    q.awaitTermination(120)
    m = spark.read.parquet(metrics).collect()
    assert sum(r["rows_valid"] for r in m) == 20
    assert sum(r["rows_rejected"] for r in m) == 1
    assert all(0.0 <= r["validation_failure_rate"] <= 1.0 for r in m)
    assert sum(r["anomalies"] for r in m) == 3


def test_run_alert_stream_fanout_consumer(spark, tmp_path, raw_dir):
    # alerting runs as its own query over the same files (the two-
    # consumer-group fan-out): every threshold breach lands in the table
    alerts_path = str(tmp_path / "alerts")
    q = streaming.run_alert_stream(
        streaming.stream_raw_files(spark, raw_dir), alerts_path, str(tmp_path / "ck_alerts"), anchor=ANCHOR
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(alerts_path).collect()
    assert rows and all(r["alert_level"] in ("WARNING", "CRITICAL") for r in rows)
    assert {r["alert_reason"] for r in rows} >= {"above_threshold"}


def test_alert_message_formatting(normalized):
    # OP-T14: value rendered to 2 decimals inside the alert line
    msgs = {r["device_id"]: r["alert_message"] for r in streaming.alert_columns(normalized).collect()}
    assert msgs, "no alerts produced"
    m = next(iter(msgs.values()))
    import re
    assert re.search(r"value=-?[\d,]+\.\d{2} ", m), m
    assert m.startswith(("WARNING: ", "CRITICAL: "))


def test_batch_metrics_single_pass(spark):
    """All four counters from one aggregation over the valid/rejected
    split; rows_in is the partition invariant's sum."""
    from metrocloud_data_pipeline_spark.operators import quality

    valid = spark.createDataFrame(
        [("d1", True), ("d2", False), ("d3", False)], "device_id string, is_anomaly boolean"
    )
    rejected = spark.createDataFrame([("",)], "device_id string")
    m = quality.batch_metrics(valid, rejected)
    assert m == {
        "rows_in": 4,
        "rows_valid": 3,
        "rows_rejected": 1,
        "anomalies": 1,
        "validation_failure_rate": 0.25,
    }


def test_session_aggregate_streaming(spark, tmp_path, normalized):
    src_dir = str(tmp_path / "sess_norm")
    normalized.write.parquet(src_dir)
    stream = spark.readStream.schema(normalized.schema).parquet(src_dir)
    agg = streaming.session_aggregate(stream, gap="30 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess")
        .option("checkpointLocation", str(tmp_path / "ck_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sess").collect()
    assert rows
    for r in rows:
        # a session's span never exceeds (n_events - 1) gaps + closing gap
        assert r["session_end"] > r["session_start"]
        assert r["n_events"] >= 1
    # batch/stream parity: same gap labeling as the batch sessionizer
    from metrocloud_data_pipeline_spark.operators import temporal

    batch = temporal.session_summary(
        normalized.withColumnRenamed("timestamp", "ts"),
        gap_seconds=1800,
        key_col="device_id",
        ts_col="ts",
        value_col="value",
        tiebreak_col="device_id",
    )
    assert batch.count() == len(rows)


def test_dedup_within_watermark_drops_in_horizon_repeats(spark, tmp_path):
    from datetime import datetime

    in_schema = "reading_id long, timestamp timestamp, value double"
    t = lambda m: datetime(2024, 1, 1, 0, m)
    src_dir = tmp_path / "ddw_src"
    src_dir.mkdir()
    out_dir = str(tmp_path / "ddw_out")
    ck = str(tmp_path / "ddw_ck")
    # batch 1: id 1 twice (in-batch dup) + id 2
    spark.createDataFrame(
        [(1, t(0), 1.0), (1, t(0), 1.0), (2, t(1), 2.0)], in_schema
    ).coalesce(1).write.parquet(str(src_dir / "b1"))

    def run_once():
        stream = spark.readStream.schema(in_schema).parquet(str(src_dir) + "/*")
        q = (
            streaming.dedup_within_watermark(stream, keys=("reading_id",))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    read = lambda: spark.read.schema(in_schema).parquet(out_dir)
    assert read().count() == 2  # in-batch dup collapsed
    # batch 2: id 1 replayed within the horizon + new id 3
    spark.createDataFrame([(1, t(0), 1.0), (3, t(5), 3.0)], in_schema).coalesce(
        1
    ).write.parquet(str(src_dir / "b2"))
    run_once()
    ids = sorted(r["reading_id"] for r in read().collect())
    assert ids == [1, 2, 3]  # cross-batch replay dropped by keyed state


# --- streaming corpus ingest (r5, SURVEY 2.16) -------------------------------


def _doc(i, txt, src="web"):
    return (i, txt, "en", src, len(txt))


def test_corpus_ingest_stream_dedup_and_quality(spark, tmp_path):
    from metrocloud_data_pipeline_spark.streaming import corpus

    good = "a sufficiently long and varied document about spark pipelines"
    other = "another perfectly reasonable piece of training text entirely"
    rows1 = [
        _doc(1, good),
        _doc(2, good.upper()),       # normalized dup of 1 (same batch)
        _doc(3, "tiny"),             # fails min_tokens
        _doc(4, other),
    ]
    rows2 = [
        _doc(5, good),               # dup of already-ingested 1
        _doc(6, "fresh unique content arriving in the second crawl batch"),
    ]
    src = tmp_path / "crawl"
    src.mkdir()
    spark.createDataFrame(rows1, corpus.DOCUMENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )
    spark.createDataFrame(rows2, corpus.DOCUMENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "b2")
    )

    table = str(tmp_path / "corpus")
    rejects = str(tmp_path / "rejects")
    # one file-batch per trigger so batch 2 must anti-join batch 1's store
    stream = corpus.stream_document_files(spark, str(src) + "/*", max_files_per_trigger=1)
    metrics = str(tmp_path / "metrics")
    q = corpus.run_corpus_ingest_stream(
        stream, table, str(tmp_path / "ck"), rejects_path=rejects, metrics_path=metrics
    )
    q.awaitTermination(120)

    kept = spark.read.parquet(table)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 4, 6]
    # digests are unique in the store by construction
    assert kept.select("digest").distinct().count() == kept.count()

    reasons = {r["doc_id"]: r["reason"] for r in spark.read.parquet(rejects).collect()}
    # exactly the three rejected docs — in particular doc 6 (kept in
    # batch 2) must NOT appear as a corpus dup of its own append
    assert set(reasons) == {2, 3, 5}
    assert reasons[2] == "duplicate_in_batch"
    assert reasons[5] == "duplicate_in_corpus"
    assert "too_few_tokens" in reasons[3]

    # per-batch observability rows: batch 1 ingests 4 (2 kept, 1 in-batch
    # dup, 1 quality), batch 2 ingests 2 (1 kept, 1 corpus dup)
    m = {r["batch_id"]: r for r in spark.read.parquet(metrics).collect()}
    assert m[0]["n_ingested"] == 4 and m[0]["n_kept"] == 2
    assert m[0]["n_dup_in_batch"] == 1 and m[0]["n_quality_rejected"] == 1
    assert m[1]["n_ingested"] == 2 and m[1]["n_kept"] == 1
    assert m[1]["n_dup_in_corpus"] == 1

    # redelivery with a fresh checkpoint: store unchanged (effectively-once)
    q2 = corpus.run_corpus_ingest_stream(
        corpus.stream_document_files(spark, str(src) + "/*"),
        table,
        str(tmp_path / "ck2"),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(table).count() == 3


def test_corpus_ingest_stream_near_dup_screen(spark, tmp_path):
    from metrocloud_data_pipeline_spark.streaming import corpus

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    rows1 = [_doc(1, base), _doc(2, "another perfectly ordinary training document here")]
    rows2 = [
        _doc(10, near),  # near-dup (12/14 token jaccard) of ingested doc 1
        _doc(11, "genuinely novel second-batch content about parquet readers"),
    ]
    src = tmp_path / "crawl"
    src.mkdir()
    spark.createDataFrame(rows1, corpus.DOCUMENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )
    spark.createDataFrame(rows2, corpus.DOCUMENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "b2")
    )

    table = str(tmp_path / "corpus")
    rejects = str(tmp_path / "rejects")
    metrics = str(tmp_path / "metrics")
    stream = corpus.stream_document_files(spark, str(src) + "/*", max_files_per_trigger=1)
    q = corpus.run_corpus_ingest_stream(
        stream,
        table,
        str(tmp_path / "ck"),
        rejects_path=rejects,
        metrics_path=metrics,
        near_dup_screen=True,
        near_dup_threshold=0.8,
    )
    q.awaitTermination(120)

    assert sorted(r["doc_id"] for r in spark.read.parquet(table).collect()) == [1, 2, 11]
    reasons = {r["doc_id"]: r["reason"] for r in spark.read.parquet(rejects).collect()}
    assert reasons == {10: "near_duplicate_in_corpus"}
    m = {r["batch_id"]: r for r in spark.read.parquet(metrics).collect()}
    assert m[1]["n_near_dup_in_corpus"] == 1 and m[1]["n_kept"] == 1


def test_ann_serving_stream_matches_batch_scoring(spark, tmp_path):
    import math

    from metrocloud_data_pipeline_spark.llm import similarity
    from metrocloud_data_pipeline_spark.streaming import ann

    # corpus: 3 well-separated clusters of 30 vectors each
    rows = []
    for vid in range(90):
        c = vid % 3
        v = [1.0 if i == c else 0.0 for i in range(8)]
        v[(c + 3) % 8] = 0.05 * ((vid * 7) % 11)
        n = math.sqrt(sum(x * x for x in v))
        rows.append((vid, [x / n for x in v], c))
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()

    # two query batches with ids far outside the corpus id space
    q1 = [(1000, rows[3][1]), (1001, rows[4][1])]
    q2 = [(1002, rows[50][1])]
    src = tmp_path / "queries"
    src.mkdir()
    spark.createDataFrame(q1, ann.QUERY_SCHEMA).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(q2, ann.QUERY_SCHEMA).coalesce(1).write.parquet(str(src / "b2"))

    out = str(tmp_path / "results")
    q = ann.run_ann_serving_stream(
        ann.stream_query_vectors(spark, str(src) + "/*", max_files_per_trigger=1),
        corpus,
        out,
        str(tmp_path / "ck"),
        k=5,
        nprobe=3,
        stride=7,
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    # every query answered with exactly k ranked rows
    per_q = {r["q_id"]: r["n"] for r in got.groupBy("q_id").agg(F.count("*").alias("n")).collect()}
    assert per_q == {1000: 5, 1001: 5, 1002: 5}
    # streamed result == batch external-query scoring, row for row
    batch_q = spark.createDataFrame(q1 + q2, ann.QUERY_SCHEMA)
    want = similarity.knn_join_ivf(
        corpus, k=5, nprobe=3, stride=7, queries=batch_q
    )
    key = lambda t: (t[0], t[4])
    assert sorted(map(tuple, got.drop("batch_id").collect()), key=key) == sorted(
        map(tuple, want.collect()), key=key
    )
    # an external query's neighbor list may legitimately contain ANY
    # corpus vector (no self-exclusion): the planted copy of vec 3 must
    # rank vec 3 first
    top = {r["q_id"]: r for r in got.where(F.col("rank") == 1).collect()}
    assert top[1000]["vec_id"] == 3
    # vec 50's perturbation collides with vec 17's (same (vid*7)%11), so
    # the exact-duplicate tie breaks to the smaller corpus id — either
    # way the planted copy scores a perfect match
    assert top[1002]["vec_id"] in (17, 50) and top[1002]["cosine_sim"] == 1.0


def test_ann_serving_redelivery_is_effectively_once(spark, tmp_path):
    import math

    from metrocloud_data_pipeline_spark.streaming import ann

    rows = []
    for vid in range(30):
        v = [1.0 if i == vid % 3 else 0.0 for i in range(8)]
        v[(vid % 3) + 4] = 0.05 * (vid % 7)
        n = math.sqrt(sum(x * x for x in v))
        rows.append((vid, [x / n for x in v], vid % 3))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    src = tmp_path / "q"
    src.mkdir()
    spark.createDataFrame([(500, rows[1][1])], ann.QUERY_SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )
    out = str(tmp_path / "res")
    for ck in ("ck1", "ck2"):  # second run = full redelivery (fresh checkpoint)
        q = ann.run_ann_serving_stream(
            ann.stream_query_vectors(spark, str(src) + "/*"),
            corpus,
            out,
            str(tmp_path / ck),
            k=3,
            nprobe=3,
            stride=7,
        )
        q.awaitTermination(120)
    got = spark.read.parquet(out)
    # dynamic partition overwrite: redelivery rewrote batch 0, not doubled it
    assert got.count() == 3
    assert got.select("q_id").distinct().collect()[0][0] == 500


def test_scd2_stream_versions_dimension_across_batches(spark, tmp_path):
    from datetime import datetime

    from metrocloud_data_pipeline_spark.streaming import dim as dimmod

    t0, t1, t2 = datetime(2020, 1, 1), datetime(2024, 1, 1), datetime(2024, 6, 1)
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, "gold", t0, None), (2, "bronze", t0, None)],
        "k long, tier string, valid_from timestamp, valid_to timestamp",
    ).write.parquet(dim_path)

    src = tmp_path / "upd"
    src.mkdir()
    # batch 1: key 2 upgrades; in-batch dup for key 2 (older loses)
    spark.createDataFrame(
        [(2, "silver", t1), (2, "iron", t0)], "k long, tier string, effective_ts timestamp"
    ).coalesce(1).write.parquet(str(src / "b1"))
    # batch 2: key 2 upgrades again + new key 3
    spark.createDataFrame(
        [(2, "gold", t2), (3, "new", t2)], "k long, tier string, effective_ts timestamp"
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = spark.readStream.schema("k long, tier string, effective_ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    q = dimmod.run_scd2_stream(
        stream, dim_path, str(tmp_path / "ck"), "k", ["tier"]
    )
    q.awaitTermination(120)

    rows = {(r["k"], r["tier"], r["valid_from"], r["valid_to"])
            for r in spark.read.parquet(dim_path).collect()}
    assert rows == {
        (1, "gold", t0, None),
        (2, "bronze", t0, t1),
        (2, "silver", t1, t2),
        (2, "gold", t2, None),
        (3, "new", t2, None),
    }

    # full redelivery with a fresh checkpoint: merging the same updates
    # again is a no-op (idempotence lives in the MERGE semantics)
    q2 = dimmod.run_scd2_stream(
        spark.readStream.schema("k long, tier string, effective_ts timestamp").parquet(
            str(src) + "/*"
        ),
        dim_path,
        str(tmp_path / "ck2"),
        "k",
        ["tier"],
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(dim_path).count() == 5


def test_scd2_stream_partial_redelivery_of_stale_batch_is_noop(spark, tmp_path):
    # replaying ONLY an old batch (fresh checkpoint, newer versions
    # already in the store) must not corrupt history: the staleness
    # guard drops updates whose effective_ts <= current valid_from
    from datetime import datetime

    from metrocloud_data_pipeline_spark.streaming import dim as dimmod

    t0, t1, t2 = datetime(2020, 1, 1), datetime(2024, 1, 1), datetime(2024, 6, 1)
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(2, "bronze", t0, t1), (2, "silver", t1, t2), (2, "gold", t2, None)],
        "k long, tier string, valid_from timestamp, valid_to timestamp",
    ).write.parquet(dim_path)
    src = tmp_path / "upd"
    src.mkdir()
    spark.createDataFrame(
        [(2, "silver", t1)], "k long, tier string, effective_ts timestamp"
    ).coalesce(1).write.parquet(str(src / "old_batch"))

    q = dimmod.run_scd2_stream(
        spark.readStream.schema("k long, tier string, effective_ts timestamp").parquet(
            str(src) + "/*"
        ),
        dim_path,
        str(tmp_path / "ck"),
        "k",
        ["tier"],
    )
    q.awaitTermination(120)
    rows = {(r["tier"], r["valid_from"], r["valid_to"])
            for r in spark.read.parquet(dim_path).collect()}
    assert rows == {("bronze", t0, t1), ("silver", t1, t2), ("gold", t2, None)}


@pytest.mark.slow
def test_corpus_ingest_band_index_maintained_and_screens(spark, tmp_path):
    from metrocloud_data_pipeline_spark.streaming import corpus

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    rows1 = [_doc(1, base), _doc(2, "another perfectly ordinary training document here")]
    rows2 = [_doc(10, "genuinely novel second-batch content about parquet readers")]
    rows3 = [_doc(20, near)]  # near-dup of doc 1, two batches later
    src = tmp_path / "crawl"
    src.mkdir()
    for name, rows in (("b1", rows1), ("b2", rows2), ("b3", rows3)):
        spark.createDataFrame(rows, corpus.DOCUMENT_SCHEMA).coalesce(1).write.parquet(
            str(src / name)
        )

    table = str(tmp_path / "corpus")
    rejects = str(tmp_path / "rejects")
    bands = str(tmp_path / "band_index")
    q = corpus.run_corpus_ingest_stream(
        corpus.stream_document_files(spark, str(src) + "/*", max_files_per_trigger=1),
        table,
        str(tmp_path / "ck"),
        rejects_path=rejects,
        near_dup_screen=True,
        near_dup_threshold=0.8,
        band_index_path=bands,
    )
    q.awaitTermination(180)

    kept_ids = sorted(r["doc_id"] for r in spark.read.parquet(table).collect())
    assert kept_ids == [1, 2, 10]  # the batch-3 near-dup was screened out
    reasons = {r["doc_id"]: r["reason"] for r in spark.read.parquet(rejects).collect()}
    assert reasons == {20: "near_duplicate_in_corpus"}
    # the index tracks exactly the kept docs: 32 band rows per doc
    idx = spark.read.parquet(bands)
    assert idx.count() == 3 * 32
    assert sorted(r["doc_id"] for r in idx.select("doc_id").distinct().collect()) == [1, 2, 10]


@pytest.mark.slow
def test_corpus_ingest_periodic_compaction_preserves_data(spark, tmp_path):
    from metrocloud_data_pipeline_spark.streaming import corpus

    src = tmp_path / "crawl"
    src.mkdir()
    for i in range(4):
        spark.createDataFrame(
            [_doc(100 + i, f"unique document number {i} with plenty of ordinary words")],
            corpus.DOCUMENT_SCHEMA,
        ).coalesce(1).write.parquet(str(src / f"b{i}"))

    table = str(tmp_path / "corpus")
    bands = str(tmp_path / "bands")
    q = corpus.run_corpus_ingest_stream(
        corpus.stream_document_files(spark, str(src) + "/*", max_files_per_trigger=1),
        table,
        str(tmp_path / "ck"),
        near_dup_screen=True,
        band_index_path=bands,
        compact_every_batches=2,
    )
    q.awaitTermination(180)

    store = spark.read.parquet(table)
    assert sorted(r["doc_id"] for r in store.collect()) == [100, 101, 102, 103]
    idx = spark.read.parquet(bands)
    assert idx.count() == 4 * 32
    # batch 3 (the 4th) triggered compaction: the store re-listed after
    # the swap holds far fewer files than 4 uncoalesced appends would
    assert len(store.inputFiles()) <= 8


def test_band_index_bootstraps_from_preexisting_store(spark, tmp_path):
    """Starting an indexed stream against a store built WITHOUT the index
    must first bring the index up to full-store coverage — otherwise
    near-dups of pre-existing docs pass the screen forever (r5 advice)."""
    from metrocloud_data_pipeline_spark.streaming import corpus

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    table = str(tmp_path / "corpus")
    # phase 1: un-indexed ingest seeds the store with docs 1 and 2
    src1 = tmp_path / "crawl1"
    src1.mkdir()
    spark.createDataFrame(
        [_doc(1, base), _doc(2, "another perfectly ordinary training document here")],
        corpus.DOCUMENT_SCHEMA,
    ).coalesce(1).write.parquet(str(src1 / "b1"))
    corpus.run_corpus_ingest_stream(
        corpus.stream_document_files(spark, str(src1) + "/*"),
        table,
        str(tmp_path / "ck1"),
    ).awaitTermination(120)

    # phase 2: a NEW stream turns the band index on; its first batch
    # carries a near-dup of pre-existing doc 1
    src2 = tmp_path / "crawl2"
    src2.mkdir()
    spark.createDataFrame(
        [_doc(10, near), _doc(11, "genuinely novel content about parquet readers")],
        corpus.DOCUMENT_SCHEMA,
    ).coalesce(1).write.parquet(str(src2 / "b2"))
    rejects = str(tmp_path / "rejects")
    bands = str(tmp_path / "band_index")
    corpus.run_corpus_ingest_stream(
        corpus.stream_document_files(spark, str(src2) + "/*"),
        table,
        str(tmp_path / "ck2"),
        rejects_path=rejects,
        near_dup_screen=True,
        near_dup_threshold=0.8,
        band_index_path=bands,
    ).awaitTermination(120)

    assert sorted(r["doc_id"] for r in spark.read.parquet(table).collect()) == [1, 2, 11]
    reasons = {r["doc_id"]: r["reason"] for r in spark.read.parquet(rejects).collect()}
    assert reasons == {10: "near_duplicate_in_corpus"}
    idx = spark.read.parquet(bands)
    assert idx.count() == 3 * dedup.BANDS  # bootstrapped 1,2 + appended 11
    assert sorted(r["doc_id"] for r in idx.select("doc_id").distinct().collect()) == [1, 2, 11]


@pytest.mark.slow
def test_band_index_crash_gap_is_repaired(spark, tmp_path):
    """Docs in the store with no band rows (crash between the corpus
    append and the band append) must regain their rows at the next batch
    — the retry sees them as corpus dups, so nothing else would ever
    band them (r5 advice)."""
    import shutil

    from metrocloud_data_pipeline_spark.streaming import corpus

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    table = str(tmp_path / "corpus")
    bands = str(tmp_path / "band_index")
    src1 = tmp_path / "crawl1"
    src1.mkdir()
    spark.createDataFrame(
        [_doc(1, base), _doc(2, "another perfectly ordinary training document here")],
        corpus.DOCUMENT_SCHEMA,
    ).coalesce(1).write.parquet(str(src1 / "b1"))
    corpus.run_corpus_ingest_stream(
        corpus.stream_document_files(spark, str(src1) + "/*"),
        table,
        str(tmp_path / "ck1"),
        near_dup_screen=True,
        band_index_path=bands,
    ).awaitTermination(120)

    # simulate the gap: drop doc 1's band rows from the index
    partial = spark.read.parquet(bands).where(F.col("doc_id") != 1)
    tmp_idx = str(tmp_path / "idx_partial")
    partial.coalesce(1).write.parquet(tmp_idx)
    shutil.rmtree(bands)
    shutil.move(tmp_idx, bands)
    assert spark.read.parquet(bands).select("doc_id").distinct().count() == 1

    src2 = tmp_path / "crawl2"
    src2.mkdir()
    spark.createDataFrame([_doc(10, near)], corpus.DOCUMENT_SCHEMA).coalesce(1).write.parquet(
        str(src2 / "b2")
    )
    rejects = str(tmp_path / "rejects")
    corpus.run_corpus_ingest_stream(
        corpus.stream_document_files(spark, str(src2) + "/*"),
        table,
        str(tmp_path / "ck2"),
        rejects_path=rejects,
        near_dup_screen=True,
        near_dup_threshold=0.8,
        band_index_path=bands,
    ).awaitTermination(120)

    # the near-dup of the de-indexed doc was still screened out
    assert sorted(r["doc_id"] for r in spark.read.parquet(table).collect()) == [1, 2]
    reasons = {r["doc_id"]: r["reason"] for r in spark.read.parquet(rejects).collect()}
    assert reasons == {10: "near_duplicate_in_corpus"}
    # and the repair restored full coverage: every store doc banded
    idx = spark.read.parquet(bands)
    assert idx.count() == 2 * dedup.BANDS


def test_band_index_tolerates_unbandable_docs(spark, tmp_path):
    """A store doc that yields NO MinHash signature (null text — nothing
    to shingle) can never be banded. The coverage check must not treat
    it as a permanent gap: with the old rows==docs*BANDS count check
    every batch re-ran the repair AND re-banded the whole corpus
    forever (r6 advice). Now the index stays trusted, repair attempts
    are bounded to the unbandable doc, and the index never grows."""
    from metrocloud_data_pipeline_spark.streaming import corpus

    store = spark.createDataFrame(
        [
            (1, "a perfectly ordinary training document", "en", "web", 38),
            (2, None, "en", "web", 0),  # unbandable: no text to shingle
        ],
        corpus.DOCUMENT_SCHEMA,
    )
    bands = str(tmp_path / "band_index")

    idx1 = corpus._ensure_band_index(spark, store, bands)
    assert idx1 is not None
    assert idx1.count() == 1 * dedup.BANDS  # doc 1 fully banded
    assert [r["doc_id"] for r in idx1.select("doc_id").distinct().collect()] == [1]

    # steady state: a second pass neither refuses the index nor grows it
    idx2 = corpus._ensure_band_index(spark, store, bands)
    assert idx2 is not None
    assert idx2.count() == 1 * dedup.BANDS


def test_scd2_bucketed_stream_matches_full_rewrite_and_prunes(spark, tmp_path):
    """Partition-scoped SCD2: same versioning semantics as the full
    rewrite, and buckets no batch key hashes into are left physically
    untouched (their files are not rewritten)."""
    import os
    from datetime import datetime

    from metrocloud_data_pipeline_spark.streaming import dim as dimmod

    t0, t1, t2 = datetime(2020, 1, 1), datetime(2024, 1, 1), datetime(2024, 6, 1)
    dim_path = str(tmp_path / "dim")
    seed = spark.createDataFrame(
        [(k, "gold" if k == 1 else "bronze", t0, None) for k in range(1, 9)],
        "k long, tier string, valid_from timestamp, valid_to timestamp",
    )
    dimmod.seed_scd2_store_bucketed(seed, dim_path, "k", n_buckets=8)

    def bucket_files():
        out = {}
        for d in os.listdir(dim_path):
            if d.startswith(f"{dimmod.BUCKET_COL}="):
                files = sorted(
                    (f, os.path.getmtime(os.path.join(dim_path, d, f)))
                    for f in os.listdir(os.path.join(dim_path, d))
                    if f.endswith(".parquet")
                )
                out[d] = files
        return out

    before = bucket_files()
    assert len(before) >= 4  # 8 keys spread over 8 buckets

    src = tmp_path / "upd"
    src.mkdir()
    spark.createDataFrame(
        [(2, "silver", t1), (2, "iron", t0)], "k long, tier string, effective_ts timestamp"
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(2, "gold", t2), (99, "new", t2)], "k long, tier string, effective_ts timestamp"
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = spark.readStream.schema(
        "k long, tier string, effective_ts timestamp"
    ).option("maxFilesPerTrigger", 1).parquet(str(src) + "/*")
    dimmod.run_scd2_stream_bucketed(
        stream, dim_path, str(tmp_path / "ck"), "k", ["tier"], n_buckets=8
    ).awaitTermination(120)

    rows = {(r["k"], r["tier"], r["valid_from"], r["valid_to"])
            for r in spark.read.parquet(dim_path).drop(dimmod.BUCKET_COL).collect()}
    assert (2, "bronze", t0, t1) in rows
    assert (2, "silver", t1, t2) in rows
    assert (2, "gold", t2, None) in rows
    assert (99, "new", t2, None) in rows
    assert (1, "gold", t0, None) in rows
    assert len(rows) == 8 + 3  # 8 seed keys + 2 extra key-2 versions + key 99

    # buckets untouched by keys {2, 99} kept their exact files (same
    # name and mtime — never rewritten)
    import pyspark.sql.functions as SF

    touched = {
        f"{dimmod.BUCKET_COL}={r[0]}"
        for r in spark.createDataFrame([(2,), (99,)], "k long")
        .select(SF.pmod(SF.xxhash64("k"), SF.lit(8)).cast("int"))
        .collect()
    }
    after = bucket_files()
    for d, files in before.items():
        if d not in touched:
            assert after[d] == files, d

    # redelivery with a fresh checkpoint: no-op (idempotent MERGE)
    dimmod.run_scd2_stream_bucketed(
        spark.readStream.schema("k long, tier string, effective_ts timestamp").parquet(
            str(src) + "/*"
        ),
        dim_path,
        str(tmp_path / "ck2"),
        "k",
        ["tier"],
        n_buckets=8,
    ).awaitTermination(120)
    assert spark.read.parquet(dim_path).count() == 11


def test_ann_serving_stream_with_trained_codebook(spark, tmp_path):
    """Serving with a k-means-trained codebook (train once at deploy):
    streamed results equal the batch external-query scoring under the
    SAME codebook, and the planted copy still ranks first."""
    import math

    from metrocloud_data_pipeline_spark.llm import similarity
    from metrocloud_data_pipeline_spark.streaming import ann

    rows = []
    for vid in range(90):
        c = vid % 3
        v = [1.0 if i == c else 0.0 for i in range(8)]
        v[(c + 3) % 8] = 0.05 * ((vid * 7) % 11)
        n = math.sqrt(sum(x * x for x in v))
        rows.append((vid, [x / n for x in v], c))
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()
    cb = similarity.trained_codebook(corpus, k=3, n_iter=4)

    src = tmp_path / "queries"
    src.mkdir()
    qs = [(1000, rows[3][1]), (1001, rows[50][1])]
    spark.createDataFrame(qs, ann.QUERY_SCHEMA).coalesce(1).write.parquet(str(src / "b1"))

    out = str(tmp_path / "results")
    ann.run_ann_serving_stream(
        ann.stream_query_vectors(spark, str(src) + "/*"),
        corpus,
        out,
        str(tmp_path / "ck"),
        k=5,
        nprobe=1,
        codebook=cb,
    ).awaitTermination(120)

    got = spark.read.parquet(out)
    want = similarity.knn_join_ivf(
        corpus, k=5, nprobe=1,
        queries=spark.createDataFrame(qs, ann.QUERY_SCHEMA), codebook=cb,
    )
    key = lambda t: (t[0], t[4])
    assert sorted(map(tuple, got.drop("batch_id").collect()), key=key) == sorted(
        map(tuple, want.collect()), key=key
    )
    top = {r["q_id"]: r["vec_id"] for r in got.where(F.col("rank") == 1).collect()}
    assert top[1000] == 3


def test_ann_serving_stream_pq_serves_from_code_table(spark, tmp_path):
    """The compressed serving tier: micro-batches scored against the
    PERSISTED ivfpq code table (4 B/vector, bucketed by list_id) with
    both quantizer halves reloaded from their catalog sidecars — the
    float corpus is never read per batch. Streamed rows must equal the
    batch ivfpq_topk_batch ADC scoring row for row, and the planted
    near-copy must rank first."""
    import math

    from metrocloud_data_pipeline_spark.llm import similarity
    from metrocloud_data_pipeline_spark.streaming import ann

    rows = []
    for vid in range(90):
        c = vid % 3
        v = [1.0 if i == c else 0.0 for i in range(8)]
        v[(c + 3) % 8] = 0.05 * ((vid * 7) % 11)
        n = math.sqrt(sum(x * x for x in v))
        rows.append((vid, [x / n for x in v], c))
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()
    tbl = "ivfpq_serve_pytest"
    try:
        cb, _ = similarity.ivfpq_corpus_table(
            corpus, tbl, stride=7, m=4, pq_k=8, n_iter=4, num_buckets=4
        )

        src = tmp_path / "queries"
        src.mkdir()
        q1 = [(1000, rows[3][1]), (1001, rows[4][1])]
        q2 = [(1002, rows[50][1])]
        spark.createDataFrame(q1, ann.QUERY_SCHEMA).coalesce(1).write.parquet(
            str(src / "b1")
        )
        spark.createDataFrame(q2, ann.QUERY_SCHEMA).coalesce(1).write.parquet(
            str(src / "b2")
        )

        out = str(tmp_path / "results")
        ann.run_ann_serving_stream_pq(
            spark,
            ann.stream_query_vectors(spark, str(src) + "/*", max_files_per_trigger=1),
            tbl,
            out,
            str(tmp_path / "ck"),
            k=5,
            nprobe=3,
        ).awaitTermination(120)

        got = spark.read.parquet(out)
        per_q = {
            r["q_id"]: r["n"]
            for r in got.groupBy("q_id").agg(F.count("*").alias("n")).collect()
        }
        assert per_q == {1000: 5, 1001: 5, 1002: 5}

        # row-for-row equality with the batch ADC scoring path over the
        # same persisted index
        cids, ccode, _fp = similarity.load_ivf_quantizer(spark, f"{tbl}_coarse")
        cb2 = similarity.load_pq_codebook(spark, tbl)
        want = similarity.ivfpq_topk_batch(
            spark.createDataFrame(q1 + q2, ann.QUERY_SCHEMA),
            spark.table(tbl),
            cb2,
            (cids, ccode),
            k=5,
            nprobe=3,
        )
        key = lambda t: (t[0], t[3])
        assert sorted(map(tuple, got.drop("batch_id").collect()), key=key) == sorted(
            map(tuple, want.collect()), key=key
        )

        # the planted near-copy of vec 3 reconstructs closest: ADC rank 1
        top = {r["q_id"]: r["vec_id"] for r in got.where(F.col("rank") == 1).collect()}
        assert top[1000] == 3
    finally:
        for t in (tbl, f"{tbl}_codebook", f"{tbl}_coarse"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ann_serving_stream_refuses_unfingerprinted_corpus_table(spark, tmp_path):
    """A pre-built corpus_table without its persisted quantizer must be
    refused at stream START (not per batch): probing a layout with a
    different quantizer's list_ids returns silently wrong neighbors."""
    import pytest

    from metrocloud_data_pipeline_spark.streaming import ann

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0], 0) for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    )
    with pytest.raises(ValueError, match="quantizer"):
        ann.run_ann_serving_stream(
            ann.stream_query_vectors(spark, str(tmp_path) + "/*"),
            corpus,
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
            corpus_table=corpus,  # stands in for any pre-listed frame
        )
    # codebook WITHOUT its fingerprint must also refuse at stream start
    # (not die inside the first micro-batch on knn_join_ivf's guard)
    from metrocloud_data_pipeline_spark.llm import similarity

    cb = similarity.trained_codebook(corpus, k=2, n_iter=1)
    with pytest.raises(ValueError, match="quantizer"):
        ann.run_ann_serving_stream(
            ann.stream_query_vectors(spark, str(tmp_path) + "/*"),
            corpus,
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
            corpus_table=corpus,
            codebook=cb,
        )


def test_corpus_ingest_maintains_lm_counts_for_dsir(spark, tmp_path):
    """The ingest stream's incremental DSIR-LM state: after two
    micro-batches, load_lm_counts equals a direct lm_token_counts over
    the standing store (mergeable-delta invariant), and scoring a new
    arrival against the maintained counts equals scoring against
    freshly-computed ones — the corpus text is never rescanned."""
    from pyspark.sql import functions as F

    from metrocloud_data_pipeline_spark.llm import curation
    from metrocloud_data_pipeline_spark.streaming import corpus

    src = tmp_path / "crawl"
    src.mkdir()
    b1 = [
        (1, "alpha beta gamma delta epsilon", "en", "tgt", 29),
        (2, "zeta eta theta iota kappa", "en", "web", 25),
    ]
    b2 = [
        (3, "alpha beta lambda mu nu", "en", "web", 23),
        (4, "alpha beta gamma delta epsilon", "en", "web", 29),  # corpus dup of 1
    ]
    spark.createDataFrame(b1, corpus.DOCUMENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )
    spark.createDataFrame(b2, corpus.DOCUMENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "b2")
    )

    table = str(tmp_path / "corpus")
    lm = str(tmp_path / "lm_counts")
    corpus.run_corpus_ingest_stream(
        corpus.stream_document_files(spark, str(src) + "/*", max_files_per_trigger=1),
        table,
        str(tmp_path / "ck"),
        lm_counts_path=lm,
        lm_target=F.col("source") == "tgt",
    ).awaitTermination(120)

    store = spark.read.parquet(table)
    assert sorted(r["doc_id"] for r in store.collect()) == [1, 2, 3]  # 4 deduped

    maintained = {
        r["token"]: (r["c_raw"], r["c_tgt"])
        for r in corpus.load_lm_counts(spark, lm).collect()
    }
    direct = {
        r["token"]: (r["c_raw"], r["c_tgt"])
        for r in curation.lm_token_counts(
            curation.lm_token_rows(store, F.col("source") == "tgt")
        ).collect()
    }
    assert maintained == direct

    # score an arrival against the maintained LM: equals the fresh-count
    # formulation bit-for-bit (same stats frame content)
    arrival = spark.createDataFrame(
        [(100, "alpha beta gamma qqq", "en", "web", 20)], corpus.DOCUMENT_SCHEMA
    )
    rows = curation.lm_token_rows(arrival, F.lit(False))
    via_maintained = curation.dsir_score_rows(
        rows, corpus.load_lm_counts(spark, lm)
    ).collect()
    via_direct = curation.dsir_score_rows(
        rows,
        curation.lm_token_counts(
            curation.lm_token_rows(store, F.col("source") == "tgt")
        ),
    ).collect()
    assert [tuple(r) for r in via_maintained] == [tuple(r) for r in via_direct]
    # target-vocab tokens push the arrival's weight ABOVE an arrival
    # built from raw-only corpus vocabulary (zeta/eta/... appear only
    # in the non-target doc). NOTE: fully-OOV tokens would NOT work as
    # the contrast here — under asymmetric normalizers the smoothing
    # ratio for an unseen token is (n_raw + aV)/(n_tgt + aV) > 1, the
    # known DSIR artifact the hashed-feature form exists to bound.
    other = spark.createDataFrame(
        [(101, "zeta eta theta iota", "en", "web", 19)], corpus.DOCUMENT_SCHEMA
    )
    w_other = curation.dsir_score_rows(
        curation.lm_token_rows(other, F.lit(False)),
        corpus.load_lm_counts(spark, lm),
    ).first()["bits_per_token"]
    assert via_maintained[0]["bits_per_token"] > w_other


def test_ann_serving_stream_pq_refined_reranks_exact(spark, tmp_path):
    """The refined serving path: ADC retrieves rf*k candidates per
    micro-batch, ONLY those rows' float vectors are fetched for the
    exact cosine re-rank (FAISS IndexRefineFlat). Streamed rows must
    equal the batch ivfpq_topk_batch_refined output row for row, emit
    cosine_sim (not adc_dist2), and refuse to start without the float
    corpus."""
    import math

    import pytest as _pytest

    from metrocloud_data_pipeline_spark.llm import similarity
    from metrocloud_data_pipeline_spark.streaming import ann

    rows = []
    for vid in range(90):
        c = vid % 3
        v = [1.0 if i == c else 0.0 for i in range(8)]
        v[(c + 3) % 8] = 0.05 * ((vid * 7) % 11)
        n = math.sqrt(sum(x * x for x in v))
        rows.append((vid, [x / n for x in v], c))
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()
    tbl = "ivfpq_serve_refined_pytest"
    try:
        similarity.ivfpq_corpus_table(
            corpus, tbl, m=4, pq_k=8, n_iter=4, num_buckets=4
        )
        src = tmp_path / "queries"
        src.mkdir()
        qrows = [(1000, rows[3][1]), (1001, rows[50][1])]
        spark.createDataFrame(qrows, ann.QUERY_SCHEMA).coalesce(1).write.parquet(
            str(src / "b1")
        )
        with _pytest.raises(ValueError, match="float"):
            ann.run_ann_serving_stream_pq(
                spark,
                ann.stream_query_vectors(spark, str(src) + "/*"),
                tbl, str(tmp_path / "r0"), str(tmp_path / "ck0"),
                k=4, nprobe=3, refine_factor=3,
            )
        out = str(tmp_path / "results")
        ann.run_ann_serving_stream_pq(
            spark,
            ann.stream_query_vectors(spark, str(src) + "/*"),
            tbl, out, str(tmp_path / "ck"),
            k=4, nprobe=3, refine_factor=3,
            corpus=corpus.select("vec_id", "embedding"),
        ).awaitTermination(120)

        got = spark.read.parquet(out)
        assert "cosine_sim" in got.columns and "adc_dist2" not in got.columns
        streamed = sorted(
            (r["q_id"], r["vec_id"], r["cosine_sim"], r["rank"])
            for r in got.collect()
        )
        cb = similarity.load_pq_codebook(spark, tbl)
        cids, ccode, _fp = similarity.load_ivf_quantizer(spark, f"{tbl}_coarse")
        batch = sorted(
            (r["q_id"], r["vec_id"], r["cosine_sim"], r["rank"])
            for r in similarity.ivfpq_topk_batch_refined(
                spark.createDataFrame(qrows, ann.QUERY_SCHEMA),
                spark.table(tbl), cb, (cids, ccode),
                corpus.select("vec_id", "embedding"),
                k=4, nprobe=3, refine_factor=3,
            ).collect()
        )
        assert streamed == batch
        # exact re-rank: rank-1 similarity is 1.0 (the corpus contains
        # the query vector — possibly as a byte-identical twin, ties to
        # the smaller vec_id) and lies in the query's planted cluster
        labels = {r[0]: r[2] for r in rows}
        by_q = {}
        for qid, vid, sim, rank in streamed:
            if rank == 1:
                by_q[qid] = (vid, sim)
        assert abs(by_q[1000][1] - 1.0) < 1e-6 and labels[by_q[1000][0]] == 0
        assert abs(by_q[1001][1] - 1.0) < 1e-6 and labels[by_q[1001][0]] == 2
    finally:
        corpus.unpersist()


def test_curate_batch_quality_modes(spark):
    """The gopher/c4/strict ingest gates: per-rule reasons surface in
    the rejects, the pass-through doc survives every mode, and an
    unknown mode raises."""
    from metrocloud_data_pipeline_spark.streaming import corpus

    passing = " ".join(
        ["the quick brown foxes jumped with grace and that was fine to see have some."] * 5
    )
    no_stopwords = " ".join(f"w{i} unique varied token stream" for i in range(20))
    braces = " ".join(
        f"the sentence number {i} talks about varied things with care." for i in range(8)
    ) + " { }"
    batch = spark.createDataFrame(
        [_doc(1, passing), _doc(2, no_stopwords), _doc(3, braces)],
        corpus.DOCUMENT_SCHEMA,
    )

    kept, rejected = corpus.curate_batch(batch, quality_mode="basic")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 3]

    kept, rejected = corpus.curate_batch(batch, quality_mode="gopher")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]
    reasons = {r["doc_id"]: r["reason"] for r in rejected.collect()}
    assert "gopher_stopwords" in reasons[2]

    kept, rejected = corpus.curate_batch(batch, quality_mode="c4")
    got = {r["doc_id"]: r["reason"] for r in rejected.collect()}
    assert 3 in got and "c4_brace" in got[3]
    # doc 2 has no terminal punctuation at all -> every line dropped
    assert "c4_too_few_sentences" in got[2]

    kept, rejected = corpus.curate_batch(batch, quality_mode="strict")
    assert [r["doc_id"] for r in kept.collect()] == [1]

    with pytest.raises(ValueError, match="unknown quality_mode"):
        corpus.curate_batch(batch, quality_mode="bogus")


def test_corpus_ingest_stream_gopher_gate(spark, tmp_path):
    """quality_mode='strict' wired through the stream: the failing doc
    lands in rejects with its panel reason, the store holds only the
    clean doc, and a bogus mode fails at stream START."""
    from metrocloud_data_pipeline_spark.streaming import corpus

    passing = " ".join(
        ["the quick brown foxes jumped with grace and that was fine to see have some."] * 5
    )
    no_stopwords = " ".join(f"w{i} unique varied token stream." for i in range(20))
    src = tmp_path / "crawl"
    src.mkdir()
    spark.createDataFrame(
        [_doc(1, passing), _doc(2, no_stopwords)], corpus.DOCUMENT_SCHEMA
    ).coalesce(1).write.parquet(str(src / "b1"))

    table = str(tmp_path / "corpus")
    rejects = str(tmp_path / "rejects")
    stream = corpus.stream_document_files(spark, str(src) + "/*")
    q = corpus.run_corpus_ingest_stream(
        stream, table, str(tmp_path / "ck"), rejects_path=rejects,
        quality_mode="strict",
    )
    q.awaitTermination(120)
    assert [r["doc_id"] for r in spark.read.parquet(table).collect()] == [1]
    rej = {r["doc_id"]: r["reason"] for r in spark.read.parquet(rejects).collect()}
    assert "gopher_stopwords" in rej[2]

    with pytest.raises(ValueError, match="unknown quality_mode"):
        corpus.run_corpus_ingest_stream(
            stream, table, str(tmp_path / "ck2"), quality_mode="nope"
        )


def test_curate_batch_decontam_modes(spark):
    """The benchmark decontamination gate at batch level (VERDICT r14
    #4): both probe forms (broadcast gram frame / broadcast bitmap)
    reject the contaminated arrival with its reason, the threshold is
    a contamination-fraction cut, and missing prebuilt state fails
    loud — the state is built once per STREAM, never inside a batch."""
    from metrocloud_data_pipeline_spark.llm.curation import (
        build_ngram_bloom,
        ngram_hashes,
    )
    from metrocloud_data_pipeline_spark.streaming import corpus

    bench = spark.createDataFrame(
        [(1, "the secret benchmark answer sequence is forty two exactly here")],
        "bench_id long, text string",
    )
    contaminated = (
        "we found that the secret benchmark answer sequence is forty two "
        "exactly here in print"
    )
    clean = "a perfectly ordinary training document about distributed engines"
    batch = spark.createDataFrame(
        [_doc(10, contaminated), _doc(11, clean)], corpus.DOCUMENT_SCHEMA
    )
    bg = (
        ngram_hashes(bench, 6, id_col="bench_id").select("gh").distinct()
        .localCheckpoint()
    )
    bloom = build_ngram_bloom(bench, n=6)

    for mode, kw in (
        ("exact", {"bench_grams": bg}),
        ("bloom", {"bloom": bloom}),
    ):
        kept, rejected = corpus.curate_batch(batch, decontam_mode=mode, **kw)
        assert [r["doc_id"] for r in kept.collect()] == [11], mode
        reasons = {r["doc_id"]: r["reason"] for r in rejected.collect()}
        assert reasons == {10: "contaminated_benchmark"}, mode

    # threshold is a FRACTION cut: doc 10 shares 5 of its 10 distinct
    # 6-grams with the benchmark (frac 0.5) — a 0.6 threshold keeps it
    kept, rejected = corpus.curate_batch(
        batch, decontam_mode="exact", bench_grams=bg, decontam_threshold=0.6
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [10, 11]

    with pytest.raises(ValueError, match="unknown decontam_mode"):
        corpus.curate_batch(batch, decontam_mode="bogus")
    with pytest.raises(ValueError, match="needs bench_grams"):
        corpus.curate_batch(batch, decontam_mode="exact")
    with pytest.raises(ValueError, match="needs bloom"):
        corpus.curate_batch(batch, decontam_mode="bloom")


@pytest.mark.parametrize("mode", ["exact", "bloom"])
def test_corpus_ingest_stream_decontam_gate(spark, tmp_path, mode):
    """The decontamination gate wired through the stream: the eval-set
    probe state is built once at stream start, every batch screens
    against it, the contaminated arrival lands in rejects with its
    reason and in the n_contaminated metrics column, and a missing
    benchmark / bogus mode fails at stream START."""
    from metrocloud_data_pipeline_spark.streaming import corpus

    bench = spark.createDataFrame(
        [(1, "the secret benchmark answer sequence is forty two exactly here")],
        "bench_id long, text string",
    )
    contaminated = (
        "we found that the secret benchmark answer sequence is forty two "
        "exactly here in print"
    )
    rows1 = [
        _doc(10, contaminated),
        _doc(11, "a perfectly ordinary training document about distributed engines"),
    ]
    rows2 = [_doc(12, "genuinely novel second batch content about parquet readers")]
    src = tmp_path / "crawl"
    src.mkdir()
    spark.createDataFrame(rows1, corpus.DOCUMENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )
    spark.createDataFrame(rows2, corpus.DOCUMENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "b2")
    )

    table = str(tmp_path / "corpus")
    rejects = str(tmp_path / "rejects")
    metrics = str(tmp_path / "metrics")
    stream = corpus.stream_document_files(
        spark, str(src) + "/*", max_files_per_trigger=1
    )
    q = corpus.run_corpus_ingest_stream(
        stream, table, str(tmp_path / "ck"),
        rejects_path=rejects, metrics_path=metrics,
        decontam_mode=mode, benchmark=bench, decontam_threshold=0.05,
    )
    q.awaitTermination(120)

    assert sorted(r["doc_id"] for r in spark.read.parquet(table).collect()) == [11, 12]
    rej = {r["doc_id"]: r["reason"] for r in spark.read.parquet(rejects).collect()}
    assert rej == {10: "contaminated_benchmark"}
    m = {r["batch_id"]: r for r in spark.read.parquet(metrics).collect()}
    assert m[0]["n_contaminated"] == 1 and m[0]["n_kept"] == 1
    assert m[0]["n_quality_rejected"] == 0  # counted apart, not lumped
    assert m[1]["n_contaminated"] == 0 and m[1]["n_kept"] == 1

    with pytest.raises(ValueError, match="unknown decontam_mode"):
        corpus.run_corpus_ingest_stream(
            stream, table, str(tmp_path / "ck2"), decontam_mode="nope"
        )
    with pytest.raises(ValueError, match="needs a benchmark"):
        corpus.run_corpus_ingest_stream(
            stream, table, str(tmp_path / "ck3"), decontam_mode="bloom"
        )
    # bloom + any-gram threshold fails at stream START: per-gram fpp
    # amplifies to 1-(1-fpp)^G per clean doc (measured 49,993/50,000
    # rejected at the 10x probe) — the gate refuses the foot-gun
    with pytest.raises(ValueError, match="false positives alone"):
        corpus.run_corpus_ingest_stream(
            stream, table, str(tmp_path / "ck4"),
            decontam_mode="bloom", benchmark=bench,
        )


# --------------------------------------------------------------------------
# the ingest write path: one materialization per micro-batch
# --------------------------------------------------------------------------


def _raw_rows(*readings):
    """Raw RuuviTag messages carrying one temperature reading each:
    (mac, timestamp string, temperature)."""
    return [(mac, "ruuvitag", ts, temp) + (None,) * 9 for mac, ts, temp in readings]


def _drain(spark, raw_rows, root, table, **sinks):
    """Land `raw_rows` as one file and run the ingest stream over it."""
    raw = str(root / "raw")
    spark.createDataFrame(raw_rows, schema=RAW_FIXTURE_SCHEMA).coalesce(1).write.parquet(raw)
    q = streaming.run_ingest_stream(
        streaming.stream_raw_files(spark, raw), table, str(root / "ck"), anchor=ANCHOR, **sinks
    )
    q.awaitTermination(120)


def test_ingest_stream_all_invalid_first_batch_writes_no_store(spark, tmp_path):
    """No rows, no write: a first micro-batch whose readings are all
    rejected lands its rejects and metrics but creates no store root
    (an empty append would leave a root holding only _SUCCESS)."""
    import os

    table = str(tmp_path / "bronze")
    rows = _raw_rows((None, "2025-09-26T10:00:00Z", 20.0), (None, "2025-09-26T11:00:00Z", 21.0))
    _drain(spark, rows, tmp_path, table,
           rejects_path=str(tmp_path / "rejects"), metrics_path=str(tmp_path / "metrics"))
    assert not os.path.exists(table)
    assert spark.read.parquet(str(tmp_path / "rejects")).count() == 2
    m = spark.read.parquet(str(tmp_path / "metrics")).collect()
    assert [(r.rows_in, r.rows_valid, r.rows_rejected) for r in m] == [(2, 0, 2)]


def test_ingest_stream_all_redelivered_batch_adds_no_partition(spark, tmp_path, raw_dir):
    """A micro-batch whose every row is already stored inserts nothing
    and leaves the store's directory set as it was."""
    import os

    table = str(tmp_path / "bronze")
    for ck in ("ck1", "ck2"):  # fresh checkpoint == the same rows as NEW files
        before = sorted(os.listdir(table)) if os.path.exists(table) else None
        streaming.run_ingest_stream(
            streaming.stream_raw_files(spark, raw_dir), table, str(tmp_path / ck), anchor=ANCHOR
        ).awaitTermination(120)
    after = sorted(os.listdir(table))
    parts = lambda names: [n for n in names if n.startswith(maintenance.PARTITION_COL)]  # noqa: E731
    assert parts(after) == parts(before) and parts(after)
    assert maintenance.read_table(spark, table).count() == 20


def test_ingest_stream_observed_days_match_discovered_days(spark, tmp_path):
    """The stream body hands idempotent_append the event days it observed
    on the materialized batch (after the ±24 h clamp). They must target
    the same partitions as days=None discovery: a previous-day reading
    already in the store must be anti-joined away, and clamped readings
    land on the anchor's day. Both paths land identical stores."""
    from datetime import date

    late = ("aa:00:00:00:00:01", "2025-09-25T20:00:00Z", 19.5)  # previous day, inside the window
    rows = _raw_rows(
        late,
        ("aa:00:00:00:00:02", "2025-09-26T09:00:00Z", 20.0),
        ("aa:00:00:00:00:03", "2025-09-20T10:00:00Z", 21.0),  # too old -> clamped to the anchor
        ("aa:00:00:00:00:04", "2025-09-28T10:00:00Z", 22.0),  # too new -> clamped to the anchor
    )
    streamed, discovered = str(tmp_path / "streamed"), str(tmp_path / "discovered")
    seed, _ = ingest.normalize_raw(spark.createDataFrame(_raw_rows(late), schema=RAW_FIXTURE_SCHEMA), anchor=ANCHOR)
    for store in (streamed, discovered):
        assert maintenance.idempotent_append(spark, seed, store) == 1

    _drain(spark, rows, tmp_path, streamed)
    valid, _ = ingest.normalize_raw(spark.createDataFrame(rows, schema=RAW_FIXTURE_SCHEMA), anchor=ANCHOR)
    assert maintenance.idempotent_append(spark, valid, discovered) == 3

    assert maintenance.list_partitions(streamed) == [date(2025, 9, 25), date(2025, 9, 26)]
    assert maintenance.list_partitions(discovered) == maintenance.list_partitions(streamed)
    key = ["device_id", "timestamp", "device_type"]
    got = maintenance.read_table(spark, streamed).orderBy(*key).collect()
    assert got == maintenance.read_table(spark, discovered).orderBy(*key).collect()
    assert len(got) == 4


def test_ingest_job_budget(spark, tmp_path):
    """Tripwire on the write path's job shape: each micro-batch is
    computed once (one checkpoint whose Observation carries the counters
    and day set, with the thresholds looked up inline), the append
    dedups and drops stored keys in one shuffle, and its NULL-key
    refusal rides its write; the refresh reads under a footer schema
    and observes its own write. A new eager count/collect anywhere on
    this path breaks the budget loudly."""
    import os

    assert not spark.streams.active, "another streaming query would add jobs to the count"
    jobs = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs
    src, table, agg = (str(tmp_path / d) for d in ("src", "table", "agg"))
    os.makedirs(src)
    q = streaming.run_ingest_stream(
        streaming.stream_raw_files(spark, src, 1), table, str(tmp_path / "ck"),
        rejects_path=str(tmp_path / "rejects"), metrics_path=str(tmp_path / "metrics"),
        anchor=ANCHOR, available_now=False, processing_time="50 milliseconds",
    )
    per_batch = []
    try:
        for i in range(2):  # the second batch meets the first's stored partition
            staged = str(tmp_path / f"raw{i}")
            spark.createDataFrame(RAW_FIXTURE_ROWS, schema=RAW_FIXTURE_SCHEMA).coalesce(1).write.parquet(staged)
            part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
            j0 = jobs()
            os.rename(os.path.join(staged, part), os.path.join(src, f"{i}.parquet"))
            q.processAllAvailable()
            per_batch.append(jobs() - j0)
    finally:
        q.stop()
    j0 = jobs()
    maintenance.refresh_bucket_aggregate(spark, table, agg)
    refresh_jobs = jobs() - j0

    assert maintenance.read_table(spark, table).count() == 20
    first, second = per_batch
    # checkpoint 1, append 2 (one shuffle, the write), rejects 1, metrics 1
    assert first <= 5, f"first batch, no stored day: {per_batch}"
    # the stored day's keys ride the append's one shuffle: still 5
    assert second <= 5, f"second batch, against a stored day: {per_batch}"
    assert refresh_jobs <= 2, refresh_jobs


def test_ingest_stream_batches_run_through_patched_foreach_batch(spark, tmp_path, raw_dir):
    """The batch-tracing hook: a DataStreamWriter.foreachBatch patched
    on the class while run_ingest_stream starts (restored right after,
    as the benchmark's traced runs do) must wrap the micro-batch body.
    A start path that bound foreachBatch once, at import, would bypass
    the patch and every traced streaming.* figure would read zero."""
    from pyspark.sql.streaming import DataStreamWriter

    orig_fb = DataStreamWriter.foreachBatch
    seen: list[int] = []

    def traced_foreach_batch(writer, func):
        def body(df, batch_id):
            seen.append(batch_id)
            return func(df, batch_id)

        return orig_fb(writer, body)

    table = str(tmp_path / "bronze")
    DataStreamWriter.foreachBatch = traced_foreach_batch
    try:
        q = streaming.run_ingest_stream(
            streaming.stream_raw_files(spark, raw_dir), table, str(tmp_path / "ck"), anchor=ANCHOR
        )
    finally:
        DataStreamWriter.foreachBatch = orig_fb
    q.awaitTermination(120)
    assert q.exception() is None
    assert seen == [0]
    assert maintenance.read_table(spark, table).count() == 20
