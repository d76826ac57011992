"""Crash-point injection over the streaming multi-sink writers
(VERDICT r13 #5): five rounds of edge-parity modules covered data
shapes; the uncovered axis was WHERE a foreachBatch body dies. Each
test arms an injected crash on the write to one specific sink, runs
the stream until it fails, disarms, and RESTARTS ON THE SAME
CHECKPOINT — Structured Streaming then re-delivers the exact same
micro-batch (same batch_id, same files), which is the real crash-
replay shape (the existing redelivery tests replay through a FRESH
checkpoint, a different and weaker contract). After the replay, every
table is asserted replay-stable:

- every effectively-once sink (features / results / rejects / metrics
  / alerts — all batch_id dynamic-partition-overwrite since r14,
  maintenance.overwrite_batch_partition) holds exactly one partition
  per batch_id with the accounting law intact;
- the at-least-once-by-design appends (the corpus store behind its
  digest anti-join, the sensor store behind idempotent_append) hold
  each row exactly once;
- the corpus crash-AFTER-append case documents its honest semantics:
  the replayed batch's formerly-kept docs reject as
  duplicate_in_corpus, the rejects partition is REWRITTEN with that
  larger set, and the metrics row records the replay's split — what
  can never happen is the same accounting row appearing twice.

This is the test shape that would have caught the r12 session-clone
bug (dynamic overwrite silently STATIC) one round earlier, and it
directly exercises VERDICT r13 #2's conversion of the side-sinks.

Injection mechanics: foreachBatch bodies run on the DRIVER (a stream
execution thread in this same Python process), and every sink in this
repo lands through DataFrameWriter.parquet — so patching that one
method intercepts every write, raising before the targeted sink's
files exist. Parquet job commits are all-or-nothing, so "crash before
write N" covers the observable crash space between sinks.
"""

from __future__ import annotations

import pyspark.sql.readwriter as _rw
import pytest
from pyspark.sql import functions as F

# The crash-point matrix is the slow verification tier: ~20
# injected-crash scenarios at 4-10 s each, each marked slow and run with
# SPARK_GRAFT_FULL_TESTS=1. One case runs in the default tier: the
# sensor ingest replay, the write path the default run must keep honest.


class CrashOnWrite:
    """Arm an injected RuntimeError on the first DataFrameWriter.parquet
    call whose path contains `substring`; auto-disarms after firing so
    the replay run proceeds clean."""

    def __init__(self, monkeypatch, substring: str):
        self.substring = substring
        self.fired = 0
        self.armed = True
        orig = _rw.DataFrameWriter.parquet
        injector = self

        def patched(writer_self, path, *a, **kw):
            if injector.armed and injector.substring in str(path):
                injector.armed = False
                injector.fired += 1
                raise RuntimeError(
                    f"injected crash before write to {path}"
                )
            return orig(writer_self, path, *a, **kw)

        monkeypatch.setattr(_rw.DataFrameWriter, "parquet", patched)


def _await_failure(q):
    """Wait for the stream to die on the injected crash."""
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(180)
        # some pyspark versions surface the error via exception(), not
        # awaitTermination — normalize to one raise shape
        exc = q.exception()
        assert exc is not None
        raise exc


def _one_partition_per_batch(spark, path, expected_batches):
    got = spark.read.parquet(path)
    per_batch = {
        r["batch_id"]: r["n"]
        for r in got.groupBy("batch_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sorted(per_batch) == sorted(expected_batches), (path, per_batch)
    return got


# --------------------------------------------------------------------------
# media feature stream: features -> rejects -> metrics
# --------------------------------------------------------------------------

MEDIA_SCHEMA_STR = (
    "media_id long, media_type string, mime string, payload binary, "
    "width int, height int, duration_ms int"
)


def _media_source(spark, tmp_path):
    src = tmp_path / "uploads"
    src.mkdir()
    rows = [
        (1, "audio", "audio/wav", bytearray(b"not a wav"), None, None, 100),
        (2, "image", "image/png", bytearray(b"stub-bytes-2"), 4, 4, None),
        (None, "image", "image/png", bytearray(b"x"), 1, 1, None),  # reject
        (4, "image", "image/png", None, 1, 1, None),                # reject
    ]
    spark.createDataFrame(rows, MEDIA_SCHEMA_STR).coalesce(1).write.parquet(
        str(src / "b1")
    )
    return src


@pytest.mark.slow
@pytest.mark.parametrize("crash_sink", ["rejects", "metrics"])
def test_media_stream_crash_between_sinks_replays_stable(
    spark, tmp_path, monkeypatch, crash_sink
):
    """Kill the media featurization batch before its rejects write
    (features landed) or before its metrics write (features + rejects
    landed); the same-checkpoint replay must leave every table with
    exactly one batch partition and the accounting law intact."""
    from metrocloud_data_pipeline_spark.streaming.media import (
        run_media_feature_stream,
    )

    src = _media_source(spark, tmp_path)
    out = str(tmp_path / "features")
    rejects = str(tmp_path / "rejects")
    metrics = str(tmp_path / "metrics")
    ck = str(tmp_path / "ck")

    def start():
        return run_media_feature_stream(
            spark, str(src) + "/*", out, ck,
            rejects_path=rejects, metrics_path=metrics,
            decode_stub=True, dim=4,
        )

    injector = CrashOnWrite(monkeypatch, crash_sink)
    _await_failure(start())
    assert injector.fired == 1

    q = start()  # same checkpoint: re-delivers the SAME batch_id
    q.awaitTermination(180)

    feats = _one_partition_per_batch(spark, out, [0])
    assert sorted(r.media_id for r in feats.collect()) == [1, 2]
    rej = _one_partition_per_batch(spark, rejects, [0])
    reasons = sorted(r.reason for r in rej.collect())
    assert reasons == ["null_media_id", "null_payload"]
    m = _one_partition_per_batch(spark, metrics, [0]).collect()
    assert len(m) == 1  # ONE metrics row despite the crash-replay
    assert (m[0].n_items, m[0].n_features, m[0].n_rejected) == (4, 2, 2)
    assert m[0].n_items == m[0].n_features + m[0].n_rejected  # accounting law


# --------------------------------------------------------------------------
# corpus ingest stream: rejects -> lm delta -> store append -> metrics
# --------------------------------------------------------------------------

DOCS = [
    (1, "alpha beta gamma delta epsilon zeta", "en", "web", 35),
    (2, "alpha beta gamma delta epsilon zeta", "en", "web", 35),  # in-batch dup
    (3, "one two three four five six seven eight", "en", "web", 39),
    (4, "x", "en", "web", 1),  # quality reject (min_tokens)
]
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@pytest.mark.slow
@pytest.mark.parametrize("crash_sink", ["lm_counts", "corpus_store", "metrics"])
def test_corpus_stream_crash_between_sinks_replays_stable(
    spark, tmp_path, monkeypatch, crash_sink
):
    """Kill corpus ingest (a) before the store append — rejects and the
    LM delta landed — or (b) before the metrics write — everything else
    landed. Replay on the same checkpoint must leave: the store with
    each kept doc exactly once; ONE rejects partition and ONE LM-delta
    partition and ONE metrics row for the batch; and the metrics row
    honestly describing the run that produced the final state (for (b)
    the replay's split: formerly-kept docs reject as
    duplicate_in_corpus against their own store copy)."""
    from metrocloud_data_pipeline_spark.streaming.corpus import (
        run_corpus_ingest_stream,
        stream_document_files,
    )

    src = tmp_path / "crawl"
    src.mkdir()
    spark.createDataFrame(DOCS, DOC_SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )
    store = str(tmp_path / "corpus_store")
    rejects = str(tmp_path / "rejects")
    metrics = str(tmp_path / "metrics")
    lm = str(tmp_path / "lm_counts")
    ck = str(tmp_path / "ck")

    def start():
        return run_corpus_ingest_stream(
            stream_document_files(spark, str(src) + "/*"),
            store, ck,
            rejects_path=rejects, metrics_path=metrics,
            lm_counts_path=lm, min_tokens=3,
        )

    injector = CrashOnWrite(monkeypatch, crash_sink)
    _await_failure(start())
    assert injector.fired == 1

    q = start()
    q.awaitTermination(180)

    # the store holds each kept doc exactly once, whichever attempt
    # landed it (digest anti-join = the at-least-once append's shield)
    kept_ids = sorted(r.doc_id for r in spark.read.parquet(store).collect())
    assert kept_ids == [1, 3]

    rej = _one_partition_per_batch(spark, rejects, [0])
    by_doc = {r.doc_id: r.reason for r in rej.collect()}
    assert by_doc[2] == "duplicate_in_batch"
    assert "too_few_tokens" in by_doc[4]
    m = _one_partition_per_batch(spark, metrics, [0]).collect()
    assert len(m) == 1
    row = m[0]
    # accounting law holds for the run that wrote the final books
    assert row.n_ingested == row.n_kept + row.n_rejected == 4
    lm_rows = _one_partition_per_batch(spark, lm, [0])
    if crash_sink in ("lm_counts", "corpus_store"):
        # store was empty on replay: the replay re-kept docs 1 and 3
        # (for lm_counts the crash hit BEFORE the delta too — rejects
        # landed, everything downstream replays identically)
        assert row.n_kept == 2 and sorted(by_doc) == [2, 4]
        assert lm_rows.count() > 0
    else:
        # crash AFTER the append: the replay found its own docs in the
        # store — kept empty, rejects partition honestly rewritten with
        # the duplicate_in_corpus rows, LM delta overwritten to empty
        # (the delta of an empty kept set; the per-batch layout keeps
        # this consistent with what the books say the replay kept)
        assert row.n_kept == 0 and row.n_dup_in_corpus == 2
        assert sorted(by_doc) == [1, 2, 3, 4]
        assert by_doc[1] == by_doc[3] == "duplicate_in_corpus"


@pytest.mark.slow
def test_corpus_band_index_crash_gap_is_repaired_and_screens(
    spark, tmp_path, monkeypatch
):
    """Kill corpus ingest between the store append and the BAND-INDEX
    append (docs in the store, no band rows — the crash gap that would
    let their near-dups through forever if the index were trusted
    blindly); replay on the same checkpoint, then feed a near-dup of a
    crashed-batch doc in a second batch. _ensure_band_index must
    detect and repair the gap before screening, so the near-dup still
    rejects as near_duplicate_in_corpus."""
    from metrocloud_data_pipeline_spark.streaming.corpus import (
        run_corpus_ingest_stream,
        stream_document_files,
    )

    base = "alpha bravo charlie delta echo foxtrot golf hotel india " \
           "juliet kilo lima mike november oscar papa quebec romeo " \
           "sierra tango uniform victor whiskey xray yankee zulu " \
           "one two three four"
    near = base.replace("zulu", "zulus")  # 1 of 30 tokens differs
    src = tmp_path / "crawl"
    src.mkdir()
    spark.createDataFrame(
        [(1, base, "en", "web", len(base)),
         (2, "completely different words entirely here now", "en", "web", 44)],
        DOC_SCHEMA,
    ).coalesce(1).write.parquet(str(src / "b1"))
    store = str(tmp_path / "corpus_store")
    band_index = str(tmp_path / "bands_idx")
    ck = str(tmp_path / "ck")

    def start():
        return run_corpus_ingest_stream(
            stream_document_files(spark, str(src) + "/*",
                                  max_files_per_trigger=1),
            store, ck, min_tokens=3,
            near_dup_screen=True, near_dup_threshold=0.9,
            band_index_path=band_index,
        )

    # match the sink DIR name, not "band_index" — the pytest tmp dir
    # embeds the test name, which would match every write path
    injector = CrashOnWrite(monkeypatch, "bands_idx")
    _await_failure(start())
    assert injector.fired == 1
    # the crash gap is real: docs in the store, no committed band rows
    assert sorted(
        r.doc_id for r in spark.read.parquet(store).collect()
    ) == [1, 2]

    q = start()  # replay batch 0: repair runs, kept is empty
    q.awaitTermination(180)
    idx_ids = {
        r.doc_id for r in spark.read.parquet(band_index)
        .select("doc_id").distinct().collect()
    }
    assert idx_ids == {1, 2}  # repaired: index covers the store

    # batch 1: a near-dup of crashed-batch doc 1 must still be caught
    rejects = str(tmp_path / "rejects")
    spark.createDataFrame(
        [(10, near, "en", "web", len(near))], DOC_SCHEMA
    ).coalesce(1).write.parquet(str(src / "b2"))
    q = run_corpus_ingest_stream(
        stream_document_files(spark, str(src) + "/*",
                              max_files_per_trigger=1),
        store, ck, min_tokens=3,
        near_dup_screen=True, near_dup_threshold=0.9,
        band_index_path=band_index, rejects_path=rejects,
    )
    q.awaitTermination(180)
    assert sorted(
        r.doc_id for r in spark.read.parquet(store).collect()
    ) == [1, 2]  # the near-dup never landed
    rej = {r.doc_id: r.reason for r in spark.read.parquet(rejects).collect()}
    assert rej[10] == "near_duplicate_in_corpus"


@pytest.mark.slow
def test_media_dedup_stream_crash_before_metrics_replays_stable(
    spark, tmp_path, monkeypatch
):
    """The media exact-dedup tier under same-checkpoint crash-replay:
    batch 1 lands clean; batch 2 (one payload duplicating batch 1's
    store, one fresh) crashes before its metrics write and replays.
    The replay's store-side anti-join must exclude batch 2's OWN
    partition (already written pre-crash) — otherwise the replay
    rejects its own prior output and the features partition shrinks to
    empty. Final state: each distinct payload once in features, the
    dup rejected exactly once, one metrics row per batch."""
    from metrocloud_data_pipeline_spark.streaming.media import (
        run_media_feature_stream,
    )

    src = tmp_path / "uploads"
    src.mkdir()
    pay_a, pay_b = b"payload-alpha", b"payload-beta"
    spark.createDataFrame(
        [(1, "image", "image/png", bytearray(pay_a), 4, 4, None)],
        MEDIA_SCHEMA_STR,
    ).coalesce(1).write.parquet(str(src / "b1"))
    out = str(tmp_path / "features")
    rejects = str(tmp_path / "rejects")
    metrics = str(tmp_path / "metrics")
    ck = str(tmp_path / "ck")

    def start():
        return run_media_feature_stream(
            spark, str(src) + "/*", out, ck,
            rejects_path=rejects, metrics_path=metrics,
            decode_stub=True, dim=4, dedup=True, max_files_per_trigger=1,
        )

    q = start()  # batch 0: clean
    q.awaitTermination(180)

    spark.createDataFrame(
        [
            (2, "image", "image/png", bytearray(pay_a), 4, 4, None),  # store dup
            (3, "image", "image/png", bytearray(pay_b), 4, 4, None),  # fresh
        ],
        MEDIA_SCHEMA_STR,
    ).coalesce(1).write.parquet(str(src / "b2"))

    injector = CrashOnWrite(monkeypatch, "metrics")
    _await_failure(start())
    assert injector.fired == 1

    q = start()
    q.awaitTermination(180)

    feats = _one_partition_per_batch(spark, out, [0, 1])
    assert sorted(r.media_id for r in feats.collect()) == [1, 3]
    rej = _one_partition_per_batch(spark, rejects, [1])
    rej_rows = rej.collect()
    assert len(rej_rows) == 1
    assert (rej_rows[0].media_id, rej_rows[0].reason) == (
        2, "duplicate_payload_in_store")
    m = {r.batch_id: r for r in
         _one_partition_per_batch(spark, metrics, [0, 1]).collect()}
    assert len(m) == 2
    assert (m[1].n_items, m[1].n_features, m[1].n_duplicates) == (2, 1, 1)
    assert m[1].n_items == m[1].n_features + m[1].n_rejected


@pytest.mark.slow
def test_scd2_stream_crash_on_staging_write_replays_stable(
    spark, tmp_path, monkeypatch
):
    """Kill the SCD2 dim stream ON its staging write (the merge result
    never lands, swap_store never runs); the same-checkpoint replay
    must merge against the INTACT original store and produce exactly
    the versions a clean run would — plus one rejects partition for
    the batch's null-key row."""
    from datetime import datetime

    from metrocloud_data_pipeline_spark.streaming import dim as dimmod

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(100, "alice", "helsinki",
          datetime(2024, 1, 1), None)],
        "cust_id long, name string, city string, valid_from timestamp, "
        "valid_to timestamp",
    ).coalesce(1).write.parquet(dim_path)

    src = tmp_path / "updates"
    src.mkdir()
    spark.createDataFrame(
        [
            (100, "alice", "tampere", datetime(2024, 2, 1)),
            (None, "ghost", "nowhere", datetime(2024, 2, 1)),
        ],
        "cust_id long, name string, city string, effective_ts timestamp",
    ).coalesce(1).write.parquet(str(src / "b1"))
    rejects = str(tmp_path / "rejects")
    ck = str(tmp_path / "ck")

    def start():
        return dimmod.run_scd2_stream(
            spark.readStream.schema(
                "cust_id long, name string, city string, "
                "effective_ts timestamp"
            ).parquet(str(src) + "/*"),
            dim_path, ck,
            key_col="cust_id", attr_cols=["name", "city"],
            rejects_path=rejects,
        )

    injector = CrashOnWrite(monkeypatch, "._staging_")
    _await_failure(start())
    assert injector.fired == 1

    q = start()
    q.awaitTermination(180)

    rows = sorted(
        spark.read.parquet(dim_path).collect(),
        key=lambda r: (r.cust_id, r.valid_from),
    )
    assert len(rows) == 2  # old version closed + new version open, once
    assert rows[0].city == "helsinki" and rows[0].valid_to is not None
    assert rows[1].city == "tampere" and rows[1].valid_to is None
    rej = _one_partition_per_batch(spark, rejects, [0])
    rej_rows = rej.collect()
    assert len(rej_rows) == 1 and rej_rows[0].reason == "null_business_key"


# --------------------------------------------------------------------------
# sensor ingest stream: store (idempotent_append) -> rejects -> metrics
# --------------------------------------------------------------------------


ANCHOR = "2025-09-26 12:00:00"


def _raw_dir(spark, tmp_path):
    from metrocloud_data_pipeline_spark.tests_fixtures import (
        RAW_FIXTURE_ROWS,
        RAW_FIXTURE_SCHEMA,
    )

    p = str(tmp_path / "raw")
    spark.createDataFrame(
        RAW_FIXTURE_ROWS, schema=RAW_FIXTURE_SCHEMA
    ).coalesce(1).write.parquet(p)
    return p


def test_sensor_ingest_crash_before_metrics_replays_stable(
    spark, tmp_path, monkeypatch
):
    """Kill the sensor pipeline between its rejects write and its
    metrics write; replay must not double the data store (natural-key
    idempotent append), the rejects partition, or the metrics row."""
    from metrocloud_data_pipeline_spark import streaming

    raw_dir = _raw_dir(spark, tmp_path)
    table = str(tmp_path / "readings")
    rejects = str(tmp_path / "rejects")
    metrics = str(tmp_path / "metrics")
    ck = str(tmp_path / "ck")

    def start():
        return streaming.run_ingest_stream(
            streaming.stream_raw_files(spark, raw_dir),
            table, ck, rejects_path=rejects, metrics_path=metrics,
            anchor=ANCHOR,
        )

    injector = CrashOnWrite(monkeypatch, "metrics")
    _await_failure(start())
    assert injector.fired == 1

    q = start()
    q.awaitTermination(180)

    data = spark.read.parquet(table)
    # natural-key dedup absorbed the replay: 20 valid fixture rows once
    assert data.count() == 20
    assert data.dropDuplicates(
        ["device_id", "timestamp", "device_type"]
    ).count() == 20
    rej = _one_partition_per_batch(spark, rejects, [0])
    assert rej.count() == 1
    m = _one_partition_per_batch(spark, metrics, [0]).collect()
    assert len(m) == 1
    assert (m[0].rows_in, m[0].rows_valid, m[0].rows_rejected) == (21, 20, 1)
    assert m[0].rows_in == m[0].rows_valid + m[0].rows_rejected


@pytest.mark.slow
def test_alert_stream_crash_and_replay_fires_each_alert_once(
    spark, tmp_path, monkeypatch
):
    """Kill the alert stream ON its (only) alerts write, replay on the
    same checkpoint: each alert row must exist exactly once — a
    re-fired page is an incident-response bug, not a log quirk."""
    from metrocloud_data_pipeline_spark import streaming

    raw_dir = _raw_dir(spark, tmp_path)
    alerts = str(tmp_path / "alerts")
    ck = str(tmp_path / "ck")

    def start():
        return streaming.run_alert_stream(
            streaming.stream_raw_files(spark, raw_dir), alerts, ck,
            anchor=ANCHOR,
        )

    injector = CrashOnWrite(monkeypatch, "alerts")
    _await_failure(start())
    assert injector.fired == 1

    q = start()
    q.awaitTermination(180)

    got = _one_partition_per_batch(spark, alerts, [0]).collect()
    assert got and all(r.alert_level in ("WARNING", "CRITICAL") for r in got)
    # exactly one alert row per breaching reading — never re-fired
    keys = [(r.device_id, r.timestamp) for r in got]
    assert len(keys) == len(set(keys))


# --------------------------------------------------------------------------
# ANN serving stream: results -> metrics
# --------------------------------------------------------------------------


@pytest.mark.slow
def test_ann_serving_crash_before_metrics_replays_stable(
    spark, tmp_path, monkeypatch
):
    """Kill ANN serving between the result write and the metrics write;
    replay must rewrite the SAME results partition (not double it) and
    land exactly one metrics row for the batch."""
    import math

    from metrocloud_data_pipeline_spark.streaming import ann

    rows = []
    for vid in range(30):
        v = [1.0 if i == vid % 3 else 0.0 for i in range(8)]
        v[(vid % 3) + 4] = 0.05 * (vid % 7)
        n = math.sqrt(sum(x * x for x in v))
        rows.append((vid, [x / n for x in v], vid % 3))
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    src = tmp_path / "queries"
    src.mkdir()
    spark.createDataFrame([(500, rows[1][1])], ann.QUERY_SCHEMA).coalesce(
        1
    ).write.parquet(str(src / "b1"))
    out = str(tmp_path / "results")
    metrics = str(tmp_path / "metrics")
    ck = str(tmp_path / "ck")

    def start():
        return ann.run_ann_serving_stream(
            ann.stream_query_vectors(spark, str(src) + "/*"),
            corpus, out, ck,
            k=3, nprobe=3, stride=7, metrics_path=metrics,
        )

    injector = CrashOnWrite(monkeypatch, "metrics")
    _await_failure(start())
    assert injector.fired == 1

    q = start()
    q.awaitTermination(180)

    got = _one_partition_per_batch(spark, out, [0])
    assert got.count() == 3  # k rows, once
    m = _one_partition_per_batch(spark, metrics, [0]).collect()
    assert len(m) == 1
    assert (m[0].n_queries, m[0].n_results, m[0].n_underfilled) == (1, 3, 0)


@pytest.mark.slow
@pytest.mark.parametrize("crash_sink", ["rejects", "metrics"])
def test_corpus_decontam_gate_crash_replays_stable(
    spark, tmp_path, monkeypatch, crash_sink
):
    """The r15 decontamination gate's crash-replay row (VERDICT r14 #7:
    every new gate lands with a same-checkpoint replay test). Kill the
    batch (a) before the rejects write — nothing landed, the replay
    redoes the whole split — or (b) before the metrics write —
    rejects and the store append landed. Either way the final books
    must hold: the contaminated doc rejected as contaminated_benchmark
    EXACTLY once (one rejects partition for the batch), the clean doc
    in the store exactly once, and the metrics row honestly describing
    the run that wrote the final state — for (b) the replay's split,
    where the formerly-kept doc rejects as duplicate_in_corpus while
    the contaminated doc (never appended) re-rejects through the gate."""
    from metrocloud_data_pipeline_spark.streaming.corpus import (
        run_corpus_ingest_stream,
        stream_document_files,
    )

    bench = spark.createDataFrame(
        [(1, "the secret benchmark answer sequence is forty two exactly here")],
        "bench_id long, text string",
    )
    docs = [
        (10, "we found that the secret benchmark answer sequence is forty two "
             "exactly here in print", "en", "web", 86),
        (11, "a perfectly ordinary training document about distributed engines",
         "en", "web", 64),
    ]
    src = tmp_path / "crawl"
    src.mkdir()
    spark.createDataFrame(docs, DOC_SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )
    store = str(tmp_path / "corpus_store")
    rejects = str(tmp_path / "rejects")
    metrics = str(tmp_path / "metrics")
    ck = str(tmp_path / "ck")

    def start():
        return run_corpus_ingest_stream(
            stream_document_files(spark, str(src) + "/*"),
            store, ck,
            rejects_path=rejects, metrics_path=metrics,
            decontam_mode="bloom", benchmark=bench,
            decontam_threshold=0.05,
        )

    injector = CrashOnWrite(monkeypatch, crash_sink)
    _await_failure(start())
    assert injector.fired == 1

    q = start()
    q.awaitTermination(180)

    assert [r.doc_id for r in spark.read.parquet(store).collect()] == [11]
    rej = _one_partition_per_batch(spark, rejects, [0])
    by_doc = {r.doc_id: r.reason for r in rej.collect()}
    assert by_doc[10] == "contaminated_benchmark"
    m = _one_partition_per_batch(spark, metrics, [0]).collect()
    assert len(m) == 1
    row = m[0]
    assert row.n_ingested == row.n_kept + row.n_rejected == 2
    assert row.n_contaminated == 1 and row.n_quality_rejected == 0
    if crash_sink == "rejects":
        # nothing landed before the crash: the replay redoes the split
        assert row.n_kept == 1 and by_doc == {10: "contaminated_benchmark"}
    else:
        # crash AFTER the store append: the replay found doc 11 in the
        # store (duplicate_in_corpus), while doc 10 — never appended —
        # re-rejects through the gate; the rejects partition is
        # honestly rewritten with both rows
        assert row.n_kept == 0 and row.n_dup_in_corpus == 1
        assert by_doc[11] == "duplicate_in_corpus"


@pytest.mark.slow
@pytest.mark.parametrize("crash_sink", ["print_index", "rejects"])
def test_media_stream_crash_on_print_index_replays_stable(
    spark, tmp_path, monkeypatch, crash_sink
):
    """r15 near-dup tier crash rows: kill the media batch (a) on its
    PRINT INDEX write — features landed, index not — or (b) on its
    rejects write — features AND the print index landed, so the
    replayed batch re-screens against an index that already holds its
    OWN prints, the self-match case the batch_id exclusion on the
    index read exists for. Either way the same-checkpoint replay must
    keep the batch's own rows (never self-reject), re-reject the
    genuinely near-duplicate arrival, and leave every table —
    features, rejects, metrics, AND the print index — with exactly one
    partition per batch and the accounting law intact."""
    import math
    import struct
    import wave
    from io import BytesIO

    from metrocloud_data_pipeline_spark.streaming.media import (
        run_media_feature_stream,
    )
    from metrocloud_data_pipeline_spark.llm import multimodal as mm

    def tone(freq, n=4000):
        buf = BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(b"".join(
                struct.pack("<h", int(0.4 * 32767 * math.sin(
                    2 * math.pi * freq * i / 8000)))
                for i in range(n)))
        return buf.getvalue()

    wav_a, wav_c = tone(500), tone(1500)
    src = tmp_path / "uploads"
    src.mkdir()
    spark.createDataFrame(
        [(1, "audio", "audio/wav", bytearray(wav_a), None, None, 500)],
        MEDIA_SCHEMA_STR,
    ).coalesce(1).write.parquet(str(src / "a"))
    spark.createDataFrame(
        [(3, "audio", "audio/wav", bytearray(mm.reencode_wav(wav_a)),
          None, None, 500),   # near-dup of stored 1: bytes differ
         (4, "audio", "audio/wav", bytearray(wav_c), None, None, 500)],
        MEDIA_SCHEMA_STR,
    ).coalesce(1).write.parquet(str(src / "b"))

    out = str(tmp_path / "features")
    rejects = str(tmp_path / "rejects")
    metrics = str(tmp_path / "metrics")
    prints = str(tmp_path / "print_index")
    ck = str(tmp_path / "ck")

    def start():
        return run_media_feature_stream(
            spark, str(src) + "/*", out, ck,
            rejects_path=rejects, metrics_path=metrics,
            decode_stub=False, dim=8, max_files_per_trigger=1,
            dedup=True, near_dup_screen=True, print_index_path=prints,
        )

    injector = CrashOnWrite(monkeypatch, crash_sink)
    _await_failure(start())
    assert injector.fired == 1  # batch 0 died mid-sink-chain

    q = start()  # same checkpoint: batch 0 then batch 1 re-deliver
    q.awaitTermination(180)
    assert q.exception() is None

    feats = _one_partition_per_batch(spark, out, [0, 1])
    assert sorted(r.media_id for r in feats.collect()) == [1, 4]
    rej = _one_partition_per_batch(spark, rejects, [1])
    assert [(r.media_id, r.reason) for r in rej.collect()] == [
        (3, "near_duplicate_in_store")
    ]
    idx = _one_partition_per_batch(spark, prints, [0, 1])
    assert sorted({r.media_id for r in idx.collect()}) == [1, 4]
    m = {r.batch_id: r for r in
         _one_partition_per_batch(spark, metrics, [0, 1]).collect()}
    assert (m[0].n_items, m[0].n_features, m[0].n_near_dup) == (1, 1, 0)
    assert (m[1].n_items, m[1].n_features, m[1].n_near_dup) == (2, 1, 1)
    for r in m.values():
        assert r.n_items == r.n_features + r.n_rejected
