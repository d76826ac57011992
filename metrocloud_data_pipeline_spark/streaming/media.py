"""Streaming multimodal feature extraction — micro-batched media
decode with per-row error isolation (SURVEY §2.23).

The batch path (llm/multimodal.extract_features) answers "featurize
this curated corpus", where an undecodable payload means a broken
upstream and errors='raise' is right. A continuous ARRIVAL of media
items (a crawl frontier, an upload bus) inverts that: one truncated
WAV in a million rows must not kill the stream, and — the corpus
stream's accounting law — every input row must land in exactly ONE of
(features, rejected), with a reason. This wires the lenient decode
mode into Structured Streaming the same way corpus ingest and ANN
serving do:

- step-0 validity split BEFORE any Python: null media_id (no identity
  for downstream dedup/joins) and null payload (a data error, not a
  missing codec) route to the rejects sink with explicit reasons;
- a static type gate keeps rows whose decode cannot succeed (video
  without the RIFF magic: compressed containers need ffmpeg, which is
  deliberately not gated in) out of the Python workers entirely —
  rejected by a column expression, zero Arrow transfer;
- surviving rows run extract_features(errors='reject'): a row whose
  payload fails its decoder (truncated RIFF, junk bytes, a corrupt
  PNG) keeps its identity, carries the exception text, and joins the
  rejects; the batch survives. That isolation covers MISSING-CODEC
  failures too: in a PIL-less deployment every non-PNG image row lands
  in the rejects with the "needs PIL" NotImplementedError text rather
  than killing the stream — a deployment error therefore surfaces as a
  sudden spike of one reject reason, and the per-batch metrics break
  out n_codec_missing so that spike is a dashboard line, not a grep;
- dedup=True adds the corpus stream's exact-dedup tier for media
  (r13): a JVM-side sha256 digest anti-join — in-batch keep-min plus
  a column-pruned read of the store's content_hash — rejects
  duplicate payloads BEFORE they pay Arrow transfer + decode; the
  store read excludes the current batch_id partition so redelivery
  stays idempotent;
- near_dup_screen=True adds the NEAR-dup tier on top (r15 — the
  corpus stream's arrival-time MinHash screen, re-expressed for
  media): arrivals are fingerprinted once per batch (decoded-frame
  hashes for video, band-argmax shingles for audio, perceptual
  dHash for images), screened by
  print-set Jaccard against a maintained (media_id, fp) index of the
  stored items, and rejected as 'near_duplicate_in_store' before the
  feature decode — catching the re-encoded/re-containered copies the
  byte-digest tier structurally misses; the index is a batch_id-
  partitioned side table written through the same effectively-once
  shape, and its read excludes the current batch_id so redelivery
  cannot self-match;
- every sink — features, print index, rejects and per-batch metrics —
  lands through maintenance.overwrite_batch_partition (batch_id dynamic
  partition overwrite, the ANN-serving shape: the partition key fully
  identifies the write, and the mode is set on the micro-batch's OWN
  cloned session, the r13 fix that made this true for multi-batch
  streams) — a crash-replay rewrites exactly its own partition in
  every table, so the accounting law (each input row in exactly one of
  features/rejects, one metrics row per batch) holds across
  redelivery, not just per clean run; metrics columns appended at the
  END of the schema per the r12 discipline;
- the stream starts through pipeline._start_micro_batches (availableNow,
  like every runner in the package).

At 100 TB the decode work is map-only over Arrow batches (bytes cross
the JVM<->Python boundary once per batch), there is no shuffle
anywhere in the hot path, and the store never rescans — per trigger
the only moving data is the micro-batch itself.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pyspark.sql.types import StructField, StructType

from ..llm.multimodal import MEDIA_SCHEMA, extract_features
from ..operators.maintenance import overwrite_batch_partition, read_store_or_none
from .pipeline import _metrics_row, _parquet_stream, _start_micro_batches

REJECT_SCHEMA = "media_id long, media_type string, reason string"

# a dirty feed is the POINT of the validity split: the stream reader
# accepts nulls everywhere (the batch schema's media_id is declared
# non-null, which is true of curated tables but not of an upload bus)
MEDIA_STREAM_SCHEMA = StructType(
    [StructField(f.name, f.dataType, True) for f in MEDIA_SCHEMA.fields]
)


def stream_media_items(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based media-item stream (stands in for the upload bus;
    swap for a Kafka reader in a deployed tier)."""
    return _parquet_stream(spark, MEDIA_STREAM_SCHEMA, path, max_files_per_trigger)


def featurize_media_batch(
    batch: DataFrame, decode_stub: bool = False, dim: int = 8,
    checkpoint: bool = False,
    dedup: bool = False,
    existing_hashes: DataFrame | None = None,
    near_dup_screen: bool = False,
    existing_prints: DataFrame | None = None,
    near_dup_threshold: float = 0.9,
    near_dup_max_fp_df: int | None = 1000,
    return_prints: bool = False,
):
    """One micro-batch of media featurization -> (features,
    rejected-with-reason). Pure batch-DataFrame logic (the curate_batch
    pattern) so it is unit-testable outside streaming and reusable for
    backfills. Every input row lands in exactly one output.

    checkpoint=True localCheckpoints the ONE frame that carries the
    Python decode lineage (the lenient extract_features output) before
    kept/rejected split from it, so a caller with multiple consumers
    (sink + metrics) pays the decode exactly once per micro-batch; the
    validity/type rejects are column expressions on the raw batch and
    stay lazy either way.

    dedup=True wires exact payload dedup into the arrival path (the
    curate_batch digest anti-join, r13): the sha256 digest is computed
    JVM-SIDE (F.sha2 over the binary payload — bit-identical to the
    content_hash extract_features emits) BEFORE any Python worker sees
    a row, so a duplicate payload is rejected by column expressions and
    never pays the Arrow transfer + decode. One keeper survives per
    distinct digest — chosen by the MINIMUM full-metadata struct, a
    content-based total order, so two copies sharing the same media_id
    (a double-delivered upload) still collapse deterministically; every
    other physical copy rejects as 'duplicate_payload_in_batch', and a
    keeper whose digest already exists in `existing_hashes` (a
    content_hash column — the column-pruned read of the features store)
    rejects as 'duplicate_payload_in_store'. The whole decision is ONE
    checkpointed digest-level frame: the store's digest column is
    scanned exactly once per call, payload bytes never shuffle (the
    counts aggregate prunes them; the keeper's payload comes from
    one-row-per-digest, byte-identical by definition), and nothing in
    the outputs' lineage re-reads the store after the caller starts
    rewriting it.

    near_dup_screen=True + existing_prints (r15) add the NEAR-dup
    screen — the corpus stream's arrival-time MinHash screen,
    re-expressed for media over content fingerprints (decoded-frame
    hashes for video, band-argmax shingles for audio;
    media_fingerprints): a surviving row whose print-set Jaccard
    against any item already in the standing index reaches
    near_dup_threshold rejects as 'near_duplicate_in_store' BEFORE
    paying the feature decode (a re-encoded or re-containered copy
    has different bytes — the exact tier misses it — but identical
    prints; the registered media_video_near_dup /
    media_audio_near_dup keys are the oracle anchors for this
    decision; images carry their perceptual dHash as a single print,
    so a brightness-shifted or re-encoded image copy is caught too —
    at exact-dHash identity, the single-print Jaccard form). The
    fingerprint decode runs AFTER the exact-dup AND static type
    tiers, so a batch full of byte duplicates or compressed videos
    pays zero fingerprint work for them (measured 6x batch wall at
    the 10x probe when it ran on the raw batch instead);
    existing_prints is the maintained print index, column-pruned to
    (media_id, fp). Rows with no prints (undecodable payloads) pass
    through — the feature decode owns their reject accounting.
    return_prints=True appends the
    checkpointed post-dedup print frame as a third return element
    (None unless the screen ran) so the streaming caller can append
    the kept rows' prints to the index without a second decode."""
    # 0. fail-loud validity split, before any Python worker sees a row
    invalid = batch.where(F.col("media_id").isNull() | F.col("payload").isNull())
    invalid_rejects = invalid.select(
        "media_id",
        "media_type",
        F.when(F.col("media_id").isNull(), F.lit("null_media_id"))
        .otherwise(F.lit("null_payload"))
        .alias("reason"),
    )
    valid = batch.where(F.col("media_id").isNotNull() & F.col("payload").isNotNull())

    # 0.5 exact payload dedup, pre-decode (dedup=True): duplicates
    # never reach the Python decode stage
    dedup_rejects = valid.limit(0).select(
        "media_id", "media_type", F.lit("").alias("reason")
    )
    if dedup:
        batch_cols = valid.columns
        meta_cols = [c for c in batch_cols if c != "payload"]
        digested = valid.withColumn("_digest", F.sha2(F.col("payload"), 256))
        # The whole dedup decision lives in ONE checkpointed frame with
        # one row per distinct batch digest: the keeper's metadata (min
        # over the full meta struct — a content-based total order, so
        # the decision is deterministic across re-evaluations; Spark
        # struct equality treats null fields as equal) and the
        # store-duplicate flag. Payload bytes NEVER shuffle: the counts
        # aggregate prunes the payload column, the keeper's payload
        # comes from one-row-per-digest (byte-identical within a digest
        # by definition), and everything joins back by broadcasting the
        # batch-bounded decision frame (review r13 — the first form
        # windowed over full rows, shuffling every payload).
        counts = digested.groupBy("_digest", *meta_cols).agg(
            F.count(F.lit(1)).alias("_copies")
        )
        decision = counts.groupBy("_digest").agg(
            F.min(F.struct(*meta_cols)).alias("_keep")
        )
        if existing_hashes is not None:
            # ONE store scan per call, frozen by the checkpoint below —
            # neither output's lineage re-reads the store later, so the
            # streaming sink's partition overwrite cannot invalidate
            # the decision mid-flight
            decision = decision.join(
                existing_hashes.select(F.col("content_hash").alias("_digest"))
                .distinct()
                .withColumn("_dup", F.lit(True)),
                "_digest",
                "left",
            )
        else:
            decision = decision.withColumn(
                "_dup", F.lit(None).cast("boolean")
            )
        decision = decision.localCheckpoint()

        # keeper rows: the decision's meta + any one payload per digest
        one_payload = digested.dropDuplicates(["_digest"]).select(
            "_digest", "payload"
        )
        keepers = one_payload.join(F.broadcast(decision), "_digest").select(
            *[F.col("_keep")[c].alias(c) for c in meta_cols],
            "payload",
            "_dup",
        )
        deduped = keepers.where(F.col("_dup").isNull())
        store_dropped = keepers.where(F.col("_dup"))
        # in-batch rejects: every physical copy minus the keeper slot,
        # reconstructed from the meta-only counts (no payloads touched)
        rej_counts = (
            counts.join(F.broadcast(decision.select("_digest", "_keep")), "_digest")
            .withColumn(
                "_n_rej",
                F.col("_copies")
                - F.when(
                    F.struct(*meta_cols) == F.col("_keep"), F.lit(1)
                ).otherwise(F.lit(0)),
            )
            .where(F.col("_n_rej") > 0)
        )
        in_batch_dropped = rej_counts.select(
            *meta_cols,
            F.explode(F.sequence(F.lit(1), F.col("_n_rej"))).alias("_i"),
        )
        dedup_rejects = (
            in_batch_dropped.select(
                "media_id",
                "media_type",
                F.lit("duplicate_payload_in_batch").alias("reason"),
            )
            .unionByName(
                store_dropped.select(
                    "media_id",
                    "media_type",
                    F.lit("duplicate_payload_in_store").alias("reason"),
                )
            )
        )
        valid = deduped.select(*batch_cols)

    # 1. static type gate: rows that CANNOT decode never reach Python.
    # Video decodes for real only from an uncompressed-DIB AVI (a RIFF
    # container, r12) — anything without the RIFF magic is compressed
    # or foreign and is rejected by a column expression, zero Arrow
    # transfer (a RIFF payload can still fail per-row in step 2, e.g.
    # an MJPG-coded AVI). Runs BEFORE the near-dup screen so the
    # fingerprint decode also honors the never-reach-Python invariant
    # (a compressed-video batch would otherwise Arrow-transfer every
    # payload just to raise per row and yield zero prints).
    if decode_stub:
        decodable = valid
        type_rejects = valid.limit(0).select(
            "media_id", "media_type", F.lit("").alias("reason")
        )
    else:
        is_undecodable_video = (F.col("media_type") == "video") & (
            F.substring(F.col("payload"), 1, 4) != F.lit(b"RIFF")
        )
        decodable = valid.where(~is_undecodable_video)
        type_rejects = valid.where(is_undecodable_video).select(
            "media_id",
            "media_type",
            F.lit("video_needs_ffmpeg").alias("reason"),
        )

    # 1.5 NEAR-dup screen vs the standing index (r15): fingerprint the
    # post-dedup, post-type-gate survivors ONLY (a batch full of byte
    # duplicates or compressed videos pays zero fingerprint decode),
    # decide print-set Jaccard against the index; the matched-id set
    # is batch-bounded, checkpointed once, and broadcast into the
    # keep/drop split (the curate_batch 2.5 shape)
    near_dup_rejects = decodable.limit(0).select(
        "media_id", "media_type", F.lit("").alias("reason")
    )
    batch_prints = None
    if near_dup_screen:
        from ..llm.multimodal import fingerprint_cross_near_dup, media_fingerprints

        batch_prints = media_fingerprints(decodable).localCheckpoint()
        if existing_prints is not None:
            nd_ids = fingerprint_cross_near_dup(
                batch_prints,
                existing_prints,
                threshold=near_dup_threshold,
                max_fp_df=near_dup_max_fp_df,
            ).localCheckpoint()
            near_dup_rejects = (
                decodable.join(F.broadcast(nd_ids), "media_id", "left_semi")
                .select(
                    "media_id",
                    "media_type",
                    F.lit("near_duplicate_in_store").alias("reason"),
                )
            )
            decodable = decodable.join(
                F.broadcast(nd_ids), "media_id", "left_anti"
            )

    # 2. per-row lenient decode: failures keep identity + exception text
    feats = extract_features(decodable, decode_stub=decode_stub, dim=dim, errors="reject")
    if checkpoint:
        feats = feats.localCheckpoint()
    kept = feats.where(F.col("decode_error").isNull()).drop("decode_error")
    decode_rejects = feats.where(F.col("decode_error").isNotNull()).select(
        "media_id", "media_type", F.col("decode_error").alias("reason")
    )

    rejected = (
        invalid_rejects.unionByName(dedup_rejects)
        .unionByName(near_dup_rejects)
        .unionByName(type_rejects)
        .unionByName(decode_rejects)
    )
    if return_prints:
        return kept, rejected, batch_prints
    return kept, rejected


def run_media_feature_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_dir: str,
    rejects_path: str | None = None,
    metrics_path: str | None = None,
    decode_stub: bool = False,
    dim: int = 8,
    max_files_per_trigger: int | None = None,
    dedup: bool = False,
    near_dup_screen: bool = False,
    print_index_path: str | None = None,
    near_dup_threshold: float = 0.9,
    near_dup_max_fp_df: int | None = 1000,
) -> StreamingQuery:
    """Continuous media featurization: parquet media items in,
    effectively-once feature rows out, rejects + metrics logs on the
    side. See the module docstring for the semantics.

    dedup=True rejects any payload whose sha256 digest is already in
    the features STORE (plus in-batch duplicates) before decode — the
    corpus stream's digest anti-join for media. The store read is
    column-pruned to (content_hash, batch_id) and EXCLUDES the current
    batch_id partition: under redelivery the re-delivered batch must
    not anti-join against its own prior write, or effectively-once
    would turn into deliver-once-then-reject-forever (the partition
    overwrite would shrink its own partition to empty on replay).

    near_dup_screen=True (r15) adds the arrival-time NEAR-dup tier —
    the corpus stream's MinHash screen, re-expressed over media
    content fingerprints (decoded-frame hashes for video, band-argmax
    shingles for audio, perceptual dHash for images): an arrival
    whose print-set Jaccard against
    any stored item reaches near_dup_threshold rejects as
    'near_duplicate_in_store' before paying the feature decode, which
    catches the copies the exact tier structurally misses
    (re-encoded / re-containered payloads — byte-different, decode-
    identical; pinned by the registered recall-report keys). Requires
    BOTH dedup=True and print_index_path: the exact tier must run
    first so a REPLAYED batch exact-rejects (or partition-rewrites)
    instead of near-dup-matching residue, and the print index is the
    maintained (media_id, fp, batch_id) side table that makes the
    screen incremental — without it every batch would re-DECODE the
    whole store to fingerprint it. The index is written through
    overwrite_batch_partition (effectively-once, one partition per
    batch; the per-batch print set is deterministic under replay, so
    the rewrite is exact, never shrinking-to-empty), and the screen's
    index read EXCLUDES the current batch_id — the content_hash
    exclusion argument applied to prints, so a crash between the
    index write and the metrics write cannot make a replayed batch
    near-dup-match its own prints and reject itself forever."""
    if near_dup_screen and (not dedup or print_index_path is None):
        raise ValueError(
            "run_media_feature_stream: near_dup_screen=True requires "
            "dedup=True (the exact tier makes replay idempotent before "
            "the near-dup decision) and print_index_path= (the screen "
            "is incremental against the maintained print index, never "
            "a per-batch re-decode of the store)"
        )

    items = stream_media_items(spark, input_path, max_files_per_trigger)

    def _process(batch: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        existing = None
        if dedup:
            # only the documented no-committed-data-yet cases may read
            # as None — any other failure must kill the batch, or
            # store-level dedup silently turns off and duplicates land
            # permanently (review r13; shared helper with corpus ingest)
            store = read_store_or_none(spark, output_path)
            if store is not None:
                existing = store.where(F.col("batch_id") != batch_id).select(
                    "content_hash"
                )
        existing_prints = None
        if near_dup_screen:
            index = read_store_or_none(spark, print_index_path)
            if index is not None:
                # exclude the current batch_id: a replayed batch must
                # not near-dup-match the prints its crashed attempt
                # wrote (the content_hash exclusion, applied to prints)
                existing_prints = index.where(
                    F.col("batch_id") != batch_id
                ).select("media_id", "fp")
        # checkpoint=True freezes the decode lineage ONCE inside
        # featurize_media_batch; kept/rejected and the metrics
        # aggregates below all derive from that one materialization
        # (cheap column ops), so the Python decode runs exactly once
        # per micro-batch. The fingerprint decode (post-exact-dedup)
        # is checkpointed inside and returned for the index append.
        kept, rejected, batch_prints = featurize_media_batch(
            batch, decode_stub=decode_stub, dim=dim, checkpoint=True,
            dedup=dedup, existing_hashes=existing,
            near_dup_screen=near_dup_screen, existing_prints=existing_prints,
            near_dup_threshold=near_dup_threshold,
            near_dup_max_fp_df=near_dup_max_fp_df,
            return_prints=True,
        )
        # the dedup rejects carry a lineage that READS the features
        # store (the anti-join's store side) — freeze this batch-bounded
        # frame NOW, before the partition overwrite below replaces the
        # very files that lineage listed (under redelivery the replayed
        # batch overwrites its own partition; a lazy rejects plan would
        # then FAILED_READ_FILE on the vanished old files). kept is
        # already frozen: it filters the checkpointed decode frame.
        rejected = rejected.localCheckpoint()
        # overwrite_batch_partition sets the overwrite mode on the
        # CLONED session kept is bound to, not the outer `spark`: a mode
        # set on the outer session silently leaves the write STATIC and
        # every micro-batch wipes all prior partitions (found by the
        # first multi-batch media test, r13)
        overwrite_batch_partition(kept, output_path, batch_id)
        if near_dup_screen:
            # maintain the print index: the KEPT rows' prints join the
            # standing side table through the shared effectively-once
            # shape (batch_id partition overwrite; deterministic per
            # batch, so a replay rewrites the identical set). Rows
            # that were rejected never index — their prints must not
            # block a future clean arrival of the same content
            kept_prints = batch_prints.join(
                F.broadcast(kept.select("media_id")), "media_id", "left_semi"
            )
            overwrite_batch_partition(kept_prints, print_index_path, batch_id)
        if rejects_path is not None:
            # effectively-once like the features sink: a crash after
            # this write and a replay rewrite exactly this batch's
            # partition instead of appending the rows twice (r14)
            overwrite_batch_partition(rejected, rejects_path, batch_id)
        if metrics_path is not None:
            n_kept = kept.count()
            by_reason = {
                r["reason"]: r["n"]
                for r in rejected.groupBy("reason")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()  # bounded: one row per distinct reject reason
            }
            n_rejected = sum(by_reason.values())
            n_invalid = by_reason.get("null_media_id", 0) + by_reason.get(
                "null_payload", 0
            )
            n_decode_errors = n_rejected - n_invalid - by_reason.get(
                "video_needs_ffmpeg", 0
            )
            # missing-codec rejects broken out so a PIL-less deployment
            # reads as ONE spiking metric line, not a grep through
            # reject reasons (the per-row isolation contract absorbs
            # them as data rejects by design — this column is how the
            # deployment error still surfaces). Counted by the
            # STRUCTURED CodecMissingError class name in the reason
            # (decoders raise that subclass at exactly the
            # missing-library sites), not by a 'PIL' substring — which
            # also matched the pure PNG decoder's per-file data-shape
            # reject 'unsupported PNG variant ... install PIL for the
            # long tail' and let exotic PNGs spike the deployment
            # metric (ADVICE r14).
            # Appended at the END of the schema per the r12 discipline.
            n_codec_missing = sum(
                n
                for reason, n in by_reason.items()
                if reason.startswith("CodecMissingError")
            )
            n_duplicates = by_reason.get(
                "duplicate_payload_in_batch", 0
            ) + by_reason.get("duplicate_payload_in_store", 0)
            n_near_dup = by_reason.get("near_duplicate_in_store", 0)
            # dedup/near-dup rejects are curation decisions, not data errors
            n_decode_errors -= n_duplicates + n_near_dup
            # created on the BATCH-bound session clone (not the shared
            # outer session): the overwrite conf save/set/restore spans
            # the write, and two concurrently-running streams on one
            # outer session could interleave set/restore and land a
            # STATIC overwrite that wipes every prior partition — the
            # per-micro-batch clone is never shared, so the race cannot
            # exist (r14 review; ann already passed the clone)
            metrics_row = _metrics_row(
                batch.sparkSession,
                "n_items long, n_features long, n_rejected long, "
                "n_invalid long, n_decode_errors long, wall_ms long, "
                "n_codec_missing long, n_duplicates long, "
                "n_near_dup long",
                (
                    n_kept + n_rejected,
                    n_kept,
                    n_rejected,
                    n_invalid,
                    n_decode_errors,
                    int((time.monotonic() - t0) * 1000),
                    n_codec_missing,
                    n_duplicates,
                    n_near_dup,
                ),
            )
            # effectively-once: one metrics row per batch_id, rewritten
            # (never appended twice) under redelivery — batch_id lands
            # as the partition key (r14)
            overwrite_batch_partition(metrics_row, metrics_path, batch_id)

    return _start_micro_batches(items, _process, checkpoint_dir)
