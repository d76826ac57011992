"""Streaming dimension maintenance — SCD2 MERGE per micro-batch.

Dimension updates arrive continuously (device registry changes,
customer-attribute edits); the warehouse keeps full version history.
This wires operators/maintenance.scd2_merge into foreachBatch the same
way corpus ingest wires curate_batch:

- each micro-batch is reduced to LATEST-update-per-key first (several
  updates for one key within a batch collapse to the newest by
  effective_ts — scd2_merge's one-per-key contract);
- the standing dimension store is read, merged, and replaced via the
  crash-recoverable staging swap (maintenance.swap_store: live dir
  renamed aside, staging promoted, aside dropped — one complete copy
  exists at every crash point, and recover_store() at batch start
  repairs an interrupted swap; a dimension is small next to facts, so
  full rewrite per batch is the standard lakehouse MERGE cost);
- re-delivered batches are harmless: merging the same updates twice is
  a no-op by construction (the second pass sees attributes identical
  to the now-current versions and drops them), so the sink is
  effectively-once WITHOUT any txn machinery — idempotence lives in
  the MERGE semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.maintenance import (
    dynamic_partition_overwrite,
    overwrite_batch_partition,
    recover_store,
    scd2_merge,
    swap_store,
)
from .pipeline import _start_micro_batches


def latest_per_key(updates: DataFrame, key_col: str, effective_col: str) -> DataFrame:
    """Collapse a batch to one update per key: newest effective_ts wins,
    ties broken by the largest attribute tuple for determinism."""
    from pyspark.sql.window import Window

    others = [c for c in updates.columns if c not in (key_col, effective_col)]
    w = Window.partitionBy(key_col).orderBy(
        F.desc(effective_col), *[F.desc(c) for c in others]
    )
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )



def _split_null_keys(
    batch: DataFrame, key_col: str, batch_id: int, rejects_path: str | None
):
    """Route NULL-business-key updates out of the merge path (they have
    no identity to version; scd2_merge refuses them fail-loud — the
    r11 streaming edge fixtures showed they previously VANISHED at the
    change-detection equi-join). With rejects_path the dropped rows are
    appended with a reason, the same dual-stream accounting as corpus
    ingest; without it they are still excluded so the stream survives a
    dirty feed, just unrecorded."""
    invalid = batch.where(F.col(key_col).isNull())
    valid = batch.where(F.col(key_col).isNotNull())
    if rejects_path is not None and invalid.head(1):
        # effectively-once like the dim store itself (r14): redelivery
        # rewrites this batch's rejects partition, never duplicates it
        overwrite_batch_partition(
            invalid.withColumn("reason", F.lit("null_business_key")),
            rejects_path,
            batch_id,
        )
    return valid


def run_scd2_stream(
    update_stream: DataFrame,
    dim_path: str,
    checkpoint_path: str,
    key_col: str,
    attr_cols: list[str],
    effective_col: str = "effective_ts",
    rejects_path: str | None = None,
) -> StreamingQuery:
    """Apply each micro-batch of updates to the versioned dimension at
    dim_path. The store must exist (seed it with the initial dimension,
    valid_to NULL) before the stream starts. NULL-business-key updates
    are split out pre-merge (appended to rejects_path when given)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        batch = _split_null_keys(batch, key_col, batch_id, rejects_path)
        if not batch.head(1):
            return
        spark = batch.sparkSession
        # a prior run may have died mid-swap — restore the aside copy
        # before reading, so the retried batch merges against a complete
        # store (swap_store keeps one full copy at every crash point)
        recover_store(dim_path)
        dim = spark.read.parquet(dim_path)
        merged = scd2_merge(
            dim,
            latest_per_key(batch, key_col, effective_col),
            key_col,
            attr_cols,
            effective_col=effective_col,
        )
        staging = dim_path.rstrip("/") + f"._staging_{batch_id}"
        merged.write.mode("overwrite").parquet(staging)
        swap_store(dim_path, staging)

    return _start_micro_batches(update_stream, _process, checkpoint_path)


# --- partition-scoped SCD2 (large-dimension upgrade) -------------------------

BUCKET_COL = "_kb"


def _key_bucket(key_col: str, n_buckets: int):
    # xxhash64 is deterministic across sessions/executors, so a key's
    # bucket never moves between batches or restarts
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def seed_scd2_store_bucketed(
    dim: DataFrame, dim_path: str, key_col: str, n_buckets: int = 32
) -> None:
    """Write the initial dimension hash-bucketed by key (one partition
    dir per bucket) — the layout run_scd2_stream_bucketed maintains."""
    dim.withColumn(BUCKET_COL, _key_bucket(key_col, n_buckets)).write.mode(
        "overwrite"
    ).partitionBy(BUCKET_COL).parquet(dim_path)


def run_scd2_stream_bucketed(
    update_stream: DataFrame,
    dim_path: str,
    checkpoint_path: str,
    key_col: str,
    attr_cols: list[str],
    effective_col: str = "effective_ts",
    n_buckets: int = 32,
    rejects_path: str | None = None,
) -> StreamingQuery:
    """Partition-scoped SCD2 MERGE — the large-dimension upgrade over
    run_scd2_stream's full rewrite (r5 verdict: fine at 1.5 M rows,
    wrong shape at a 100x dimension).

    The store is hash-bucketed by key (seed_scd2_store_bucketed); each
    micro-batch (a) reduces to latest-per-key, (b) collects the SET of
    buckets its keys hash into (batch-bounded, <= n_buckets ints),
    (c) reads ONLY those bucket partitions (partition-pruned scan),
    (d) scd2_merge's them against the batch, and (e) rewrites only
    those partitions via dynamic partition overwrite. Per-batch IO is
    |touched buckets| / n_buckets of the dimension, independent of
    total dimension size for key-concentrated batches — the MERGE cost
    a lakehouse table format achieves with file-level pruning,
    expressed with directory-level buckets.

    Same idempotence as the full-rewrite stream (re-merging identical
    updates is a no-op). Crash window is partition-scoped: dynamic
    overwrite replaces each touched bucket dir independently, so an
    unclean stop can leave SOME buckets merged and others not — the
    retried batch re-merges both kinds correctly (merged buckets no-op).
    """

    def _process(batch: DataFrame, batch_id: int) -> None:
        batch = _split_null_keys(batch, key_col, batch_id, rejects_path)
        if not batch.head(1):
            return
        spark = batch.sparkSession
        latest = latest_per_key(batch, key_col, effective_col).withColumn(
            BUCKET_COL, _key_bucket(key_col, n_buckets)
        ).localCheckpoint()
        touched = [r[0] for r in latest.select(BUCKET_COL).distinct().collect()]
        dim = (
            spark.read.option("basePath", dim_path)
            .parquet(dim_path)
            .where(F.col(BUCKET_COL).isin(touched))
        )
        merged = scd2_merge(
            dim.drop(BUCKET_COL),
            latest.drop(BUCKET_COL),
            key_col,
            attr_cols,
            effective_col=effective_col,
        ).withColumn(BUCKET_COL, _key_bucket(key_col, n_buckets))
        # merged.sparkSession IS the micro-batch's cloned session (the
        # local `spark` above is batch-bound too); spelled through the
        # frame so the registry lint gate can verify it statically
        with dynamic_partition_overwrite(merged.sparkSession):
            merged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(dim_path)

    return _start_micro_batches(update_stream, _process, checkpoint_path)
