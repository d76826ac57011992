"""Table lifecycle operators — partitioned storage, archival, retention,
compaction (OP-D1..D4, SURVEY.md §2.7/§4).

The reference's hypertable machinery (1-day chunks, compression after
7 d, archive after 30 d, retain 90 d — database/init.sql:74-91, 211-258)
maps to date-partitioned parquet tables plus scheduled jobs:

- write_partitioned: partition by date(timestamp) == hypertable chunking;
  time predicates prune partitions (chunk exclusion).
- archive_old_data (OP-D1): INSERT..SELECT + DELETE == append old
  partitions to archive, drop them from main. Partition-granular: a
  metadata/file operation, never a full-table rewrite.
- cleanup_archive (OP-D2): retention delete == drop partitions past cutoff.
- compact_partitions (OP-D3): TimescaleDB columnar compression
  (segmentby device_id, orderby ts DESC, init.sql:82-85) == rewrite cold
  partitions sorted within partitions by (device_id, timestamp) with
  ZSTD — same locality + min/max-stats effect for device/time predicates.
- idempotent_append (OP-D4): ON CONFLICT DO NOTHING == one aggregation
  on the natural key over the batch and the stored keys of the
  partitions it touches: one row per new key, none for a stored one.
- full_history (extension): main UNION archive for cross-tier queries.
"""

from __future__ import annotations

import functools
import json
import operator
import os
from contextlib import contextmanager
from datetime import date, datetime, timedelta

from pyspark.errors import SparkRuntimeException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@contextmanager
def dynamic_partition_overwrite(spark: SparkSession):
    """Scoped spark.sql.sources.partitionOverwriteMode=dynamic — the
    one shared implementation of the save/set/restore dance every
    partition-scoped rewrite sink needs (refresh jobs, the ANN serving
    sinks, SCD2 bucket maintenance)."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

def read_store_or_none(spark: SparkSession, path: str):
    """Read a standing parquet store, or None ONLY when no committed
    data exists yet — the first-batch case every incremental consumer
    (corpus ingest, media featurization) must tolerate. Two sanctioned
    shapes of "no store yet": the path does not exist (PATH_NOT_FOUND),
    and the path exists but holds no committed parquet footers
    (UNABLE_TO_INFER_SCHEMA — e.g. _temporary debris from a killed
    first write; treating that as an error would wedge the stream
    permanently on replay, review r13). Any OTHER read failure raises:
    swallowing e.g. a transient listing error as "no store" silently
    turns off digest anti-joins and admits duplicates permanently.
    Matches the error CLASS where pyspark exposes it; falls back to the
    message only for older exception shapes."""
    from pyspark.errors import AnalysisException

    _FIRST_BATCH_CLASSES = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        klass = None
        get = getattr(e, "getErrorClass", None)
        if callable(get):
            try:  # pragma: no cover - shape varies across pyspark minors
                klass = get()
            except Exception:
                klass = None
        if klass is not None:
            if klass in _FIRST_BATCH_CLASSES:
                return None
            raise
        msg = str(e)
        if any(c in msg for c in _FIRST_BATCH_CLASSES) or "Path does not exist" in msg:
            return None
        raise


def overwrite_batch_partition(frame: DataFrame, path: str, batch_id: int) -> None:
    """Effectively-once micro-batch sink — the ONE shared write shape
    for every per-batch table a foreachBatch body lands (feature
    stores, rejects, metrics, alerts, LM deltas): stamp batch_id,
    write mode=overwrite partitioned by batch_id under dynamic
    partition overwrite. The partition key fully identifies the write,
    so a re-delivered micro-batch rewrites exactly its own partition —
    a crash-replay can never append duplicate accounting rows (VERDICT
    r13 #2: the rejects/metrics side-sinks were append-only, so every
    primary store was effectively-once but redelivery duplicated the
    books).

    The conf is bound to the FRAME's own session by construction:
    foreachBatch hands each micro-batch a frame bound to an isolated
    session clone, and a mode set on any other session silently leaves
    the write STATIC — every batch then wipes all prior partitions
    (the r13 media-sink bug). Callers therefore cannot repeat that bug
    through this helper.

    batch_id round-trips as the PARTITION column: readers get it back
    as a column (int-typed by partition inference — compare with
    lit(int), group by it, but don't depend on LongType).

    Contract note: dynamic overwrite only replaces partitions PRESENT
    in the data — an EMPTY frame writes nothing and would leave a
    previously-written partition for the same batch_id in place. That
    is correct for every current caller because a replayed batch's
    row set is deterministic or strictly larger (a recomputed reject
    set can only grow when the crashed attempt's appends landed); a
    future sink whose per-batch set can SHRINK to empty on replay
    must delete its partition directory first."""
    with dynamic_partition_overwrite(frame.sparkSession):
        (
            frame.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(path)
        )


PARTITION_COL = "reading_date"
NATURAL_KEY = ("device_id", "timestamp", "device_type")


# --- filesystem layer --------------------------------------------------------
# All directory listing / deletion / renaming goes through Hadoop's
# FileSystem API resolved from the path's scheme, so the lifecycle jobs
# work unchanged against hdfs:// and s3a:// table roots, not just the
# driver's local disk (os.listdir/shutil would silently see nothing on a
# cluster). In local mode the resolved FS is RawLocalFileSystem, so
# tests on tmp_path exercise the same code path.


def _jfs(path: str):
    spark = SparkSession.getActiveSession()
    if spark is None:  # pragma: no cover - all callers run under a session
        raise RuntimeError("maintenance filesystem operations need an active SparkSession")
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def _fs_child_dirs(path: str) -> list[str]:
    fs, jpath, _ = _jfs(path)
    if not fs.exists(jpath):
        return []
    return sorted(
        st.getPath().getName() for st in fs.listStatus(jpath) if st.isDirectory()
    )


def _fs_delete(path: str) -> None:
    fs, jpath, _ = _jfs(path)
    fs.delete(jpath, True)


def _fs_rename(src: str, dst: str) -> None:
    fs, jsrc, jvm = _jfs(src)
    if not fs.rename(jsrc, jvm.org.apache.hadoop.fs.Path(dst)):  # pragma: no cover
        raise IOError(f"rename failed: {src} -> {dst}")


def _fs_exists(path: str) -> bool:
    fs, jpath, _ = _jfs(path)
    return fs.exists(jpath)


def _fs_data_file(path: str):
    """The first non-hidden data file directly under the directory (a
    Hadoop FileStatus), or None when the directory is missing or holds
    none (recursing one level is unnecessary here: partition dirs and
    append stores keep their parquet files flat). An EXISTING but
    file-less directory is a real crash/ops remnant — an interrupted
    delete, a bare mkdir — and reading it as parquet dies on schema
    inference, so the maintenance ops probe first and treat it as
    data-less."""
    fs, jpath, _ = _jfs(path)
    if not fs.exists(jpath):
        return None
    for st in fs.listStatus(jpath):
        if st.isFile() and not st.getPath().getName().startswith(("_", ".")):
            return st
    return None


def _fs_has_data_files(path: str) -> bool:
    return _fs_data_file(path) is not None


_OLD_SUFFIX = "._old"


def swap_store(path: str, staging: str) -> None:
    """Crash-recoverable full-store replacement: promote a fully-written
    staging directory to the live path without a window where the store
    is simply gone. The naive delete(live)+rename(staging) sequence has
    exactly that window — a crash between the two ops loses the store
    permanently, and (under foreachBatch) the retried batch then fails
    its store read forever.

    Sequence: clear any leftover `path._old` from a prior completed
    swap, rename the live dir ASIDE to `path._old`, rename staging into
    place, drop `._old`. Every intermediate crash state keeps at least
    one complete copy on disk and is repaired by recover_store():
      - before the aside rename: live store intact, nothing to do;
      - between aside and promote: live missing but `._old` complete —
        recover_store() restores it and the caller's retry re-runs;
      - after promote: live store is the new copy; a leftover `._old`
        is cleared by the next swap (or recover_store, which sees the
        live dir and leaves it alone)."""
    old = path.rstrip("/") + _OLD_SUFFIX
    _fs_delete(old)
    if _fs_exists(path):
        _fs_rename(path, old)
    _fs_rename(staging, path)
    _fs_delete(old)


def recover_store(path: str) -> bool:
    """Repair an interrupted swap_store: if the live dir is missing but
    `path._old` survives (crash between the aside and promote renames),
    restore it. Idempotent and cheap (two existence probes); call at the
    top of any foreachBatch that reads a swap-managed store so a retry
    after an unclean stop sees a complete store. Returns True iff a
    recovery rename happened."""
    old = path.rstrip("/") + _OLD_SUFFIX
    if not _fs_exists(path) and _fs_exists(old):
        _fs_rename(old, path)
        return True
    return False


def with_partition_col(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    # fail-loud on a NULL event time: to_date(NULL) would route the row
    # to reading_date=__HIVE_DEFAULT_PARTITION__, whose directory name
    # then poisons EVERY maintenance op that lists partitions (archive,
    # retention, compaction, refresh — found by the r12 pathological
    # fixture sweep). raise_error rides the same write pass JVM-side, so
    # the guard costs no extra scan; a row with no event time has no
    # partition home and must be rejected upstream, same contract as
    # idempotent_append's null-natural-key refusal.
    guarded = (
        F.when(
            F.col(ts_col).isNull(),
            F.raise_error(
                F.lit(
                    f"write_partitioned: NULL {ts_col} has no partition home "
                    "(would write __HIVE_DEFAULT_PARTITION__ and break every "
                    "partition-listing maintenance op) — validate or reject "
                    "upstream"
                )
            ),
        )
        .otherwise(F.to_date(F.col(ts_col)))
        .cast("date")
    )
    return df.withColumn(PARTITION_COL, guarded)


def write_partitioned(df: DataFrame, path: str, mode: str = "append", ts_col: str = "timestamp") -> None:
    """Write date-partitioned parquet (hypertable-chunk analogue).
    Refuses NULL event times fail-loud — see with_partition_col."""
    with_partition_col(df, ts_col).write.mode(mode).partitionBy(PARTITION_COL).parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.option("basePath", path).parquet(path)


def list_partitions(path: str) -> list[date]:
    """Partition values present under the table root (FileSystem listing —
    scheme-aware, see the filesystem layer above). A partition value that
    is not a date (__HIVE_DEFAULT_PARTITION__ from some OTHER writer's
    null event times, or hand-made junk) fails with a remedial message
    instead of a bare isoformat ValueError: silently skipping it would
    hide those rows from archive/retention forever, and every downstream
    maintenance op would make a different partial-view mistake."""
    out = []
    for name in _fs_child_dirs(path):
        if name.startswith(f"{PARTITION_COL}="):
            value = name.split("=", 1)[1]
            if "._" in value:
                # a swap/compaction artifact (partition._old /
                # ._compact_tmp / ._archive_tmp) stranded by an unclean
                # stop — a KNOWN transient repaired by recover_store /
                # vacuum_store_artifacts, not a partition; skipping it
                # lets the retry that will repair it actually run
                continue
            try:
                out.append(date.fromisoformat(value))
            except ValueError:
                raise ValueError(
                    f"list_partitions: {path} contains a non-date partition "
                    f"directory {name!r} — likely NULL event times written by "
                    "a writer without write_partitioned's guard; repair the "
                    "store (move or drop the directory) before running "
                    "maintenance against it"
                ) from None
    return out


def _partition_dir(path: str, day: date) -> str:
    return os.path.join(path, f"{PARTITION_COL}={day.isoformat()}")


_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def _read_days(spark: SparkSession, path: str, days: list[date]) -> DataFrame | None:
    """The named date partitions of a table, or None when none of them
    holds a data file (a dropped or emptied day has no rows to read,
    and a read of zero files cannot infer a schema).

    Each day's directory is listed once. The schema comes from the Spark
    row schema in one kept file's footer, read on the driver, so the
    scan starts no schema-inference job. Spark's own inference reads
    the same footer key when mergeSchema is off, and the reader makes
    every field nullable either way, so the schema is the same. The
    trade: inference takes one arbitrary file of the whole store, this
    takes one file of the days being read. A footer without the key (a
    non-Spark writer) falls back to Spark's inference."""
    fs, _, jvm = _jfs(path)
    dirs, first = [], None
    for day in days:
        data_file = _fs_data_file(_partition_dir(path, day))
        if data_file is not None:
            dirs.append(_partition_dir(path, day))
            first = data_file if first is None else first
    if not dirs:
        return None
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(first, fs.getConf())
    )
    try:
        row_meta = reader.getFooter().getFileMetaData().getKeyValueMetaData().get(_SPARK_ROW_METADATA)
    finally:
        reader.close()
    schema = None if row_meta is None else StructType.fromJson(json.loads(row_meta))
    return (spark.read if schema is None else spark.read.schema(schema)).option(
        "basePath", path
    ).parquet(*dirs)


def archive_old_data(
    spark: SparkSession,
    main_path: str,
    archive_path: str,
    older_than_days: int,
    now: datetime | None = None,
) -> int:
    """OP-D1: move partitions older than the cutoff from main to archive.

    Returns rows moved (reference returns moved count,
    init.sql:222-243). Partition-granular move: read only the affected
    partitions — the bulk of the table is untouched.

    Crash-retry idempotent (r12 pathological sweep — the append+delete
    sequence used to DUPLICATE a partition's rows in the archive when a
    crash landed between the two ops and the job retried): the archive
    partition is written as the natural-key-deduped MERGE of the main
    partition and whatever the archive already holds for that day (late
    data for an archived day appends; a retried half-move converges),
    promoted via the crash-recoverable swap_store sequence, and only
    then is the main partition dropped. Every crash point leaves both
    stores readable and the retry re-converges. A victim partition
    directory with no data files (interrupted delete, bare mkdir) is
    cleared without a read — parquet schema inference cannot see an
    empty directory."""
    now = now or datetime.utcnow()
    cutoff = (now - timedelta(days=older_than_days)).date()
    victims = [d for d in list_partitions(main_path) if d < cutoff]
    if not victims:
        return 0
    moved = 0
    for day in victims:
        src_dir = _partition_dir(main_path, day)
        if not _fs_has_data_files(src_dir):
            _fs_delete(src_dir)
            continue
        part = spark.read.parquet(src_dir)
        moved += part.count()
        dst_dir = _partition_dir(archive_path, day)
        if _fs_has_data_files(dst_dir):
            part = part.unionByName(spark.read.parquet(dst_dir)).dropDuplicates(
                list(NATURAL_KEY)
            )
        tmp = dst_dir + "._archive_tmp"
        part.write.mode("overwrite").parquet(tmp)
        swap_store(dst_dir, tmp)
        _fs_delete(src_dir)
    return moved


def cleanup_archive(archive_path: str, older_than_days: int, now: datetime | None = None) -> int:
    """OP-D2: retention delete — drop archive partitions past the cutoff
    (init.sql:246-258). Metadata-only (directory drop)."""
    now = now or datetime.utcnow()
    cutoff = (now - timedelta(days=older_than_days)).date()
    dropped = 0
    for day in list_partitions(archive_path):
        if day < cutoff:
            _fs_delete(_partition_dir(archive_path, day))
            dropped += 1
    return dropped


def compact_partitions(
    spark: SparkSession,
    path: str,
    older_than_days: int,
    now: datetime | None = None,
    codec: str = "zstd",
) -> int:
    """OP-D3: compression-policy analogue — rewrite cold partitions sorted
    within partitions by (device_id, timestamp) with ZSTD. Mirrors
    segmentby/orderby (init.sql:82-85): runs of one device sort together,
    so parquet min/max stats + dictionary pages act as the (device, ts)
    index for point/range lookups."""
    now = now or datetime.utcnow()
    cutoff = (now - timedelta(days=older_than_days)).date()
    compacted = 0
    for day in list_partitions(path):
        if day >= cutoff:
            continue
        part_dir = _partition_dir(path, day)
        if not _fs_has_data_files(part_dir):
            # data-less remnant (interrupted delete / bare mkdir):
            # nothing to compact, and a parquet read of it would die on
            # schema inference
            continue
        part = spark.read.parquet(part_dir)
        tmp = part_dir + "._compact_tmp"
        (
            part.repartition(1)
            .sortWithinPartitions("device_id", "timestamp")
            .write.mode("overwrite")
            .option("compression", codec)
            .parquet(tmp)
        )
        swap_store(part_dir, tmp)
        compacted += 1
    return compacted


_NULL_NATURAL_KEY = "NULL natural key among"


def _any_null(keys: tuple[str, ...]):
    return functools.reduce(operator.or_, (F.col(k).isNull() for k in keys))


def _dedup_on_natural_key(
    df: DataFrame, dedup_keys: tuple[str, ...], existing: DataFrame | None = None
) -> DataFrame:
    """The ON CONFLICT stand-in of both natural-key sinks
    (idempotent_append here, sources.jdbc_io.write_jdbc): one row per
    natural key of `df`, minus every key `existing` (a frame of stored
    keys) already holds, refusing a row with a NULL key component
    fail-loud.

    One aggregation does both halves: the batch rows, packed into one
    struct and tagged unseen, are unioned with the stored keys, tagged
    seen with a NULL struct; a group-by on the key keeps max(seen) and
    the first non-NULL struct, drops the seen groups and unpacks the
    struct. That is one shuffle over both inputs. The survivor of an
    in-batch duplicate group is first(), as under dropDuplicates.

    A NULL key would group with every other NULL (silently collapsing
    such rows to one arbitrary survivor) and never equals a stored key
    (so a re-delivered batch would re-append it); the reference's NOT
    NULL primary key rejects it outright. The raise_error rides the
    first key column ahead of the shuffle, so the check runs in the
    write's first stage (the write_partitioned pattern — no extra
    scan), and valid rows pass through unchanged."""
    k0 = dedup_keys[0]
    guarded = (
        F.when(
            _any_null(dedup_keys),
            F.raise_error(
                F.lit(
                    f"{_NULL_NATURAL_KEY} {tuple(dedup_keys)} — such rows have "
                    "no ON CONFLICT identity and the dedup would silently "
                    "collapse them; validate or reject upstream"
                )
            ),
        )
        .otherwise(F.col(k0))
        .cast(df.schema[k0].dataType)
    )
    keys = list(dedup_keys)
    values = [c for c in df.columns if c not in dedup_keys]
    rows = df.withColumn(k0, guarded).select(*keys, F.lit(False).alias("_seen"), F.struct(*values).alias("_row"))
    if existing is not None:
        rows = rows.unionByName(
            existing.select(*keys, F.lit(True).alias("_seen"), F.lit(None).cast(rows.schema["_row"].dataType).alias("_row"))
        )
    return (
        rows.groupBy(*keys)
        .agg(F.max("_seen").alias("_seen"), F.first("_row", ignorenulls=True).alias("_row"))
        .where(~F.col("_seen"))
        .select(*[c if c in dedup_keys else F.col("_row")[c].alias(c) for c in df.columns])
    )


def idempotent_append(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    ts_col: str = "timestamp",
    days: list[date] | None = None,
) -> int:
    """OP-D4: ON CONFLICT DO NOTHING (database.py:300) — dedup the batch on
    the natural key and drop the keys already stored in the target
    partitions the batch touches (partition-pruned read, not a
    full-table scan). Returns the rows inserted.

    Pass `days` (the batch's event dates) when the caller already knows
    them — the streaming ingest body observes them on its one
    materialization of the micro-batch — and the batch is never scanned
    to discover target partitions. Without it, the batch is
    localCheckpoint-ed and ONE aggregate over it yields both the day set
    and the null-key count (a batch whose every timestamp is NULL has
    no day and would otherwise return 0 unrefused). (A collect-free
    formulation was measured and rejected: Spark's dynamic partition
    pruning never fires for LEFT ANTI — canPruneRight covers
    Inner/LeftSemi only — so the 'pure join' shape silently reads the
    whole store; the bounded day list, calendar-sized by construction,
    is the correct trade.) `days=[]` returns 0 and writes nothing: the
    caller says the batch touches no partition.

    The dedup then runs exactly once, inside the write:
    _dedup_on_natural_key aggregates the batch together with the
    overlapping partitions' keys in one shuffle, and its NULL-key
    refusal rides the write's first stage (no separate probe job). The
    overlapping partitions are read with the batch's own natural-key
    schema (no schema-inference job), and the inserted count is an
    Observation on the write itself, not a count() that would re-run
    the dedup. So the append is two Spark jobs, the shuffle and the
    write, with or without stored days. No rows, no write: an empty
    batch returns 0 before anything touches `path`.

    A NULL natural-key component is refused with ValueError, before
    any row lands: it never equals a stored key, so a re-delivered
    batch would re-append the row EVERY retry — effectively-once
    silently broken for exactly the rows with no identity (the r11
    null-key sweep: scd2_merge / curate_batch's class)."""
    refusal = (
        "idempotent_append: batch contains NULL natural-key "
        f"components {NATURAL_KEY} — validate or reject upstream "
        "(null keys cannot be deduplicated and would re-append "
        "on every redelivery)"
    )
    if days is None:
        # one computation of the batch, shared by discovery and the write
        batch = batch.localCheckpoint(eager=True)
        facts = batch.agg(
            F.count_if(_any_null(NATURAL_KEY)).alias("null_keys"),
            F.collect_set(F.to_date(F.col(ts_col))).alias("days"),
        ).first()
        if facts["null_keys"]:
            raise ValueError(refusal)
        days = facts["days"]
    if not days:
        return 0
    existing_days = set(list_partitions(path))
    overlap = [d for d in days if d in existing_days]
    existing = None
    if overlap:
        key_schema = StructType([batch.schema[k] for k in NATURAL_KEY])
        existing = spark.read.schema(key_schema).option("basePath", path).parquet(
            *[_partition_dir(path, d) for d in overlap]
        )
    deduped = _dedup_on_natural_key(batch, NATURAL_KEY, existing)
    inserted = Observation()
    try:
        write_partitioned(deduped.observe(inserted, F.count(F.lit(1)).alias("rows")), path, mode="append", ts_col=ts_col)
    except SparkRuntimeException as e:
        if _NULL_NATURAL_KEY not in str(e):
            raise
        raise ValueError(refusal) from None
    return inserted.get["rows"]


def full_history(spark: SparkSession, main_path: str, archive_path: str) -> DataFrame:
    """Extension over the reference: unified main+archive view
    (unionByName; SURVEY §2.7)."""
    main = read_table(spark, main_path)
    if not list_partitions(archive_path):
        return main
    return main.unionByName(read_table(spark, archive_path), allowMissingColumns=True)


def refresh_bucket_aggregate(
    spark: SparkSession,
    readings_path: str,
    agg_path: str,
    days: list[date] | None = None,
    bucket: str = "1 hour",
) -> int:
    """Incremental continuous-aggregate refresh (batch form of OP-ST8;
    init.sql:324-368's refresh policy, SURVEY.md §7 hard part (d)).

    Recomputes the bucket aggregate for ONLY the named date partitions
    (default: every partition currently in main) and swaps them into the
    aggregate table via dynamic partition overwrite — untouched
    partitions' aggregates are never read or rewritten, so refresh cost
    is proportional to new data, not table size. Correct for any bucket
    that divides a day (hourly/15-min/...) because bucket boundaries then
    never straddle a partition boundary.

    A targeted day that turned out EMPTY in the source (retention or
    archival dropped its raw partition) has its aggregate partition
    DELETED: dynamic overwrite only rewrites partitions present in the
    new data, so without the explicit clear the old aggregate would
    serve deleted rows forever.

    Job shape: the targeted days are read under the Spark schema in one
    of their files' footers (see _read_days), so no schema-inference job
    runs. Which days the new data covers is an Observation on the
    overwrite itself, so the aggregate is computed once, by the write,
    with no checkpoint or day-set collect before it: two jobs under
    adaptive execution (the aggregate's shuffle stage, then the write).
    Returns partitions refreshed."""
    from .analytics import bucket_aggregates

    target = days if days is not None else list_partitions(readings_path)
    if not target:
        return 0
    # a targeted day whose directory is missing or holds no data files
    # reads as absent, so its aggregate is cleared below
    src = _read_days(spark, readings_path, target)
    present = set()
    if src is not None:
        src = src.withColumnRenamed("timestamp", "ts") if "ts" not in src.columns else src
        agg = bucket_aggregates(src, bucket=bucket).withColumn(
            PARTITION_COL, F.to_date(F.col("bucket"))
        )
        written = Observation()
        with dynamic_partition_overwrite(spark):
            (
                agg.observe(written, F.collect_set(PARTITION_COL).alias("days"))
                .write.mode("overwrite").partitionBy(PARTITION_COL).parquet(agg_path)
            )
        present = set(written.get["days"])
    for day in target:
        if day not in present:
            _fs_delete(_partition_dir(agg_path, day))
    return len(target)


def refresh_rollup_cascade(
    spark: SparkSession,
    readings_path: str,
    hourly_path: str,
    daily_path: str,
    days: list[date] | None = None,
    fine_bucket: str = "1 hour",
) -> int:
    """Incremental HIERARCHICAL continuous-aggregate refresh — the
    dirty-partition form of analytics.rollup_cascade (TimescaleDB's
    daily-cagg-on-hourly-cagg with a refresh policy, init.sql:324-368):

      1. the HOURLY re-aggregable partial store is recomputed for ONLY
         the named dirty days (raw read partition-pruned, dynamic
         partition overwrite — same contract as refresh_bucket_aggregate);
      2. the DAILY rows for exactly those days are re-finalized FROM
         the hourly partials (a partition-pruned read of hours x types
         rows, never raw) and swapped in via dynamic overwrite.

    One new hour of data therefore touches one raw partition, rewrites
    one hourly partition and one daily partition; untouched days'
    aggregates are never read or rewritten — refresh cost tracks new
    data, not table size. Correct for any fine bucket that divides a
    day (bucket boundaries never straddle the partition boundary), and
    the daily finalize is value-identical to the direct daily aggregate
    because the partials carry exact integer-cent sums and time-ordered
    first/last pairs (rollup_cascade's invariant, oracle-gated by the
    a13b registered query).

    A targeted day with NO raw rows left (retention/archival dropped
    its partition) is CLEARED at both cascade levels — dynamic
    overwrite writes nothing for a day absent from the new partials,
    so without the explicit delete the hourly and daily stores would
    keep serving the pre-deletion aggregates and the value-identity
    invariant would silently break.

    Job shape: both levels read their days under the Spark schema in
    one of their files' footers (see _read_days), so neither read runs
    a schema-inference job. Which days the hourly level covers is an
    Observation on its overwrite, as in refresh_bucket_aggregate, so
    the partials are computed once, by their write, with no checkpoint
    or day-set collect: four jobs under adaptive execution (each
    level's shuffle stage and write). Returns partitions refreshed."""
    from .analytics import rollup_finalize, rollup_partials

    target = days if days is not None else list_partitions(readings_path)
    if not target:
        return 0
    # a targeted day whose raw partition is missing or holds no data
    # files contributes nothing, so both levels clear it below
    src = _read_days(spark, readings_path, target)
    present = set()
    with dynamic_partition_overwrite(spark):
        if src is not None:
            src = src.withColumnRenamed("timestamp", "ts") if "ts" not in src.columns else src
            hourly = rollup_partials(src, fine_bucket=fine_bucket).withColumn(
                PARTITION_COL, F.to_date(F.col("bucket"))
            )
            written = Observation()
            (
                hourly.observe(written, F.collect_set(PARTITION_COL).alias("days"))
                .write.mode("overwrite").partitionBy(PARTITION_COL).parquet(hourly_path)
            )
            present = set(written.get["days"])
        for day in target:
            if day not in present:
                _fs_delete(_partition_dir(hourly_path, day))
        # the daily re-finalize reads ONLY the dirty days' hourly
        # partitions; when every targeted day emptied out there is
        # nothing to finalize, only daily partitions to clear
        parts = _read_days(spark, hourly_path, sorted(present))
        if parts is not None:
            daily = rollup_finalize(parts.drop(PARTITION_COL), "1 day").withColumn(
                PARTITION_COL, F.to_date(F.col("bucket"))
            )
            daily.write.mode("overwrite").partitionBy(PARTITION_COL).parquet(daily_path)
        for day in target:
            if day not in present:
                _fs_delete(_partition_dir(daily_path, day))
    return len(target)


def health_check(spark: SparkSession, path: str) -> bool:
    """OP-D5: golden-row write/read-back round-trip
    (run_timescaledb_sink.py:226-260): append one fully-populated
    synthetic reading to a scratch slice of the table path, assert it
    reads back intact, then drop the scratch partition. Returns True on
    success; never touches real partitions (the golden row lives on its
    own sentinel date)."""
    sentinel = date(1970, 1, 2)
    golden = spark.createDataFrame(
        [("__health_check__", "temperature_sensor", datetime(1970, 1, 2, 0, 0, 0), 21.5, "°C", False)],
        "device_id string, device_type string, timestamp timestamp, value double, unit string, is_anomaly boolean",
    )
    try:
        write_partitioned(golden, path)
        back = read_table(spark, path).where(F.col("device_id") == "__health_check__").collect()
        ok = (
            len(back) == 1
            and back[0]["value"] == 21.5
            and back[0]["unit"] == "°C"
            and back[0]["device_type"] == "temperature_sensor"
        )
    finally:
        _fs_delete(_partition_dir(path, sentinel))
    remaining = read_table(spark, path).where(F.col("device_id") == "__health_check__").count() if ok else 1
    return ok and remaining == 0


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (Spark's hash-bucketed layout): rows are
    pre-partitioned by hash(bucket_col) at write time, so joins and
    aggregations keyed on bucket_col between co-bucketed tables read
    bucket-to-bucket with NO exchange — the 100 TB answer to a join that
    repeats every run (e.g. lineitem⋈orders on the orderkey). Optional
    per-bucket sort adds sort-merge-readiness without a sort stage."""
    w = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)


def analyze_table(
    spark: SparkSession,
    path: str,
    table_name: str,
    columns: list[str] | None = None,
) -> dict:
    """ANALYZE step of the maintenance cycle (the reference runs VACUUM
    ANALYZE on main+archive after cleanup, database.py:563-589; here
    compaction is the VACUUM and this is the ANALYZE).

    Registers `path` as an external parquet table (if absent), recovers
    its partitions, and computes table stats — plus per-column min/max/
    ndv/null-count histogram inputs for the named columns — so Catalyst's
    cost-based optimizer has real cardinalities for join reordering and
    broadcast decisions instead of file-size guesses. Stats persist in
    the session catalog (a metastore in deployment). Returns the stats
    recorded: {"rowCount": int, "sizeInBytes": int, "columns": [...]}."""
    if not spark.catalog.tableExists(table_name):
        spark.sql(f"CREATE TABLE {table_name} USING parquet LOCATION '{path}'")
    try:
        spark.sql(f"MSCK REPAIR TABLE {table_name}")
    except Exception:
        pass  # unpartitioned layout — nothing to recover
    spark.sql(f"ANALYZE TABLE {table_name} COMPUTE STATISTICS")
    if columns:
        spark.sql(
            f"ANALYZE TABLE {table_name} COMPUTE STATISTICS FOR COLUMNS {', '.join(columns)}"
        )
    stats_line = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}")
        .where(F.col("col_name") == "Statistics")
        .select("data_type")
        .first()
    )
    out: dict = {"rowCount": None, "sizeInBytes": None, "columns": columns or []}
    if stats_line:  # "N bytes, M rows"
        for part in stats_line[0].split(","):
            part = part.strip()
            if part.endswith("bytes"):
                out["sizeInBytes"] = int(part.split()[0])
            elif part.endswith("rows"):
                out["rowCount"] = int(part.split()[0])
    return out


def zorder_col(cols: list, bits: int = 16, bounds: list | None = None):
    """Morton (Z-order) interleave of N numeric columns as a pure
    codegen Column: each column is min-max scaled to [0, 2^bits) with
    the supplied (lo, hi) bounds, then the bit at position i of column
    c lands at position i*N + c of the z-value. Locality in z implies
    locality in EVERY input dimension — the property multi-dimensional
    file skipping needs and a single-column sort cannot give.

    All shift/mask arithmetic — whole-stage codegen, no UDF. bits*N
    must fit a long (<= 62)."""
    n = len(cols)
    if bits * n > 62:
        raise ValueError(f"bits*len(cols) must be <= 62, got {bits * n}")
    if bounds is None or len(bounds) != n:
        raise ValueError("bounds [(lo, hi), ...] required, one per column")
    z = F.lit(0).cast("long")
    span = F.lit((1 << bits) - 1).cast("long")
    for c_idx, (c, (lo, hi)) in enumerate(zip(cols, bounds)):
        rng = float(hi) - float(lo)
        if rng <= 0:
            scaled = F.lit(0).cast("long")
        else:
            clamped = F.least(
                F.greatest(F.col(c) if isinstance(c, str) else c, F.lit(float(lo))),
                F.lit(float(hi)),
            )
            scaled = F.least(
                F.floor(
                    (clamped.cast("double") - float(lo)) * ((1 << bits) / rng)
                ).cast("long"),
                span,
            )
        for b in range(bits):
            bit = F.shiftrightunsigned(scaled, b).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + c_idx))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    num_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet layout: range-partition + sort the
    rows by their Morton interleave so every output file covers a small
    hyper-rectangle of the clustered columns — parquet min/max stats
    then prune files for predicates on ANY of the dimensions, where a
    single-column sort only prunes its leading column (the
    OPTIMIZE ... ZORDER BY operation of lakehouse table formats,
    expressed as plain Spark).

    Bounds come from one min/max aggregate (a driver-side 1-row
    collect); the write itself is one range exchange doing double duty
    as the file partitioning, with an in-partition sort — the same
    economics as write_training_shards. At 100 TB this is the
    compaction-pass layout for the 2-3 columns dashboards slice by."""
    stats = df.agg(
        *[f(c).alias(f"{n}_{c}") for c in cols for n, f in (("lo", F.min), ("hi", F.max))]
    ).first()
    if any(stats[f"lo_{c}"] is None for c in cols):
        # empty input (or an all-null cluster column): nothing to order
        df.limit(0).write.mode(mode).parquet(path)
        return
    bounds = [(stats[f"lo_{c}"], stats[f"hi_{c}"]) for c in cols]
    z = zorder_col(cols, bits=bits, bounds=bounds)
    (
        df.withColumn("_z", z)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    key_col: str,
    attr_cols: list[str],
    effective_col: str = "effective_ts",
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
) -> DataFrame:
    """Slowly-changing-dimension type-2 merge: apply a batch of
    attribute updates to a versioned dimension — the warehouse-side
    MERGE the reference's plain upsert (OP-S4) cannot express when
    history must be kept.

    Semantics (standard SCD2): `dim` rows carry [valid_from, valid_to)
    with valid_to NULL for current versions. For each update whose
    attributes DIFFER from the key's current version, the current row
    closes at the update's effective timestamp and a new open version
    is inserted; no-op updates (identical attributes) and STALE updates
    (effective_ts not newer than the current version's valid_from —
    out-of-order or re-delivered) are dropped;
    updates for unseen keys insert a first version; closed history rows
    pass through untouched. One update per key per batch (enforced —
    micro-batches should pre-dedup to latest-per-key, e.g. with
    latest-reading semantics).

    Scale shape: the update batch is small next to the dimension, so
    the change-detection join broadcasts the updates and dimension rows
    never shuffle; output is history ∪ surviving-current ∪ closed ∪
    new — each branch a narrow projection of an already-joined frame.
    At 100 TB this is the per-batch MERGE a lakehouse table format
    runs; expressed engine-agnostically it is one broadcast join + a
    union of projections."""
    expected = {key_col, *attr_cols, valid_from_col, valid_to_col}
    if set(dim.columns) != expected:
        raise ValueError(
            f"scd2_merge: dim columns {dim.columns} must be exactly key + "
            f"attr_cols + validity columns ({sorted(expected)})"
        )
    dup = updates.groupBy(key_col).count().where(F.col("count") > 1).limit(1).collect()
    if dup:
        raise ValueError(
            f"scd2_merge: multiple updates for key {dup[0][key_col]!r} in one "
            "batch — reduce to latest-per-key first"
        )
    if updates.where(F.col(key_col).isNull()).limit(1).collect():
        # fail-loud twin of the dup guard: a NULL business key has no
        # identity to version, and the change-detection equi-join below
        # would silently VANISH the row (neither applied nor reported —
        # found by the r11 streaming edge fixtures, the same class as
        # curate_batch's null-digest drop). Callers with dirty feeds
        # filter/reject upstream (run_scd2_stream's rejects_path).
        raise ValueError(
            f"scd2_merge: update batch contains a NULL {key_col!r} business "
            "key — filter or reject null-key updates before merging"
        )
    current = dim.where(F.col(valid_to_col).isNull())
    history = dim.where(F.col(valid_to_col).isNotNull())

    u = updates.select(
        F.col(key_col),
        *[F.col(c).alias(f"_u_{c}") for c in attr_cols],
        F.col(effective_col).alias("_eff"),
    )
    joined = current.join(F.broadcast(u), key_col, "left")
    # staleness guard: an update only counts as a change if its
    # effective timestamp is NEWER than the current version's
    # valid_from — an out-of-order or re-delivered stale update can
    # never close a newer version (this is what makes per-batch
    # redelivery idempotent: replaying old updates against an
    # already-advanced dimension is a no-op)
    changed = (
        joined["_eff"].isNotNull()
        & (joined["_eff"] > F.col(valid_from_col))
        & ~F.struct(*[F.col(c) for c in attr_cols]).eqNullSafe(
            F.struct(*[F.col(f"_u_{c}").alias(c) for c in attr_cols])
        )
    )

    untouched_current = joined.where(~F.coalesce(changed, F.lit(False))).select(dim.columns)
    closed = joined.where(changed).select(
        *[
            F.col("_eff").alias(valid_to_col) if c == valid_to_col else F.col(c)
            for c in dim.columns
        ]
    )
    new_versions = joined.where(changed).select(
        *[
            F.col(f"_u_{c}").alias(c)
            if c in attr_cols
            else F.col("_eff").alias(valid_from_col)
            if c == valid_from_col
            else F.lit(None).cast(dict(dim.dtypes)[valid_to_col]).alias(valid_to_col)
            if c == valid_to_col
            else F.col(c)
            for c in dim.columns
        ]
    )
    first_versions = (
        u.join(current.select(key_col), key_col, "left_anti")
        .select(
            *[
                F.col(f"_u_{c}").alias(c)
                if c in attr_cols
                else F.col("_eff").alias(valid_from_col)
                if c == valid_from_col
                else F.lit(None).cast(dict(dim.dtypes)[valid_to_col]).alias(valid_to_col)
                if c == valid_to_col
                else F.col(c)
                for c in dim.columns
            ]
        )
    )
    return (
        history.unionByName(untouched_current)
        .unionByName(closed)
        .unionByName(new_versions)
        .unionByName(first_versions)
    )


def compact_append_store(
    spark: SparkSession,
    path: str,
    target_partitions: int = 8,
    sort_cols: list[str] | None = None,
    codec: str = "zstd",
) -> int:
    """Small-file compaction for UNPARTITIONED append stores (the
    streaming corpus/band-index/rejects sinks append one file set per
    micro-batch — after thousands of batches the file count, not the
    byte count, dominates scan planning time). Rewrites the store to
    `target_partitions` files via a staging directory + atomic rename
    (readers never see a half-written store); optional in-partition
    sort adds min/max-pruning order the same way compact_partitions
    does for the date-partitioned table. Returns the file count before
    compaction. Run from OP-ST7-style periodic maintenance, between
    micro-batches (foreachBatch sinks tolerate the swap because every
    batch re-lists the store; the swap itself is the crash-recoverable
    aside-rename sequence — see swap_store — so a kill mid-compaction
    never loses the store). A store that does not exist yet, or exists
    with no data files (a maintenance schedule firing before the first
    batch ever appended — e.g. a rejects sink that never rejected), is
    a no-op returning 0 rather than a schema-inference crash."""
    if not _fs_has_data_files(path):
        return 0
    df = spark.read.parquet(path)
    n_before = df.inputFiles().__len__()
    out = df.repartition(target_partitions)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    tmp = path.rstrip("/") + "._compact_tmp"
    out.write.mode("overwrite").option("compression", codec).parquet(tmp)
    swap_store(path, tmp)
    return n_before


def vacuum_store_artifacts(root: str, live_names: list[str] | None = None) -> list[str]:
    """Remove leftover swap/compaction artifacts under `root`: the
    `._staging_*` / `._compact_tmp` / `._old` sibling directories that
    an unclean stop can strand next to their stores. Safe by
    construction: an `._old` dir is only deleted when its live store
    EXISTS (when the live dir is missing, the artifact is the store's
    sole copy — recover_store() promotes it instead, and this function
    leaves it alone); staging/compact temps are always disposable
    because swap_store only ever renames a FULLY-written staging dir
    into place. Run from OP-ST7-style periodic maintenance alongside
    compaction. Returns the paths removed."""
    fs, jroot, jvm = _jfs(root)
    if not fs.exists(jroot):
        return []
    removed = []
    for st in fs.listStatus(jroot):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        base, sep, suffix = name.partition("._")
        if not sep:
            continue
        live = f"{root.rstrip('/')}/{base}"
        path = f"{root.rstrip('/')}/{name}"
        if suffix.startswith("staging") or suffix == "compact_tmp":
            _fs_delete(path)
            removed.append(path)
        elif suffix == "old" and _fs_exists(live):
            _fs_delete(path)
            removed.append(path)
    return removed
