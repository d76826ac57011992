"""Parquet star-schema source (the driver's /root/testdata tables).

`events` plays the reference's `sensor_readings` hypertable
(user_id<->device_id, event_type<->device_type, ts, value,
props<->device_metadata JSON) per FIXTURES.md §4; TPC-H-ish tables
exercise the join/aggregate surface at bench scale.

At cluster scale these reads are partition-pruned, filter-pushed parquet
scans. Nothing here materializes or caches data: every `load` plans a
fresh scan, and every action re-reads the files.

What `load` does keep is catalog metadata, the table schema a metastore
would hand a production engine. Inferring a parquet schema costs a
one-task Spark job that reads a footer, and the query builders reach
`load` hundreds of times over the same few files. So the first `load`
of a table FILE SNAPSHOT (absolute path, st_mtime_ns, st_size, st_ino)
infers the schema and records it; later loads of the same snapshot
pass it to the reader, which then starts no job. A rewritten file is a
new snapshot and is inferred again. Paths that are not local regular
files (remote URIs, directories whose part files can change under an
unchanged directory stat) are inferred on every load.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that should always broadcast in joins.
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})


# Per session, the resolved parquet schema of each table file snapshot
# (see the module docstring): metadata only, never rows. A new session,
# which may infer under other reader settings, starts with an empty map.
_SCHEMAS: weakref.WeakKeyDictionary[SparkSession, dict[tuple, StructType]] = (
    weakref.WeakKeyDictionary()
)


def _snapshot(path: str) -> tuple | None:
    """The snapshot key of a local regular file, else None."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (os.path.abspath(path), st.st_mtime_ns, st.st_size, st.st_ino)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table as a DataFrame (lazy parquet scan).

    The file's parquet schema is inferred on the first load of its
    snapshot in this session and read from `_SCHEMAS` afterwards, so
    only that first load starts a Spark job. The recorded schema is the
    raw read schema (nanos still as long, NTZ still NTZ); the
    normalizations below run on every load."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _snapshot(path)
    schemas = _SCHEMAS.setdefault(spark, {})
    schema = schemas.get(key)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    if key is not None and schema is None:
        schemas[key] = df.schema
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # TIMESTAMP(NANOS) surfaced as long nanos: truncate to micros
        # (DuckDB's ns->us conversion also truncates).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # timestamp[us] written without a timezone reads as TIMESTAMP_NTZ,
    # which unix_micros/date filters reject or misplan. The session TZ
    # is pinned to UTC (session.tune), so casting is an exact
    # relabeling. Applied to every table: the round-3 testdata drift hit
    # events.ts, but orders/lineitem date columns can drift identically.
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql access."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
