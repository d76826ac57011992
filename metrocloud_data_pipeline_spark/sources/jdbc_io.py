"""JDBC sink/source builders — the reference's actual storage tier is
Postgres/TimescaleDB reached over a database URL (database.py:275-346
batch insert with ON CONFLICT DO NOTHING, page_size=2000;
database.py:31-60 connection setup).

This engine's canonical sink is date-partitioned parquet (OP-S4 maps
there — see operators/maintenance.py), but a deployment that keeps the
reference's serving database plugs in here: `df.write.jdbc` fans the
write out across executors (one connection per partition — the
distributed analogue of the reference's single psycopg2 connection with
2000-row pages). The JDBC driver jar is a deployment dependency, so
construction is gated behind a capability check that raises a clear
error in environments without it (this container has no JDBC drivers —
same gating pattern as avro_io).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.maintenance import _dedup_on_natural_key

POSTGRES_DRIVER = "org.postgresql.Driver"


def _require_jdbc_driver(spark: SparkSession, driver: str) -> None:
    try:
        spark._jvm.java.lang.Class.forName(driver)
    except Exception as ex:
        raise RuntimeError(
            f"JDBC driver {driver!r} is not on the Spark classpath; start "
            "Spark with --jars <driver>.jar (e.g. postgresql-*.jar) to use "
            "the JDBC sink/source"
        ) from ex


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    driver: str = POSTGRES_DRIVER,
    batch_size: int = 2000,
    num_partitions: int | None = None,
    dedup_keys: tuple[str, ...] | None = None,
) -> None:
    """Batch insert to a JDBC table (database.py:275-346).

    batch_size mirrors the reference's execute_values page_size=2000.
    Spark's JDBC writer has no ON CONFLICT clause, so idempotence is
    achieved the engine's way: pass dedup_keys to dedup the batch on
    its natural key before writing, through the guarded dedup it shares
    with maintenance.idempotent_append, which refuses a NULL key
    component (dropping already-stored keys, the other half of OP-D4,
    happens in maintenance.idempotent_append for parquet; against a
    live database the table's own PRIMARY KEY constraint is the final
    arbiter). num_partitions caps writer concurrency — at cluster scale
    an unthrottled 1000-task write is a connection storm on the
    database, so size it to the pool the DBA gave you."""
    _require_jdbc_driver(df.sparkSession, driver)
    if dedup_keys:
        df = _dedup_on_natural_key(df, tuple(dedup_keys))
    if num_partitions is not None and df.rdd.getNumPartitions() > num_partitions:
        df = df.coalesce(num_partitions)
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .option("batchsize", batch_size)
        .option("isolationLevel", "READ_COMMITTED")
        .mode(mode)
        .save()
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str = POSTGRES_DRIVER,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int = 8,
) -> DataFrame:
    """Parallel JDBC read (the query side of database.py's serving tier).

    With partition_column + bounds, Spark issues num_partitions range
    queries concurrently instead of one full-table cursor — required for
    any table that doesn't fit one executor's scan budget. `table` may
    be a subquery alias ("(SELECT ...) t") for predicate pushdown into
    the database."""
    _require_jdbc_driver(spark, driver)
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()
