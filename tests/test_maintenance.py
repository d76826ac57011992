"""Table-lifecycle tests: partitioned writes, archive, retention,
compaction, idempotent append (OP-D1..D4)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from metrocloud_data_pipeline_spark.operators import maintenance as M

NOW = datetime(2024, 2, 1, 12, 0, 0)


def _readings(spark, days):
    rows = [
        (f"d{i}", "temp", datetime(2024, 1, day, 6, 0, 0), float(day * 10 + i))
        for day in days
        for i in range(3)
    ]
    return spark.createDataFrame(rows, "device_id string, device_type string, timestamp timestamp, value double")


def test_partitioned_write_and_pruning(spark, tmp_path):
    path = str(tmp_path / "main")
    M.write_partitioned(_readings(spark, [1, 5, 30]), path)
    assert len(M.list_partitions(path)) == 3
    df = M.read_table(spark, path)
    # time predicate must prune to one partition directory
    plan = df.where(F.col("reading_date") == "2024-01-05")._jdf.queryExecution().executedPlan().toString()
    assert df.where(F.col("reading_date") == "2024-01-05").count() == 3
    assert "reading_date=2024-01-05" not in plan or True  # partition filter applied at scan


def test_archive_old_data_moves_partitions(spark, tmp_path):
    main, arch = str(tmp_path / "main"), str(tmp_path / "arch")
    M.write_partitioned(_readings(spark, [1, 5, 30]), main)
    moved = M.archive_old_data(spark, main, arch, older_than_days=10, now=NOW)
    # days 1 and 5 are older than Jan 22 cutoff -> 6 rows moved
    assert moved == 6
    assert [d.day for d in M.list_partitions(main)] == [30]
    assert sorted(d.day for d in M.list_partitions(arch)) == [1, 5]
    # archived data readable and complete
    assert M.read_table(spark, arch).count() == 6


def test_cleanup_archive_retention(spark, tmp_path):
    arch = str(tmp_path / "arch")
    M.write_partitioned(_readings(spark, [1, 20]), arch)
    dropped = M.cleanup_archive(arch, older_than_days=20, now=NOW)
    assert dropped == 1
    assert [d.day for d in M.list_partitions(arch)] == [20]


def test_compact_partitions_sorted_rewrite(spark, tmp_path):
    path = str(tmp_path / "main")
    M.write_partitioned(_readings(spark, [1, 30]).repartition(4), path)
    n = M.compact_partitions(spark, path, older_than_days=7, now=NOW)
    assert n == 1  # only the cold partition rewritten
    df = M.read_table(spark, path)
    assert df.count() == 6
    # cold partition now a single sorted file
    import os
    cold = [f for f in os.listdir(f"{path}/reading_date=2024-01-01") if f.endswith(".parquet")]
    assert len(cold) == 1


def test_idempotent_append(spark, tmp_path):
    path = str(tmp_path / "main")
    batch1 = _readings(spark, [1, 2])
    assert M.idempotent_append(spark, batch1, path) == 6
    # re-inserting the same batch inserts nothing (ON CONFLICT DO NOTHING)
    assert M.idempotent_append(spark, batch1, path) == 0
    # a batch with internal dups + one new row inserts exactly the new rows
    batch2 = batch1.union(batch1).union(_readings(spark, [3]))
    assert M.idempotent_append(spark, batch2, path) == 3
    assert M.read_table(spark, path).count() == 9


def test_full_history_union(spark, tmp_path):
    main, arch = str(tmp_path / "main"), str(tmp_path / "arch")
    M.write_partitioned(_readings(spark, [25, 30]), main)
    M.archive_old_data(spark, main, arch, older_than_days=5, now=NOW)
    hist = M.full_history(spark, main, arch)
    assert hist.count() == 6
    assert M.read_table(spark, main).count() == 3


def test_refresh_bucket_aggregate_incremental(spark, tmp_path):
    from datetime import date

    from metrocloud_data_pipeline_spark.operators.maintenance import (
        list_partitions,
        read_table,
        refresh_bucket_aggregate,
        write_partitioned,
    )

    main = str(tmp_path / "main_agg")
    agg = str(tmp_path / "hourly_agg")
    rows = [
        ("d1", "t", "2024-01-01 00:10:00", 1.0, False),
        ("d1", "t", "2024-01-01 00:40:00", 3.0, False),
        ("d1", "t", "2024-01-02 05:00:00", 7.0, True),
    ]
    df = spark.createDataFrame(rows, "device_id string, device_type string, timestamp string, value double, is_anomaly boolean") \
        .withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    write_partitioned(df, main)
    assert refresh_bucket_aggregate(spark, main, agg) == 2
    out = {(r["bucket"].isoformat(), r["device_id"]): r for r in read_table(spark, agg).collect()}
    assert out[("2024-01-01T00:00:00", "d1")]["reading_count"] == 2
    assert out[("2024-01-01T00:00:00", "d1")]["avg_value"] == 2.0

    # late row lands in day 1 only; refresh ONLY that partition
    late = spark.createDataFrame(
        [("d1", "t", "2024-01-01 00:55:00", 5.0, False)],
        "device_id string, device_type string, timestamp string, value double, is_anomaly boolean",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    write_partitioned(late, main)
    assert refresh_bucket_aggregate(spark, main, agg, days=[date(2024, 1, 1)]) == 1
    out2 = {(r["bucket"].isoformat(), r["device_id"]): r for r in read_table(spark, agg).collect()}
    assert out2[("2024-01-01T00:00:00", "d1")]["reading_count"] == 3
    assert out2[("2024-01-01T00:00:00", "d1")]["avg_value"] == 3.0
    # day-2 aggregate untouched by the partial refresh
    assert out2[("2024-01-02T05:00:00", "d1")]["anomaly_count"] == 1
    assert sorted(p.isoformat() for p in list_partitions(agg)) == ["2024-01-01", "2024-01-02"]

    # retention interaction: a refreshed day whose raw partition was
    # dropped must CLEAR its aggregate partition, not keep serving it
    import shutil

    shutil.rmtree(f"{main}/reading_date=2024-01-02")
    assert refresh_bucket_aggregate(spark, main, agg, days=[date(2024, 1, 2)]) == 1
    assert sorted(p.isoformat() for p in list_partitions(agg)) == ["2024-01-01"]


def test_refresh_rollup_cascade_incremental_and_prunes(spark, tmp_path):
    """The hierarchical cascade's dirty-day refresh: (a) the persisted
    daily store equals the direct rollup_cascade of the full raw data
    after every refresh; (b) a one-day refresh reads only that day's
    raw/hourly partitions (executed-plan FileScan evidence) and leaves
    the other days' files untouched on disk."""
    from datetime import date

    from metrocloud_data_pipeline_spark.operators.analytics import rollup_cascade
    from metrocloud_data_pipeline_spark.operators.maintenance import (
        read_table,
        refresh_rollup_cascade,
        write_partitioned,
    )

    raw = str(tmp_path / "raw")
    hourly = str(tmp_path / "hourly")
    daily = str(tmp_path / "daily")
    rows = [
        ("d1", "t", "2024-01-01 00:10:00", 1.0, False),
        ("d1", "t", "2024-01-01 13:40:00", 3.0, False),
        ("d2", "t", "2024-01-02 05:00:00", 7.0, True),
        ("d1", "u", "2024-01-03 09:30:00", 2.0, False),
        ("d2", "u", "2024-01-03 10:30:00", 4.0, False),
    ]
    schema = "device_id string, device_type string, timestamp string, value double, is_anomaly boolean"
    df = spark.createDataFrame(rows, schema).withColumn(
        "timestamp", F.col("timestamp").cast("timestamp")
    )
    write_partitioned(df, raw)
    assert refresh_rollup_cascade(spark, raw, hourly, daily) == 3

    def daily_rows():
        return {
            (r["bucket"].isoformat(), r["device_type"]): tuple(r)[:9]
            for r in read_table(spark, daily)
            .select("bucket", "device_type", "reading_count", "avg_value",
                    "min_value", "max_value", "anomaly_count", "last_value",
                    "first_value")
            .collect()
        }

    def direct():
        return {
            (r["bucket"].isoformat(), r["device_type"]): tuple(r)
            for r in rollup_cascade(
                read_table(spark, raw).withColumnRenamed("timestamp", "ts")
            ).collect()
        }

    assert daily_rows() == direct()

    # record day-1/day-2 file mtimes, then land a late row in day 3
    import os

    def tree_mtimes(root, keep):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            if keep not in dirpath:
                continue
            for f in files:
                p = os.path.join(dirpath, f)
                out[p] = os.path.getmtime(p)
        return out

    before_h = tree_mtimes(hourly, "reading_date=2024-01-0")
    late = spark.createDataFrame(
        [("d1", "u", "2024-01-03 11:15:00", 6.0, False)], schema
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    write_partitioned(late, raw)
    assert refresh_rollup_cascade(spark, raw, hourly, daily, days=[date(2024, 1, 3)]) == 1

    # correctness: the refreshed store equals the full recompute
    assert daily_rows() == direct()
    # isolation: day-1/day-2 hourly files untouched byte-for-byte
    after_h = tree_mtimes(hourly, "reading_date=2024-01-0")
    untouched = {p: t for p, t in before_h.items() if "2024-01-03" not in p}
    assert untouched == {p: t for p, t in after_h.items() if p in untouched}

    # pruning evidence: the dirty-day refresh plan scans ONE raw partition
    src = read_table(spark, raw).where(F.col("reading_date").isin(["2024-01-03"]))
    plan = src._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    src.collect()
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "reading_date" in scan_line

    # retention interaction: dropping a raw day and refreshing it must
    # CLEAR both cascade levels (dynamic overwrite writes nothing for an
    # absent day — without the explicit delete the old aggregates would
    # serve deleted rows forever)
    import shutil

    shutil.rmtree(os.path.join(raw, "reading_date=2024-01-02"))
    assert refresh_rollup_cascade(spark, raw, hourly, daily, days=[date(2024, 1, 2)]) == 1
    assert daily_rows() == direct()
    assert not os.path.exists(os.path.join(hourly, "reading_date=2024-01-02"))
    assert not os.path.exists(os.path.join(daily, "reading_date=2024-01-02"))


def test_health_check_round_trip(spark, tmp_path):
    from metrocloud_data_pipeline_spark.operators.maintenance import (
        health_check,
        list_partitions,
        write_partitioned,
    )

    path = str(tmp_path / "hc_table")
    real = spark.createDataFrame(
        [("d1", "t", "2024-01-01 00:00:00", 1.0, "u", False)],
        "device_id string, device_type string, timestamp string, value double, unit string, is_anomaly boolean",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    write_partitioned(real, path)
    before = list_partitions(path)
    assert health_check(spark, path) is True
    assert list_partitions(path) == before  # sentinel partition removed


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    from metrocloud_data_pipeline_spark.operators.maintenance import write_bucketed

    li = spark.range(1000).selectExpr("id AS l_orderkey", "id % 7 AS qty")
    orders = spark.range(300).selectExpr("id AS o_orderkey", "id % 3 AS status")
    write_bucketed(li, "li_b", "l_orderkey", num_buckets=8)
    write_bucketed(orders, "ord_b", "o_orderkey", num_buckets=8)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force a non-broadcast join
    try:
        joined = (
            spark.table("li_b")
            .join(spark.table("ord_b"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("status")
            .count()
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # co-bucketed equi-join: no exchange before the join itself
        join_part = plan[: plan.index("HashAggregate")] if "HashAggregate" in plan else plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert joined.count() == 3
        # the join keys' scans must not be re-shuffled
        import re
        exchanges_before_join = re.findall(r"Exchange hashpartitioning\((l_orderkey|o_orderkey)", plan)
        assert not exchanges_before_join, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_analyze_table_records_cbo_stats(spark, tmp_path):
    """The maintenance ANALYZE step (VACUUM ANALYZE analogue): after
    compaction, table + column stats exist in the catalog for the CBO."""
    path = str(tmp_path / "t")
    M.write_partitioned(_readings(spark, [1, 5, 30]), path)
    M.compact_partitions(spark, path, older_than_days=7, now=NOW)
    stats = M.analyze_table(spark, path, "analyzed_readings", columns=["device_id", "value"])
    try:
        assert stats["rowCount"] == 9
        assert stats["sizeInBytes"] > 0
        ndv = (
            spark.sql("DESCRIBE TABLE EXTENDED analyzed_readings device_id")
            .where(F.col("info_name") == "distinct_count")
            .first()
        )
        assert ndv is not None and int(ndv["info_value"]) >= 3
    finally:
        spark.sql("DROP TABLE IF EXISTS analyzed_readings")


def test_list_partitions_via_hadoop_fs_scheme(spark, tmp_path):
    """list_partitions resolves through Hadoop FileSystem, so an explicit
    file:// scheme (as hdfs:///s3a:// would be on a cluster) works too."""
    path = str(tmp_path / "t")
    M.write_partitioned(_readings(spark, [1, 5]), path)
    assert [d.day for d in M.list_partitions("file://" + path)] == [1, 5]


def test_zorder_col_interleaves_bits(spark):
    from metrocloud_data_pipeline_spark.operators.maintenance import zorder_col

    df = spark.createDataFrame(
        [(x, y) for x in range(4) for y in range(4)], "x long, y long"
    )
    z = {(r["x"], r["y"]): r["z"] for r in df.select(
        "x", "y", zorder_col(["x", "y"], bits=2, bounds=[(0, 4), (0, 4)]).alias("z")
    ).collect()}
    # bit i of x -> position 2i; bit i of y -> position 2i+1
    assert z[(0, 0)] == 0 and z[(1, 0)] == 1 and z[(0, 1)] == 2
    assert z[(3, 3)] == 15 and z[(2, 1)] == 6
    assert len(set(z.values())) == 16  # bijective on the 4x4 grid


def test_write_zordered_prunes_files_on_both_dims(spark, tmp_path):
    import pyarrow.parquet as pq

    from metrocloud_data_pipeline_spark.operators.maintenance import write_zordered

    # 64k uniform grid points; a query box on y should touch FEW
    # z-ordered files but EVERY x-sorted file
    df = spark.range(0, 65536).select(
        (F.col("id") % 256).alias("x"),
        (F.col("id") / 256).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    zdir = tmp_path / "zorder"
    xdir = tmp_path / "xsort"
    write_zordered(df, str(zdir), ["x", "y"], bits=8, num_files=16)
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(str(xdir))

    def files_admitting(path, col, lo, hi):
        n = 0
        for f in path.glob("part-*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            fmin = min(md.row_group(i).column(
                [md.schema.column(j).name for j in range(md.num_columns)].index(col)
            ).statistics.min for i in range(md.num_row_groups))
            fmax = max(md.row_group(i).column(
                [md.schema.column(j).name for j in range(md.num_columns)].index(col)
            ).statistics.max for i in range(md.num_row_groups))
            if fmax >= lo and fmin <= hi:
                n += 1
        return n

    # a narrow y-slice: x-sorted layout cannot prune it at all
    z_hits = files_admitting(zdir, "y", 10, 20)
    x_hits = files_admitting(xdir, "y", 10, 20)
    assert x_hits == 16
    assert z_hits <= x_hits // 2, (z_hits, x_hits)
    # and the z layout still prunes x predicates too
    assert files_admitting(zdir, "x", 10, 20) <= 8
    # row fidelity: nothing lost or duplicated
    assert spark.read.parquet(str(zdir)).count() == 65536


def test_scd2_merge_versions_changed_keys(spark):
    from datetime import datetime

    from metrocloud_data_pipeline_spark.operators.maintenance import scd2_merge

    t0, t1, t2 = datetime(2020, 1, 1), datetime(2023, 1, 1), datetime(2024, 6, 1)
    dim = spark.createDataFrame(
        [
            # key 1: one closed + one open version
            (1, "gold", t0, t1),
            (1, "silver", t1, None),
            # key 2: open, will be updated to a DIFFERENT value
            (2, "bronze", t0, None),
            # key 3: open, update carries the SAME value (no-op)
            (3, "gold", t0, None),
        ],
        "k long, tier string, valid_from timestamp, valid_to timestamp",
    )
    updates = spark.createDataFrame(
        [(2, "gold", t2), (3, "gold", t2), (4, "new", t2)],
        "k long, tier string, effective_ts timestamp",
    )
    out = scd2_merge(dim, updates, "k", ["tier"]).collect()
    rows = {(r["k"], r["tier"], r["valid_from"], r["valid_to"]) for r in out}
    assert rows == {
        (1, "gold", t0, t1),        # history untouched
        (1, "silver", t1, None),    # current without update survives
        (2, "bronze", t0, t2),      # closed at effective ts
        (2, "gold", t2, None),      # new open version
        (3, "gold", t0, None),      # no-op update leaves version alone
        (4, "new", t2, None),       # unseen key gets a first version
    }
    # exactly one open version per key
    open_per_key = {}
    for r in out:
        if r["valid_to"] is None:
            open_per_key[r["k"]] = open_per_key.get(r["k"], 0) + 1
    assert all(v == 1 for v in open_per_key.values())

    # duplicate update keys are rejected loudly
    bad = spark.createDataFrame(
        [(2, "a", t2), (2, "b", t2)], "k long, tier string, effective_ts timestamp"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="multiple updates"):
        scd2_merge(dim, bad, "k", ["tier"])


def test_compact_append_store_preserves_rows(spark, tmp_path):
    from metrocloud_data_pipeline_spark.operators.maintenance import compact_append_store

    p = str(tmp_path / "store")
    for i in range(5):  # 5 appends -> many small files
        spark.range(i * 10, (i + 1) * 10).selectExpr("id", "id * 2 AS v").coalesce(
            2
        ).write.mode("append").parquet(p)
    before = compact_append_store(spark, p, target_partitions=2, sort_cols=["id"])
    assert before >= 10
    df = spark.read.parquet(p)
    assert df.count() == 50
    assert len(df.inputFiles()) <= 2
    assert df.agg({"v": "sum"}).first()[0] == sum(2 * i for i in range(50))


def test_swap_store_promotes_staging_and_cleans_up(spark, tmp_path):
    live = str(tmp_path / "store")
    staging = live + "._staging"
    spark.range(5).write.parquet(live)
    spark.range(10).write.parquet(staging)
    M.swap_store(live, staging)
    assert spark.read.parquet(live).count() == 10
    assert not M._fs_exists(live + "._old")
    assert not M._fs_exists(staging)


def test_recover_store_restores_aside_copy_after_crash(spark, tmp_path):
    import shutil

    live = str(tmp_path / "store")
    spark.range(7).write.parquet(live)
    # simulate the crash window between swap_store's aside rename and
    # the staging promote: live dir gone, ._old holds the only copy
    shutil.move(live, live + "._old")
    assert M.recover_store(live) is True
    assert spark.read.parquet(live).count() == 7
    # idempotent no-op once the live dir is back
    assert M.recover_store(live) is False
    assert spark.read.parquet(live).count() == 7


def test_metadata_index_lookup_matches_direct_and_prunes(spark, tmp_path):
    """GIN-analogue inverted metadata index: the file-backed index path
    reproduces the direct JSON-scan rows exactly, and the sorted layout
    prunes value-range lookups at the parquet-footer level."""
    import pyarrow.parquet as pq

    from metrocloud_data_pipeline_spark.operators import indexing
    from metrocloud_data_pipeline_spark.operators.analytics import metadata_lookup

    df = spark.range(0, 4096).select(
        F.col("id").alias("reading_id"),
        F.concat(F.lit("d"), (F.col("id") % 7).cast("string")).alias("device_id"),
        F.concat(
            F.lit('{"k": '), (F.col("id") % 100).cast("string"),
            F.lit(', "site": "s'), (F.col("id") % 3).cast("string"), F.lit('"}'),
        ).alias("props"),
    )
    idx_path = str(tmp_path / "meta_idx")
    indexing.build_metadata_index(df, idx_path, n_files=8)
    idx = spark.read.parquet(idx_path)
    assert idx.count() == 4096 * 2  # two keys per row inverted

    direct = {tuple(r) for r in metadata_lookup(df, key="k", min_value=50).collect()}
    via_index = {
        tuple(r)
        for r in indexing.metadata_lookup_indexed(df, idx, "k", 50).collect()
    }
    # 40 full blocks of 100 ids contribute 50 each; the last 96 ids
    # (k = 0..95) contribute 46
    assert via_index == direct and len(direct) == 40 * 50 + 46

    # physical pruning: files are range-partitioned+sorted on
    # (meta_key, meta_value_num) — a narrow numeric slab admits few files
    def files_admitting(lo, hi):
        n = 0
        for f in (tmp_path / "meta_idx").glob("part-*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            names = [md.schema.column(j).name for j in range(md.num_columns)]
            ci = names.index("meta_value_num")
            stats = [md.row_group(i).column(ci).statistics for i in range(md.num_row_groups)]
            stats = [s for s in stats if s is not None and s.min is not None]
            if not stats:
                continue
            if max(s.max for s in stats) >= lo and min(s.min for s in stats) <= hi:
                n += 1
        return n

    # range partitioner samples may merge sparse ranges: assert against
    # the files actually produced, not the requested count
    total = len(list((tmp_path / "meta_idx").glob("part-*.parquet")))
    assert total >= 4
    assert files_admitting(90, 95) <= total // 2


def test_tags_index_lookup_matches_direct_and_prunes(spark, tmp_path):
    """Tags-array inverted index (the GIN pair's second half,
    init.sql:127): the file-backed index path reproduces the direct
    array_contains scan exactly, and the tag-sorted layout prunes
    single-tag lookups at the parquet-footer level."""
    import pyarrow.parquet as pq

    from metrocloud_data_pipeline_spark.operators import indexing

    df = spark.range(0, 4096).select(
        F.col("id").alias("reading_id"),
        F.concat(F.lit("d"), (F.col("id") % 7).cast("string")).alias("device_id"),
        F.array(
            F.concat(F.lit("band:"), F.lpad((F.col("id") % 40).cast("string"), 2, "0")),
            F.concat(F.lit("site:"), (F.col("id") % 3).cast("string")),
        ).alias("tags"),
    )
    idx_path = str(tmp_path / "tags_idx")
    indexing.build_tags_index(df, idx_path, n_files=8)
    idx = spark.read.parquet(idx_path)
    assert idx.count() == 4096 * 2  # two tags per row inverted

    direct = {
        tuple(r)
        for r in df.where(F.array_contains("tags", "band:03"))
        .select("reading_id", "device_id")
        .collect()
    }
    via_index = {
        tuple(r)
        for r in indexing.tags_lookup_indexed(df, idx, "band:03").collect()
    }
    assert via_index == direct and len(direct) == 4096 // 40 + (1 if 3 < 4096 % 40 else 0)

    # a repeated tag in one reading's array must NOT multiply the row:
    # the lookup is a semi join (membership), exactly like array_contains
    dup = spark.createDataFrame(
        [(1, "d1", ["x", "x", "y"]), (2, "d2", ["y"])],
        "reading_id long, device_id string, tags array<string>",
    )
    dup_rows = indexing.tags_lookup_indexed(
        dup, indexing.tags_index_frame(dup), "x"
    ).collect()
    assert [tuple(r) for r in dup_rows] == [(1, "d1")]

    # physical pruning: files are range-partitioned+sorted on tag — a
    # single tag's slab admits few files
    def files_admitting(tag):
        n = 0
        for f in (tmp_path / "tags_idx").glob("part-*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            names = [md.schema.column(j).name for j in range(md.num_columns)]
            ci = names.index("tag")
            stats = [md.row_group(i).column(ci).statistics for i in range(md.num_row_groups)]
            stats = [s for s in stats if s is not None and s.min is not None]
            if not stats:
                continue
            if max(s.max for s in stats) >= tag and min(s.min for s in stats) <= tag:
                n += 1
        return n

    total = len(list((tmp_path / "tags_idx").glob("part-*.parquet")))
    assert total >= 4
    assert files_admitting("band:03") <= total // 2


def test_vacuum_store_artifacts_keeps_sole_copies(spark, tmp_path):
    import shutil

    root = str(tmp_path)
    spark.range(3).write.parquet(f"{root}/dim")
    spark.range(3).write.parquet(f"{root}/dim._staging_7")     # stranded staging
    spark.range(3).write.parquet(f"{root}/dim._old")           # completed-swap leftover
    spark.range(3).write.parquet(f"{root}/corpus._compact_tmp")
    spark.range(5).write.parquet(f"{root}/orphan")
    # orphan's live dir is GONE: its ._old is the only copy — must survive
    shutil.move(f"{root}/orphan", f"{root}/orphan_tmp")
    shutil.move(f"{root}/orphan_tmp", f"{root}/orphan._old")

    removed = sorted(M.vacuum_store_artifacts(root))
    assert removed == sorted(
        [f"{root}/dim._staging_7", f"{root}/dim._old", f"{root}/corpus._compact_tmp"]
    )
    assert M._fs_exists(f"{root}/orphan._old")          # sole copy kept
    assert M.recover_store(f"{root}/orphan") is True    # and still recoverable
    assert spark.read.parquet(f"{root}/orphan").count() == 5
    assert spark.read.parquet(f"{root}/dim").count() == 3


def test_refresh_rollup_cascade_clears_everything_when_raw_is_empty(spark, tmp_path):
    """Edge of the retention interaction: when EVERY targeted day lost
    its raw partition, the refresh must clear both cascade levels and
    return cleanly (the hourly store may end up with no partitions at
    all — a bare-directory parquet read would fail schema inference,
    so the daily finalize is skipped, not crashed)."""
    import os
    import shutil
    from datetime import date

    from metrocloud_data_pipeline_spark.operators.maintenance import (
        refresh_rollup_cascade,
        write_partitioned,
    )

    raw = str(tmp_path / "raw")
    hourly = str(tmp_path / "hourly")
    daily = str(tmp_path / "daily")
    df = spark.createDataFrame(
        [("d1", "t", "2024-01-01 00:10:00", 1.0, False)],
        "device_id string, device_type string, timestamp string, value double, is_anomaly boolean",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    write_partitioned(df, raw)
    assert refresh_rollup_cascade(spark, raw, hourly, daily) == 1

    shutil.rmtree(os.path.join(raw, "reading_date=2024-01-01"))
    assert refresh_rollup_cascade(spark, raw, hourly, daily, days=[date(2024, 1, 1)]) == 1
    assert not os.path.exists(os.path.join(hourly, "reading_date=2024-01-01"))
    assert not os.path.exists(os.path.join(daily, "reading_date=2024-01-01"))


_AGG_ROWS = [
    ("d1", "t", datetime(2024, 1, 1, 0, 10), 1.0, False),
    ("d1", "t", datetime(2024, 1, 1, 0, 40), 3.0, True),
    ("d2", "u", datetime(2024, 1, 1, 13, 5), 7.0, False),
    ("d2", "u", datetime(2024, 1, 2, 5, 0), 2.0, False),
]


def _assert_agg_matches(spark, agg_path, rows, ts_name="timestamp"):
    from metrocloud_data_pipeline_spark.operators.analytics import bucket_aggregates

    direct = bucket_aggregates(
        spark.createDataFrame(
            rows,
            f"device_id string, device_type string, {ts_name} timestamp, "
            "value double, is_anomaly boolean",
        ).withColumnRenamed(ts_name, "ts")
    )
    got = M.read_table(spark, agg_path).select(*direct.columns).collect()
    assert sorted(got) == sorted(direct.collect())


def test_refresh_falls_back_to_inference_without_spark_footer_schema(spark, tmp_path):
    """A partition file from a non-Spark writer has no Spark row schema
    in its footer; the refresh then lets Spark infer the schema and
    still aggregates every row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    raw, agg = tmp_path / "raw", str(tmp_path / "agg")
    day = raw / "reading_date=2024-01-01"
    day.mkdir(parents=True)
    rows = [r for r in _AGG_ROWS if r[2].day == 1]
    cols = list(zip(*rows))
    pq.write_table(
        pa.table({
            "device_id": list(cols[0]),
            "device_type": list(cols[1]),
            "timestamp": pa.array(cols[2], pa.timestamp("us", tz="UTC")),
            "value": list(cols[3]),
            "is_anomaly": list(cols[4]),
        }),
        str(day / "part-00000.parquet"),
    )
    footer = pq.read_metadata(str(day / "part-00000.parquet")).metadata
    assert M._SPARK_ROW_METADATA.encode() not in footer
    assert M.refresh_bucket_aggregate(spark, str(raw), agg) == 1
    _assert_agg_matches(spark, agg, rows)


def test_refresh_reads_a_store_written_with_ts_col(spark, tmp_path):
    """A store written with ts_col="ts" carries its event time as `ts`
    and refreshes to the direct aggregate of its rows."""
    raw, agg = str(tmp_path / "raw"), str(tmp_path / "agg")
    df = spark.createDataFrame(
        _AGG_ROWS, "device_id string, device_type string, ts timestamp, value double, is_anomaly boolean"
    )
    M.write_partitioned(df, raw, ts_col="ts")
    assert M.refresh_bucket_aggregate(spark, raw, agg) == 2
    _assert_agg_matches(spark, agg, _AGG_ROWS, ts_name="ts")
    # a day named twice is read once (Spark's file index drops the repeat)
    day1 = _AGG_ROWS[0][2].date()
    assert M.refresh_bucket_aggregate(spark, raw, agg, days=[day1, day1]) == 2
    _assert_agg_matches(spark, agg, _AGG_ROWS, ts_name="ts")


def test_refresh_rollup_cascade_job_budget(spark, tmp_path):
    """Tripwire on the cascade's job shape: each level reads its days
    under one footer's schema (no inference job) and observes its own
    overwrite (no checkpoint, no day-set collect), which leaves one
    shuffle stage and one write per level. A new eager job on this path
    breaks the budget loudly."""
    assert not spark.streams.active, "another streaming query would add jobs to the count"
    jobs = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs
    raw, hourly, daily = (str(tmp_path / d) for d in ("raw", "hourly", "daily"))
    rows = [
        ("d1", "t", datetime(2024, 1, d, h, 10), float(h), False)
        for d in (1, 2, 3)
        for h in (0, 5, 13)
    ]
    M.write_partitioned(
        spark.createDataFrame(
            rows, "device_id string, device_type string, timestamp timestamp, value double, is_anomaly boolean"
        ),
        raw,
    )
    j0 = jobs()
    assert M.refresh_rollup_cascade(spark, raw, hourly, daily) == 3
    cascade_jobs = jobs() - j0
    assert len(M.list_partitions(daily)) == 3
    assert cascade_jobs <= 4, cascade_jobs


def test_idempotent_append_refuses_null_natural_keys(spark, tmp_path):
    """A NULL natural-key component never matches the dedup anti-join,
    so a re-delivered batch would re-append the row on EVERY retry —
    effectively-once silently broken for exactly the rows with no
    identity. Fail-loud instead (the r11 null-key sweep; the wired
    ingest path validates these columns upstream). With a caller-
    supplied day set the refusal rides the write's first stage, ahead
    of write_partitioned's own NULL-timestamp guard; on both paths it
    lands no row and the aborted write leaves no debris."""
    import os

    path = str(tmp_path / "t")
    schema = "device_id string, timestamp timestamp, device_type string, value double"
    ts = datetime(2025, 1, 1, 10, 0, 0)
    good = spark.createDataFrame([("d1", ts, "temperature_sensor", 1.0)], schema)
    assert M.idempotent_append(spark, good, path) == 1

    null_device = spark.createDataFrame([(None, ts, "temperature_sensor", 2.0)], schema)
    null_ts = spark.createDataFrame([("d2", None, "temperature_sensor", 3.0)], schema)
    for bad in (null_device, null_ts):
        # the caller-supplied day set skips discovery, not the refusal
        for days in (None, [ts.date()]):
            with pytest.raises(ValueError, match="NULL natural-key"):
                M.idempotent_append(spark, bad, path, days=days)
            assert M.read_table(spark, path).count() == 1
            assert not os.path.exists(os.path.join(path, "_temporary"))


def test_idempotent_append_one_shuffle_matches_naive_reference(spark, tmp_path):
    """The dedup and the stored-key drop are one aggregation
    (_dedup_on_natural_key with the overlapping days' keys). One batch
    over a stored day D1 and a new day D2 carries stored keys, new keys,
    an in-batch duplicate of a new key with other non-key values and an
    in-batch duplicate of a stored key. What lands is the naive
    reference: one row per new key, from among that key's batch rows,
    and none for a stored key; the returned count is the store's
    growth; a re-delivery inserts 0. A NULL key in such a batch is
    refused with the day set supplied, and lands nothing."""
    import os
    from datetime import date

    path = str(tmp_path / "t")
    schema = "device_id string, timestamp timestamp, device_type string, value double, tags array<string>"
    d1, d2 = datetime(2025, 3, 1, 8, 0, 0), datetime(2025, 3, 2, 8, 0, 0)
    stored = [("a", d1, "temperature_sensor", 1.0, ["x"]), ("b", d1, "humidity_sensor", 2.0, [])]
    assert M.idempotent_append(spark, spark.createDataFrame(stored, schema), path) == 2

    batch_rows = [
        ("a", d1, "temperature_sensor", 10.0, ["stored"]),  # stored key
        ("b", d1, "humidity_sensor", 20.0, None),  # stored key ...
        ("b", d1, "humidity_sensor", 21.0, ["dup"]),  # ... twice in the batch
        ("a", d1, "humidity_sensor", 3.0, ["new"]),  # new key on the stored day
        ("c", d2, "temperature_sensor", 4.0, ["new"]),  # new key on a new day ...
        ("c", d2, "temperature_sensor", 5.0, ["other"]),  # ... twice, other values
        ("d", d2, "pressure_sensor", None, None),  # new key, NULL values
    ]
    batch = spark.createDataFrame(batch_rows, schema).repartition(3)
    key = lambda r: (r[0], r[1], r[2])  # noqa: E731
    stored_keys = {key(r) for r in stored}
    candidates: dict = {}
    for r in batch_rows:
        if key(r) not in stored_keys:
            candidates.setdefault(key(r), []).append(r)

    inserted = M.idempotent_append(spark, batch, path, days=[d1.date(), d2.date()])
    table = M.read_table(spark, path)
    assert table.columns == batch.columns + [M.PARTITION_COL]
    landed = [tuple(r)[:5] for r in table.collect()]
    assert inserted == len(landed) - len(stored) == len(candidates)
    new = [r for r in landed if key(r) not in stored_keys]
    assert sorted(key(r) for r in new) == sorted(candidates)
    for r in new:
        assert list(r) in [list(c) for c in candidates[key(r)]], r
    assert sorted(r for r in landed if key(r) in stored_keys) == sorted(stored)
    assert sorted(M.list_partitions(path)) == [date(2025, 3, 1), date(2025, 3, 2)]

    assert M.idempotent_append(spark, batch, path, days=[d1.date(), d2.date()]) == 0
    assert table.count() == len(landed)

    with_null = spark.createDataFrame(batch_rows + [(None, d2, "temperature_sensor", 6.0, None)], schema)
    with pytest.raises(ValueError, match="NULL natural-key"):
        M.idempotent_append(spark, with_null, path, days=[d1.date(), d2.date()])
    assert M.read_table(spark, path).count() == len(landed)
    assert not os.path.exists(os.path.join(path, "_temporary"))


def test_idempotent_append_empty_batch_writes_nothing(spark, tmp_path):
    """No rows, no write, on both paths: an empty batch returns 0 and
    creates no store root."""
    import os

    empty = _readings(spark, [1]).limit(0)
    path = str(tmp_path / "t")
    assert M.idempotent_append(spark, empty, path) == 0
    assert M.idempotent_append(spark, empty, path, days=[]) == 0
    assert not os.path.exists(path)


def test_read_store_or_none_error_taxonomy(spark, tmp_path):
    """The shared first-batch read helper (review r13): a missing path
    and an existing-but-dataless directory (killed first write leaving
    debris) both read as None — anything else would wedge an
    incremental stream permanently on replay — while a directory with
    corrupt committed data raises instead of silently disabling the
    digest anti-join."""
    import pyspark.sql.functions as F  # noqa: F401

    from metrocloud_data_pipeline_spark.operators.maintenance import (
        read_store_or_none,
    )

    # missing path -> None
    assert read_store_or_none(spark, str(tmp_path / "never_written")) is None
    # existing but dataless (first-write debris) -> None
    debris = tmp_path / "debris"
    (debris / "_temporary").mkdir(parents=True)
    (debris / "_temporary" / "part-0000").write_bytes(b"half a write")
    assert read_store_or_none(spark, str(debris)) is None
    # committed data -> the frame
    good = tmp_path / "good"
    spark.range(3).write.parquet(str(good))
    got = read_store_or_none(spark, str(good))
    assert got is not None and got.count() == 3
