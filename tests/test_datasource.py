"""Spark 4 Python DataSource tests: format('n5') scan + source-level region
pruning."""

from __future__ import annotations

import os

import numpy as np

from tests.test_n5 import FIXTURE, FIXTURE_DS, fixture_volume_xyz


def test_n5_format_scan(spark):
    from n5_dask_spark.sources.n5.datasource import register_n5_source

    register_n5_source(spark)
    df = (
        spark.read.format("n5")
        .option("path", FIXTURE)
        .option("dataset", FIXTURE_DS)
        .load()
    )
    rows = df.collect()
    assert len(rows) == 4
    by_grid = {(r.gx, r.gy, r.gz): r for r in rows}
    assert by_grid[(1, 1, 0)].shape_zyx == [27, 98, 58]
    arr = np.frombuffer(bytes(by_grid[(0, 0, 0)].data), dtype="u1").reshape(27, 128, 128)
    golden = fixture_volume_xyz().transpose(2, 1, 0)  # zyx
    np.testing.assert_array_equal(arr, golden[:27, :128, :128])


def test_n5_format_region_pruning(spark):
    from n5_dask_spark.sources.n5.datasource import register_n5_source

    register_n5_source(spark)
    df = (
        spark.read.format("n5")
        .option("path", FIXTURE)
        .option("dataset", FIXTURE_DS)
        .option("start", "0,0,0")
        .option("end", "64,64,27")
        .load()
    )
    assert df.rdd.getNumPartitions() == 1  # source planned exactly one block
    rows = df.collect()
    assert [(r.gx, r.gy, r.gz) for r in rows] == [(0, 0, 0)]


def test_n5_format_sql_over_blocks(spark):
    from n5_dask_spark.sources.n5.datasource import register_n5_source

    register_n5_source(spark)
    (
        spark.read.format("n5")
        .option("path", FIXTURE)
        .option("dataset", FIXTURE_DS)
        .load()
        .createOrReplaceTempView("n5_blocks")
    )
    got = spark.sql(
        "SELECT gx, gy, length(data) AS n_bytes FROM n5_blocks ORDER BY gx, gy"
    ).collect()
    assert [r.n_bytes for r in got] == [442368, 442368 * 98 // 128, 442368 * 58 // 128, 27 * 98 * 58]


def test_n5_format_write_roundtrip(spark):
    """df.write.format('n5'): read fixture blocks via the source, write them
    to a new container via the sink, byte-compare the volumes."""
    from n5_dask_spark.sources.n5.datasource import register_n5_source
    from n5_dask_spark.sources.n5.metadata import read_attributes, write_attributes
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import temp_container

    register_n5_source(spark)
    blocks = (
        spark.read.format("n5").option("path", FIXTURE).option("dataset", FIXTURE_DS).load()
    )
    out = temp_container()
    write_attributes(out, "copy/s0", read_attributes(FIXTURE, FIXTURE_DS))
    (
        blocks.write.format("n5")
        .option("path", out)
        .option("dataset", "copy/s0")
        .mode("append")
        .save()
    )
    np.testing.assert_array_equal(
        read_full(spark, out, "copy/s0"), fixture_volume_xyz()
    )


def test_n5_format_write_validates_schema(spark):
    import pytest

    from n5_dask_spark.sources.n5.datasource import register_n5_source

    register_n5_source(spark)
    bad = spark.range(3).selectExpr("CAST(id AS INT) AS gx")
    with pytest.raises(Exception, match="missing columns"):
        (
            bad.write.format("n5").option("path", "/tmp/x.n5").option("dataset", "a/s0")
            .mode("append").save()
        )


def _gx_row_container(tmp_path, n: int = 40) -> str:
    """A raw uint8 dataset of ``n`` equal-sized 32-byte block files on the gx
    axis; returns the container path (dataset ``d/s0``)."""
    import json

    from n5_dask_spark.sources.n5.codec import encode_block

    payload = encode_block(np.zeros((4, 4, 1), np.uint8), "uint8", {"type": "raw"})
    assert len(payload) == 32

    c = tmp_path / "many.n5"
    ds = c / "d" / "s0"
    ds.mkdir(parents=True)
    (ds / "attributes.json").write_text(json.dumps({
        "dimensions": [n, 4, 4], "blockSize": [1, 4, 4],
        "dataType": "uint8", "compression": {"type": "raw"},
    }))
    for gx in range(n):
        p = ds / str(gx) / "0"
        p.mkdir(parents=True)
        (p / "0").write_bytes(payload)
    return str(c)


def test_partition_packing_bounds_task_count(spark, tmp_path):
    """partitions() packs block files with Spark's file-split rule
    (maxSplitBytes from maxPartitionBytes, openCostInBytes and the
    parallelism; next-fit in grid order): every block covered exactly
    once, in grid order, and as many partitions as Spark's own
    FilePartition split of the same files (the binaryFile scan)."""
    from n5_dask_spark.sources.n5.datasource import N5Reader, ScanSplit

    c = _gx_row_container(tmp_path)
    opts = {"path": c, "dataset": "d/s0"}
    parts = N5Reader(opts, ScanSplit.from_session(spark)).partitions()
    covered = [g for part in parts for (_p, g) in part.blocks]
    assert covered == [(gx, 0, 0) for gx in range(40)]  # all blocks, grid order
    files = spark.read.format("binaryFile").load(os.path.join(c, "d", "s0", "*", "*", "*"))
    assert files.count() == 40
    assert len(parts) == files.rdd.getNumPartitions()

    # the rule itself: 40 x (32 B + 4 MiB open cost) over 4 cores is 10
    # blocks a task; at 64 cores the open cost keeps one block per task
    assert [len(p.blocks) for p in N5Reader(opts, ScanSplit(4)).partitions()] == [10] * 4
    assert [len(p.blocks) for p in N5Reader(opts, ScanSplit(64)).partitions()] == [1] * 40
    # maxPartitionBytes caps a task below the per-core share
    capped = ScanSplit(1, max_partition_bytes=3 * (4 << 20), open_cost_bytes=4 << 20)
    assert [len(p.blocks) for p in N5Reader(opts, capped).partitions()] == [3] * 13 + [1]


def test_registered_source_plans_by_session_parallelism(spark, tmp_path, monkeypatch):
    """The planner process has no active session and, on a cluster, no
    SPARK_GRAFT_CPUS: register_n5_source carries the driver's parallelism
    and split confs to it, so the plan follows the session, not the
    fallback of 32."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    from n5_dask_spark.sources.n5.datasource import register_n5_source

    c = _gx_row_container(tmp_path)
    par = spark.sparkContext.defaultParallelism
    source = register_n5_source(spark)
    assert source.split.parallelism == par
    assert source.split.source == "registration"
    # "134217728" (set by get_spark) and Spark's own "4MB" default
    assert source.split.max_partition_bytes == 128 << 20
    assert source.split.open_cost_bytes == 4 << 20
    reader = source({"path": c, "dataset": "d/s0"}).reader(None)
    assert len(reader.partitions()) == min(par, 40)
    df = spark.read.format("n5").option("path", c).option("dataset", "d/s0").load()
    assert df.rdd.getNumPartitions() == min(par, 40)
    assert df.count() == 40


def test_plan_decision_is_logged(tmp_path, monkeypatch, caplog):
    """One DEBUG record per plan names the blocks, bytes, maxSplitBytes,
    partitions and where the parallelism came from; the plan is the same
    with the logger on or off."""
    import logging

    from n5_dask_spark.sources.n5.datasource import N5Reader

    c = _gx_row_container(tmp_path)
    opts = {"path": c, "dataset": "d/s0"}
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    with caplog.at_level(logging.INFO, logger="n5_dask_spark.sources.n5"):
        quiet = N5Reader(opts).partitions()
    assert caplog.records == []
    with caplog.at_level(logging.DEBUG, logger="n5_dask_spark.sources.n5"):
        parts = N5Reader(opts).partitions()
    (rec,) = caplog.records
    assert rec.levelno == logging.DEBUG and rec.name == "n5_dask_spark.sources.n5"
    msg = rec.getMessage()
    max_split = 40 * (32 + (4 << 20)) // 4
    for part in ("40 blocks", "1280 bytes", f"maxSplitBytes={max_split}",
                 "4 partitions", "parallelism 4 from env"):
        assert part in msg, msg
    assert [p.blocks for p in parts] == [p.blocks for p in quiet]

    caplog.clear()
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    with caplog.at_level(logging.DEBUG, logger="n5_dask_spark.sources.n5"):
        N5Reader(opts).partitions()
    assert "parallelism 32 from default" in caplog.records[0].getMessage()


def test_format_n5_and_glob_scan_run_the_same_tasks(spark):
    """format("n5") and the glob scan (reader.block_stats) run the splits
    of one plan (datasource.plan_splits), one task each, and return equal
    per-block stats. A small spark.sql.files.maxPartitionBytes caps every
    split at two blocks and pushes the split count past the parallelism;
    both paths still run exactly the planned splits."""
    from n5_dask_spark.sources.n5.datasource import ScanSplit, plan_splits, register_n5_source
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import block_stats, list_blocks
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    rng = np.random.default_rng(4)
    arr = rng.integers(0, 4096, size=(64, 48, 32), dtype=np.uint16)  # xyz
    c = temp_container()
    write_array(spark, arr, c, "a/s0", [16, 16, 16], compression={"type": "raw"})
    attrs = read_attributes(c, "a/s0")
    blocks = list_blocks(c, "a/s0", 3, attrs.grid_shape)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def tasks(group: str) -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        n = 0
        for job in tracker.getJobIdsForGroup(group):
            for sid in tracker.getJobInfo(job).stageIds:
                n += tracker.getStageInfo(sid).numTasks
        return n

    def run_both(tag: str) -> int:
        register_n5_source(spark)
        sc.setJobGroup(f"n5ds-tasks-glob-{tag}", "block_stats")
        glob_rows = block_stats(spark, c, "a/s0").collect()
        sc.setJobGroup(f"n5ds-tasks-format-{tag}", "format n5")
        ds_rows = (
            spark.read.format("n5").option("path", c).option("dataset", "a/s0").load().collect()
        )
        sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(glob_rows) == len(ds_rows) == 4 * 3 * 2
        ds_stats = {}
        for r in ds_rows:
            a = np.frombuffer(bytes(r.data), dtype=np.uint16).reshape(r.shape_zyx)
            ds_stats[(r.gx, r.gy, r.gz)] = (
                a.size, float(a.min()), float(a.max()), float(a.sum(dtype="f8"))
            )
        glob_stats = {
            (r.gx, r.gy, r.gz): (r[3], r[4], r[5], r[6]) for r in glob_rows
        }
        assert ds_stats == glob_stats
        planned = len(plan_splits(blocks, ScanSplit.from_session(spark)))
        assert tasks(f"n5ds-tasks-format-{tag}") == tasks(f"n5ds-tasks-glob-{tag}") == planned
        return planned

    assert run_both("default") > 1
    # 5 MiB holds one block plus its 4 MiB open cost and the next block's
    # bytes: two blocks a split, 12 splits over the session's parallelism
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(5 << 20))
    try:
        capped = run_both("capped")
    finally:
        spark.conf.set(key, old)
        register_n5_source(spark)
    assert capped == 12 > sc.defaultParallelism
