"""The glob block scan and the TIFF series scan run from the driver's one
listing: building a scan starts no Spark job, each planned split runs as
one task that reads its own files, and a file that changes between
planning and the read is either fill value (an absent N5 block) or a
loud error naming the path."""

from __future__ import annotations

import os

import numpy as np
import pytest

from n5_dask_spark.sources.n5.codec import encode_block


def _jobs(spark, group: str) -> list[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def _n5_gx_row(tmp_path, n: int) -> str:
    """A raw uint8 dataset ``d/s0`` of ``n`` blocks on the gx axis, block gx
    filled with gx; returns the container."""
    from n5_dask_spark.sources.n5.metadata import DatasetAttributes, write_attributes

    c = str(tmp_path / "row.n5")
    write_attributes(c, "d/s0", DatasetAttributes("uint8", [n, 4, 4], [1, 4, 4], {"type": "raw"}))
    for gx in range(n):
        path = os.path.join(c, "d/s0", str(gx), "0", "0")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(encode_block(np.full((4, 4, 1), gx, np.uint8), "uint8", {"type": "raw"}))
    return c


def _series(tmp_path, n: int) -> str:
    from n5_dask_spark.sources.tiff import write_tiff

    src = tmp_path / "series"
    src.mkdir()
    for z in range(n):
        write_tiff(str(src / f"s{z:03d}.tif"), np.full((6, 5), z, np.uint8))
    return str(src)


def test_building_a_block_scan_starts_no_job(spark, tmp_path):
    """40 block files, past Spark's parallel-listing threshold of 32 paths:
    a second listing by a Spark file source would run as its own job."""
    from n5_dask_spark.sources.n5.reader import block_stats, scan_block_files

    c = _n5_gx_row(tmp_path, 40)
    sc = spark.sparkContext
    sc.setJobGroup("n5ds-build-scan", "build only")
    try:
        scan = scan_block_files(spark, c, "d/s0")
        stats = block_stats(spark, c, "d/s0")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _jobs(spark, "n5ds-build-scan") == []
    rows = scan.to_df().collect()
    assert [(r.gx, r.length) for r in rows] == [(gx, 32) for gx in range(40)]
    assert rows[7].path == os.path.join(c, "d/s0", "7", "0", "0")
    assert sorted((r.gx, r.vmax) for r in stats.collect()) == [(gx, gx) for gx in range(40)]


def test_building_a_series_scan_starts_no_job(spark, tmp_path):
    from n5_dask_spark.sources.tiff import tif_series_scan

    src = _series(tmp_path, 40)
    sc = spark.sparkContext
    sc.setJobGroup("n5ds-build-series", "build only")
    try:
        scan = tif_series_scan(spark, src)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _jobs(spark, "n5ds-build-series") == []
    rows = sorted(scan.to_df().collect())
    assert [r.z for r in rows] == list(range(40))
    assert rows[3].path == os.path.join(src, "s003.tif")


def test_series_import_runs_one_scan_task_per_split(spark, tmp_path):
    """The import's first stage is the scan: one task per planned split,
    with no listing job before it."""
    import glob

    from n5_dask_spark.sources.n5.datasource import ScanSplit, plan_splits
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.tiff import tif_series_to_n5

    src = _series(tmp_path, 40)
    files = sorted(glob.glob(os.path.join(src, "*.tif")))
    planned = len(plan_splits(
        [(p, (z,), os.path.getsize(p)) for z, p in enumerate(files)],
        ScanSplit.from_session(spark),
    ))
    assert 1 < planned < 40
    c = str(tmp_path / "c.n5")
    sc = spark.sparkContext
    sc.setJobGroup("n5ds-series-import", "tif_series_to_n5")
    try:
        tif_series_to_n5(spark, src, c, "a/s0", [5, 6, 8])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    first = _jobs(spark, "n5ds-series-import")[0]
    scan_stage = min(tracker.getJobInfo(first).stageIds)
    assert tracker.getStageInfo(scan_stage).numTasks == planned
    want = np.broadcast_to(np.arange(40, dtype=np.uint8), (5, 6, 40))
    np.testing.assert_array_equal(read_full(spark, c, "a/s0"), want)


ADDRESSES = ("local", "uri")


def _planned_stats(spark, tmp_path, address: str):
    """block_stats over a 2x2x2-grid dataset, built (planned) but not run;
    the block holding grid cell g has value 1 + gx + 2 gy + 4 gz."""
    from n5_dask_spark.sources.n5.reader import block_stats
    from n5_dask_spark.sources.n5.writer import write_array

    x, y, z = np.meshgrid(np.arange(16), np.arange(16), np.arange(8), indexing="ij")
    vol = (1 + x // 8 + 2 * (y // 8) + 4 * (z // 4)).astype(np.uint8)  # xyz, blocks 8x8x4
    c = str(tmp_path / "late.n5")
    write_array(spark, vol, c, "d/s0", [8, 8, 4])
    a = "file:" + c if address == "uri" else c
    return c, block_stats(spark, a, "d/s0")


@pytest.mark.parametrize("address", ADDRESSES)
def test_block_deleted_after_planning_reads_as_fill_value(spark, tmp_path, address):
    """A block deleted after the scan is planned and before the action is
    legal N5 sparseness: its cell has no row, the survivors' rows are
    intact."""
    c, stats = _planned_stats(spark, tmp_path, address)
    os.unlink(os.path.join(c, "d/s0/1/0/0"))
    got = {(r.gx, r.gy, r.gz): (r.n_elems, r.vmin, r.vmax) for r in stats.collect()}
    want = {
        (gx, gy, gz): (256, 1 + gx + 2 * gy + 4 * gz, 1 + gx + 2 * gy + 4 * gz)
        for gx in range(2) for gy in range(2) for gz in range(2)
        if (gx, gy, gz) != (1, 0, 0)
    }
    assert got == want


@pytest.mark.parametrize("address", ADDRESSES)
def test_block_read_failure_after_planning_names_the_path(spark, tmp_path, address):
    """Any read failure other than absence fails the scan and names the
    block: here a directory has taken the block file's place."""
    c, stats = _planned_stats(spark, tmp_path, address)
    path = os.path.join(c, "d/s0/1/0/0")
    os.unlink(path)
    os.mkdir(path)
    with pytest.raises(Exception, match="cannot read block file .*d/s0/1/0/0"):
        stats.collect()
