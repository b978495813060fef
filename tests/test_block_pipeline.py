"""Block pipelines build only the Spark nodes that run.

Producers (scans, decoded_blocks, rechunk, downsample, the TIFF slice
source) return immutable values and build no Python node; the terminal
that consumes them builds exactly one DataFrame per Python node it runs.
The counts below are the Python-node DataFrames each op builds, found by
counting calls of the four PySpark entry points that create one, and the
stages a write runs, read from Spark's status tracker.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import numpy as np
import pytest

PY_NODE_METHODS = (
    ("frame", "mapInPandas"),
    ("frame", "mapInArrow"),
    ("grouped", "applyInPandas"),
    ("grouped", "applyInArrow"),
)


@pytest.fixture
def builds(spark, monkeypatch):
    """Counter of Python-node DataFrames built, by PySpark method."""
    classes = {"frame": type(spark.range(1)), "grouped": type(spark.range(1).groupBy("id"))}
    counts: Counter = Counter()
    for kind, name in PY_NODE_METHODS:
        orig = getattr(classes[kind], name)

        def counted(self, *a, _orig=orig, _name=name, **k):
            counts[_name] += 1
            return _orig(self, *a, **k)

        monkeypatch.setattr(classes[kind], name, counted)
    return counts


STATS_COLS = ["gx", "gy", "gz", "n", "vsum"]
STATS_DDL = "gx int, gy int, gz int, n long, vsum long"


def _plan_tree(df) -> str:
    txt = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return txt.split("\n\n")[0]  # the tree; the details list every node again


def test_rechunk_stats_builds_two_nodes(spark, tmp_path, builds):
    from n5_dask_spark.sources.n5 import fuse
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.transforms import rechunk
    from n5_dask_spark.sources.n5.writer import write_array

    arr = (np.arange(24 * 20 * 16) % 251).astype(np.uint8).reshape(24, 20, 16)
    c = str(tmp_path / "c.n5")
    write_array(spark, arr, c, "a/s0", [8, 8, 8])
    builds.clear()
    fuse.MATERIALIZATIONS.clear()

    def stats_rows(gx, gy, gz, a):
        yield (int(gx), int(gy), int(gz), int(a.size), int(a.sum(dtype="i8")))

    out, out_attrs = rechunk(decoded_blocks(spark, c, "a/s0"), read_attributes(c, "a/s0"), [5, 6, 7])
    assert sum(builds.values()) == 0  # producers build nothing
    df = fuse.consume_block_rows(out, np.dtype("uint8"), stats_rows, STATS_COLS, STATS_DDL)
    assert builds == {"mapInPandas": 1, "applyInArrow": 1}

    tree = _plan_tree(df)
    assert len(re.findall(r"\bMapInPandas\b", tree)) == 1, tree
    assert len(re.findall(r"\bFlatMapGroupsInArrow\b", tree)) == 1, tree
    assert "FlatMapGroupsInPandas" not in tree

    rows = {(r.gx, r.gy, r.gz): (r.n, r.vsum) for r in df.collect()}
    assert len(rows) == out_attrs.n_blocks
    for (gx, gy, gz), (n, vsum) in rows.items():
        blk = arr[gx * 5:(gx + 1) * 5, gy * 6:(gy + 1) * 6, gz * 7:(gz + 1) * 7]
        assert (n, vsum) == (blk.size, int(blk.sum(dtype="i8")))
    assert sum(fuse.MATERIALIZATIONS.values()) == 0  # fused end to end


def test_build_multiscale_builds_two_nodes_per_level(spark, tmp_path, builds):
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.transforms import build_multiscale
    from n5_dask_spark.sources.n5.writer import write_array

    arr = (np.arange(32**3) % 200).astype(np.uint8).reshape(32, 32, 32)
    c = str(tmp_path / "p.n5")
    write_array(spark, arr, c, "vol/s0", [8, 8, 8])
    builds.clear()
    levels = build_multiscale(spark, c, "vol", (2, 2, 2), thumbnail_size_xyz=[8, 8, 8])
    assert levels == ["s0", "s1", "s2"]
    assert builds == {"mapInPandas": 2, "applyInArrow": 2}
    s1 = read_full(spark, c, "vol/s1")
    want = arr.reshape(16, 2, 16, 2, 16, 2).astype("f8").mean(axis=(1, 3, 5)).astype(np.uint8)
    np.testing.assert_array_equal(s1, want)


def test_tiff_series_round_trip_builds_two_nodes_each_way(spark, tmp_path, builds):
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.tiff import decode_tiff, n5_to_tif_series, tif_series_to_n5, write_tiff

    vol = (np.arange(12 * 10 * 9) % 251).astype(np.uint16).reshape(12, 10, 9)  # zyx
    src = tmp_path / "series"
    src.mkdir()
    for z in range(vol.shape[0]):
        write_tiff(str(src / f"s{z:03d}.tif"), vol[z])
    c = str(tmp_path / "t.n5")
    builds.clear()
    tif_series_to_n5(spark, str(src), c, "a/s0", [4, 4, 4], {"type": "gzip"})
    assert builds == {"mapInPandas": 1, "applyInArrow": 1}
    np.testing.assert_array_equal(read_full(spark, c, "a/s0"), vol.transpose(2, 1, 0))

    builds.clear()
    out = tmp_path / "out"
    assert n5_to_tif_series(spark, c, "a/s0", str(out)) == vol.shape[0]
    assert builds == {"mapInPandas": 1, "applyInArrow": 1}
    for z in range(vol.shape[0]):
        with open(os.path.join(out, f"slice{z:05d}.tif"), "rb") as f:
            np.testing.assert_array_equal(decode_tiff(f.read()), vol[z])


def test_block_stats_builds_one_node(spark, tmp_path, builds):
    from n5_dask_spark.sources.n5.reader import block_stats
    from n5_dask_spark.sources.n5.writer import write_array

    arr = np.arange(16 * 8 * 8, dtype=np.uint8).reshape(16, 8, 8)
    c = str(tmp_path / "s.n5")
    write_array(spark, arr, c, "a/s0", [8, 8, 8])
    builds.clear()
    df = block_stats(spark, c, "a/s0")
    assert builds == {"mapInPandas": 1}
    assert sorted((r.gx, r.vsum) for r in df.collect()) == [
        (0, float(arr[:8].sum())), (1, float(arr[8:].sum()))
    ]


def _stages_that_ran(spark, group: str) -> int:
    """Stages with completed tasks over every job of ``group`` (a stage a
    later job reuses shows there as a skipped stage with none)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    return sum(
        tracker.getStageInfo(sid).numCompletedTasks > 0
        for job in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(job).stageIds
    )


def test_writes_run_only_their_own_stages(spark, tmp_path):
    """The duplicate-producer guard runs on the driver over the rows the
    sink returns, so a write adds no stage of its own: a grouped write
    runs the fragment map and the assembler+sink, a map write runs one
    stage."""
    from n5_dask_spark.sources.n5.reader import decoded_blocks, read_full
    from n5_dask_spark.sources.n5.transforms import rechunk
    from n5_dask_spark.sources.n5.writer import write_array, write_blocks

    arr = (np.arange(24 * 20 * 16) % 251).astype(np.uint8).reshape(24, 20, 16)
    c = str(tmp_path / "w.n5")
    sc = spark.sparkContext
    sc.setJobGroup("n5ds-write-array", "write_array")
    try:
        attrs = write_array(spark, arr, c, "a/s0", [8, 8, 8])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _stages_that_ran(spark, "n5ds-write-array") == 1

    out, out_attrs = rechunk(decoded_blocks(spark, c, "a/s0"), attrs, [5, 6, 7])
    sc.setJobGroup("n5ds-write-rechunk", "rechunk -> write_blocks")
    try:
        write_blocks(out, c, "a/s1", out_attrs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _stages_that_ran(spark, "n5ds-write-rechunk") == 2
    np.testing.assert_array_equal(read_full(spark, c, "a/s1"), arr)
