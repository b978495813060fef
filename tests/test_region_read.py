"""Region reads run on the driver with no Spark job.

``read_region`` and ``read_full`` fetch the overlapping block files with
``reader.read_block_file`` (open() for local paths, fsio's pyarrow
filesystem for URI paths) and decode them in the calling process, like
the reference's read_n5_block. These lanes pin that no job runs, on a
local container, a ``file:`` URI and the emulated object store (an
``s3:`` bucket served by ``emustore.py``, which the JVM cannot reach at
all), and that the marker and zero-byte refusals hold on every one.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest

from n5_dask_spark.sources.n5 import fsio
from n5_dask_spark.sources.n5.emustore import emu_filesystem
from n5_dask_spark.sources.n5.metadata import INCOMPLETE_MARKER


@pytest.fixture
def emu(tmp_path):
    """(bucket, backing_root): a fresh emulated store wired into fsio's
    cache under a unique bucket."""
    bucket = f"b{os.urandom(4).hex()}"
    root = tmp_path / "store"
    root.mkdir()
    fsio._FS_CACHE[("s3", bucket)] = emu_filesystem(str(root))
    try:
        yield bucket, root
    finally:
        fsio._FS_CACHE.pop(("s3", bucket), None)


@pytest.fixture
def local_vol(spark, tmp_path):
    """(container, volume): a 2x2x2-block gzip uint16 dataset ``vol`` with
    one block deleted (sparse), written by the distributed sink."""
    from n5_dask_spark.sources.n5.writer import write_array

    rng = np.random.default_rng(7)
    arr = rng.integers(1, 60000, size=(16, 12, 8), dtype=np.uint16)  # xyz
    c = str(tmp_path / "local.n5")
    write_array(spark, arr, c, "vol", [8, 8, 4], compression={"type": "gzip"})
    os.unlink(os.path.join(c, "vol/1/0/1"))
    return c, arr


def _on_emu(local: str, bucket: str, root) -> str:
    """Copy a local container into the emulated bucket; its s3: URI."""
    shutil.copytree(local, root / bucket / "c.n5")
    return f"s3://{bucket}/c.n5"


def _jobs_run_by(spark, fn):
    """(result, number of Spark jobs fn started on this thread)."""
    sc = spark.sparkContext
    group = f"n5ds-region-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "region read")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_region_reads_run_no_spark_job(spark, local_vol, emu):
    from n5_dask_spark.sources.n5.reader import read_full, read_region

    c, arr = local_vol
    bucket, root = emu
    expect = arr.copy()
    expect[8:, :8, 4:] = 0  # the deleted block reads as fill value
    for container in (c, "file:" + c, _on_emu(c, bucket, root)):
        full, n_full = _jobs_run_by(spark, lambda: read_full(spark, container, "vol"))
        part, n_part = _jobs_run_by(
            spark, lambda: read_region(spark, container, "vol", [3, 5, 2], [15, 12, 7])
        )
        assert (n_full, n_part) == (0, 0), container
        np.testing.assert_array_equal(full, expect)
        np.testing.assert_array_equal(part, expect[3:15, 5:12, 2:7])


def test_region_read_refuses_mid_write_dataset(spark, local_vol, emu):
    from n5_dask_spark.sources.n5.reader import read_region

    c, _ = local_vol
    bucket, root = emu
    container = _on_emu(c, bucket, root)
    with open(os.path.join(c, "vol", INCOMPLETE_MARKER), "w") as f:
        f.write("writer pid 0\n")
    fsio.publish_file(f"{container}/vol/{INCOMPLETE_MARKER}", b"writer pid 7\n")
    for cont in (c, container):
        with pytest.raises(ValueError, match="write-session marker"):
            read_region(spark, cont, "vol", [0, 0, 0], [4, 4, 4])


def test_region_read_refuses_zero_byte_block(spark, local_vol, emu):
    from n5_dask_spark.sources.n5.reader import read_region

    c, _ = local_vol
    bucket, root = emu
    container = _on_emu(c, bucket, root)
    open(os.path.join(c, "vol/0/1/0"), "wb").close()
    (root / bucket / "c.n5/vol/0/1/0").write_bytes(b"")
    for cont in (c, container):
        with pytest.raises(ValueError, match="zero-byte block file.*vol/0/1/0"):
            read_region(spark, cont, "vol", [0, 8, 0], [4, 12, 4])
        # a region that does not touch the empty file still reads
        assert read_region(spark, cont, "vol", [0, 0, 0], [4, 4, 4]).shape == (4, 4, 4)
