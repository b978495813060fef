"""URI-scheme N5 WRITE path (r13, lifting the r11-r12 local-only refusal).

The read surface has been URI-capable since r11; these tests pin the new
write side: the fsio per-scheme commit protocol (pyarrow.fs temp+move on
rename-capable stores, direct PUT on object stores), the write-then-read-
back marker fence that replaces O_EXCL where it doesn't exist (r14: local
filesystems upgraded to a true O_EXCL conditional create), and the
dataset-level guarantees carried over from the local path — duplicate-
producer refusal leaving the marker behind, reader refusal of a mid-write
dataset, zero temp litter, template creation. All through ``file:`` URIs
via the SAME fsio dispatch an object store would take; the object-store
branch itself (direct PUT, read-back fence) is exercised for real against
the emulated store in test_emu_object_store.py (r14).

Reference parity: zarr's N5Store writes wherever fsspec points it
(/root/reference/src/tif_to_n5.py:29); our sinks now match through the
Hadoop-style URI surface.
"""

from __future__ import annotations

import os
import pathlib

import numpy as np
import pytest

from n5_dask_spark.sources.n5 import fsio
from n5_dask_spark.sources.n5.metadata import (
    DatasetAttributes,
    read_attributes,
    read_raw_attributes,
    update_raw_attributes,
)
from n5_dask_spark.sources.n5.writer import (
    claim_dataset_write,
    create_from_template,
    release_dataset_write,
    write_array,
)


def test_fsio_path_derivation_matches_pyarrow(tmp_path):
    """_resolve derives the fs-local path itself (the FS object is cached);
    pin parity with FileSystem.from_uri for the executable schemes."""
    from pyarrow import fs as pafs

    for uri in [f"file:{tmp_path}/a/b.bin", f"file://{tmp_path}/a/b.bin"]:
        fs, p = fsio._resolve(uri)
        fs2, p2 = pafs.FileSystem.from_uri(uri)
        assert p == p2
        assert type(fs).__name__ == type(fs2).__name__ == "LocalFileSystem"
    # scheme mapping: s3a is Hadoop's spelling of s3 (path shape only —
    # no S3 endpoint in this container, so don't resolve the FS)
    assert fsio._SCHEME_MAP["s3a"] == "s3"


def test_fsio_publish_is_temp_move_and_litter_free(tmp_path):
    uri = f"file:{tmp_path}/deep/ly/nested/f.bin"
    fsio.publish_file(uri, b"payload")
    assert (tmp_path / "deep/ly/nested/f.bin").read_bytes() == b"payload"
    # overwrite republish (the retried-task shape) is a full replace
    fsio.publish_file(uri, b"payload2")
    assert (tmp_path / "deep/ly/nested/f.bin").read_bytes() == b"payload2"
    litter = list(tmp_path.rglob(".inprogress-*"))
    assert not litter, litter
    # umask-governed perms, not mkstemp 0600 (shared-container readers)
    mode = (tmp_path / "deep/ly/nested/f.bin").stat().st_mode & 0o777
    assert mode & 0o044, f"block file unreadable to group/other: {oct(mode)}"


def test_uri_marker_fence_refuses_second_claim(tmp_path):
    uri = f"file:{tmp_path}/c.n5"
    marker = claim_dataset_write(uri, "d/s0")
    assert (tmp_path / "c.n5/d/s0/.n5ds-incomplete").exists()
    with pytest.raises(RuntimeError, match="marker .* already exists"):
        claim_dataset_write(uri, "d/s0")
    release_dataset_write(marker)
    assert not (tmp_path / "c.n5/d/s0/.n5ds-incomplete").exists()
    release_dataset_write(marker)  # idempotent
    # a fresh claim works after release
    release_dataset_write(claim_dataset_write(uri, "d/s0"))


def test_uri_marker_fence_local_is_conditional_create(tmp_path):
    """On local filesystems the claim is a true O_CREAT|O_EXCL conditional
    create (r14, hardening the r13 PUT+read-back fence per ADVICE): a rival
    marker landing between the existence pre-check and the exclusive
    create refuses with the lost-race message — no read-back heuristics
    involved. The PUT-fence lanes live in test_emu_object_store.py, riding
    a store that genuinely lacks O_EXCL."""
    marker_uri = f"file:{tmp_path}/race.n5/d/.n5ds-incomplete"
    marker_local = tmp_path / "race.n5/d/.n5ds-incomplete"
    real_exists = fsio.exists

    def lying_exists(path):
        # both claimants pass the pre-check; the rival's O_EXCL then wins
        if path == marker_uri and not marker_local.exists():
            marker_local.parent.mkdir(parents=True, exist_ok=True)
            marker_local.write_bytes(b"writer pid 99999 token deadbeef\n")
        return False

    fsio.exists = lying_exists
    try:
        with pytest.raises(RuntimeError, match="lost the write-session claim race"):
            fsio.claim_marker_uri(marker_uri)
    finally:
        fsio.exists = real_exists
    # the rival's marker survived untouched — the loser wrote nothing
    assert marker_local.read_bytes() == b"writer pid 99999 token deadbeef\n"


def test_uri_write_array_roundtrip_and_attrs(spark, tmp_path):
    rng = np.random.default_rng(3)
    vol = rng.integers(0, 255, size=(30, 20, 10), dtype=np.uint8)
    uri = f"file:{tmp_path}/vol.n5"
    write_array(spark, vol, uri, "vol/s0", [16, 16, 4], compression={"type": "gzip"})
    from n5_dask_spark.sources.n5.reader import read_full

    assert np.array_equal(read_full(spark, uri, "vol/s0"), vol)
    # metadata landed through the URI publish: root version + dataset attrs
    a = read_attributes(uri, "vol/s0")
    assert a.dimensions == [30, 20, 10] and a.block_size == [16, 16, 4]
    assert read_raw_attributes(uri)["n5"]
    # no marker, no temp litter after a clean job
    local = tmp_path / "vol.n5"
    assert not list(local.rglob(".n5ds-incomplete"))
    assert not list(local.rglob(".inprogress-*"))


def test_uri_duplicate_producer_refuses_and_leaves_marker(spark, tmp_path):
    """The write_blocks duplicate-producer guard fires on the URI branch
    too, and a failed job leaves the marker so the incomplete dataset is
    refused by readers THROUGH THE URI — loud forever, never a silent
    partial snapshot."""
    from n5_dask_spark.sources.n5.reader import scan_block_files
    from n5_dask_spark.sources.n5.writer import write_blocks

    uri = f"file:{tmp_path}/dup.n5"
    attrs = DatasetAttributes(
        data_type="uint8", dimensions=[8, 8, 8], block_size=[8, 8, 8]
    )
    block = np.zeros((8, 8, 8), dtype=np.uint8)
    rows = [(0, 0, 0, list(block.shape), block.tobytes())] * 2  # same cell twice
    blocks = spark.createDataFrame(
        rows, schema="gx int, gy int, gz int, shape_zyx array<int>, data binary"
    ).repartition(2)
    with pytest.raises(RuntimeError, match="duplicate block producers"):
        write_blocks(blocks, uri, "d/s0", attrs)
    assert (tmp_path / "dup.n5/d/s0/.n5ds-incomplete").exists()
    with pytest.raises(Exception, match="n5ds-incomplete|mid-write|incomplete"):
        scan_block_files(spark, uri, "d/s0", 3).to_df().collect()


def test_uri_create_from_template(spark, tmp_path):
    src = f"file:{tmp_path}/src.n5"
    vol = np.arange(4 * 4 * 4, dtype=np.uint8).reshape(4, 4, 4)
    write_array(
        spark, vol, src, "t/s0", [4, 4, 2],
        compression={"type": "gzip"},
        extra_attrs={"pixelResolution": {"unit": "um", "dimensions": [1.0, 1.0, 2.0]}},
    )
    out = f"file:{tmp_path}/out.n5"
    attrs = create_from_template(src, "t/s0", out, "t/s0")
    got = read_attributes(out, "t/s0")
    assert got.dimensions == [4, 4, 4] and got.block_size == [4, 4, 2]
    assert got.extra["pixelResolution"]["unit"] == "um"
    # updates through the URI surface are read-modify-publish
    update_raw_attributes(out, "t/s0", {"downsamplingFactors": [2.0, 2.0, 1.0]})
    assert read_raw_attributes(out, "t/s0")["downsamplingFactors"] == [2.0, 2.0, 1.0]
    assert read_raw_attributes(out, "t/s0")["dataType"] == "uint8"
