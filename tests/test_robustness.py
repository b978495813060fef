"""Robustness: sparse datasets (absent block files = fill value), write
idempotency under task retries, and empty-input edges."""

from __future__ import annotations

import os

import numpy as np
import pytest


def test_sparse_region_read(spark):
    """Deleting a block file must read back as zeros, not error."""
    from n5_dask_spark.sources.n5.reader import read_full, read_region
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    arr = np.arange(4 * 6 * 2, dtype="u1").reshape(4, 6, 2) + 1  # all nonzero
    c = temp_container()
    write_array(spark, arr, c, "a/s0", [2, 3, 2])  # 2x2x1 grid
    os.remove(f"{c}/a/s0/1/0/0")  # sparsify one block
    got = read_full(spark, c, "a/s0")
    expect = arr.copy()
    expect[2:4, 0:3, :] = 0  # gx=1, gy=0 block zone
    np.testing.assert_array_equal(got, expect)
    # region entirely inside the missing block -> pure fill
    hole = read_region(spark, c, "a/s0", [2, 0, 0], [4, 3, 2])
    assert hole.shape == (2, 3, 2) and (hole == 0).all()


def test_write_blocks_idempotent_rerun(spark):
    """Re-running the sink (the task-retry scenario) leaves identical bytes."""
    import glob
    import hashlib

    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.writer import temp_container, write_array, write_blocks

    rng = np.random.default_rng(9)
    arr = (rng.random((20, 10, 4)) * 255).astype("u1")
    c = temp_container()
    write_array(spark, arr, c, "a/s0", [8, 8, 4])

    def digest() -> dict[str, str]:
        return {
            p: hashlib.md5(open(p, "rb").read()).hexdigest()
            for p in sorted(glob.glob(f"{c}/a/s0/*/*/*"))
        }

    first = digest()
    blocks = decoded_blocks(spark, c, "a/s0")
    write_blocks(blocks.to_df().localCheckpoint(), c, "a/s0", read_attributes(c, "a/s0"))
    assert digest() == first  # same paths, same bytes — overwrite, no temp junk
    assert not glob.glob(f"{c}/a/s0/**/.inprogress-*", recursive=True)


def test_write_blocks_refuses_duplicate_grid_cells(spark):
    """Single-writer-per-block is a guarded contract: a producer emitting
    the same grid cell twice (from different partitions, so last-writer-
    wins contents would be nondeterministic) must fail loudly."""
    import pytest

    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.writer import temp_container, write_array, write_blocks

    rng = np.random.default_rng(11)
    arr = (rng.random((16, 8, 4)) * 255).astype("u1")
    c = temp_container()
    write_array(spark, arr, c, "a/s0", [8, 8, 4])
    blocks = decoded_blocks(spark, c, "a/s0").to_df()
    doubled = blocks.unionByName(blocks).repartition(4).localCheckpoint()
    with pytest.raises(RuntimeError, match="duplicate block producers"):
        write_blocks(doubled, c, "a/s0", read_attributes(c, "a/s0"))


def test_write_blocks_guard_uses_path_key_not_all_coords(spark):
    """For an ndim<3 dataset the block path is built from coords[:ndim], so
    two rows that differ ONLY in the truncated gz collide on the SAME file
    — the guard must count distinct over the path key, not all three grid
    columns, or a real last-writer-wins collision slips through."""
    import pytest
    from pyspark.sql import functions as F

    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.writer import temp_container, write_array, write_blocks

    rng = np.random.default_rng(12)
    arr = (rng.random((16, 8)) * 255).astype("u1")  # 2-D: paths are gx/gy
    c = temp_container()
    write_array(spark, arr, c, "a/s0", [8, 8])
    blocks = decoded_blocks(spark, c, "a/s0").to_df()
    # same (gx, gy) emitted twice with distinct gz: same path, "distinct"
    # over (gx,gy,gz) — the exact hole the truncated count must close
    ghost = blocks.withColumn("gz", F.col("gz") + F.lit(1))
    collided = blocks.unionByName(ghost).repartition(4).localCheckpoint()
    with pytest.raises(RuntimeError, match="duplicate block producers"):
        write_blocks(collided, c, "a/s0", read_attributes(c, "a/s0"))


def test_write_blocks_of_no_blocks_writes_attributes_and_releases(spark, tmp_path):
    """An empty blocks frame is a legal (all fill value) write: the
    attributes land, the guard sees zero writes over zero cells, and the
    marker is released."""
    from n5_dask_spark.sources.n5.fuse import BLOCK_SCHEMA_DDL
    from n5_dask_spark.sources.n5.metadata import INCOMPLETE_MARKER, DatasetAttributes
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import write_blocks

    c = str(tmp_path / "empty.n5")
    attrs = DatasetAttributes(data_type="uint16", dimensions=[8, 6, 4], block_size=[4, 4, 4])
    write_blocks(spark.createDataFrame([], BLOCK_SCHEMA_DDL), c, "a/s0", attrs)
    assert read_attributes(c, "a/s0").dimensions == [8, 6, 4]
    assert not (tmp_path / "empty.n5/a/s0" / INCOMPLETE_MARKER).exists()
    np.testing.assert_array_equal(
        read_full(spark, c, "a/s0"), np.zeros((8, 6, 4), dtype=np.uint16)
    )


def test_empty_tif_dir_errors(spark):
    import tempfile

    import pytest

    from n5_dask_spark.sources.tiff import tif_series_scan

    with pytest.raises(FileNotFoundError, match=r"no \*\.tif"):
        tif_series_scan(spark, tempfile.mkdtemp())


def test_write_array_2d(spark):
    """write_array must handle non-3-D arrays (grid padded to 3 columns)."""
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    arr = np.arange(35, dtype="u2").reshape(7, 5).T  # xyz = (5, 7)... 2-D x,y
    c = temp_container()
    write_array(spark, np.ascontiguousarray(arr), c, "img/s0", [4, 4])
    back = read_full(spark, c, "img/s0")
    np.testing.assert_array_equal(back, arr)


def test_fully_sparse_dataset_scans_empty(spark):
    """attributes.json with zero block files is legal N5."""
    from n5_dask_spark.sources.n5.metadata import DatasetAttributes, write_attributes
    from n5_dask_spark.sources.n5.reader import block_stats, read_region, scan_block_files
    from n5_dask_spark.sources.n5.writer import temp_container

    c = temp_container()
    write_attributes(
        c, "empty/s0",
        DatasetAttributes("uint8", [10, 10, 4], [4, 4, 4], {"type": "raw"}),
    )
    assert scan_block_files(spark, c, "empty/s0").to_df().count() == 0
    assert block_stats(spark, c, "empty/s0").count() == 0
    reg = read_region(spark, c, "empty/s0", [0, 0, 0], [10, 10, 4])
    assert reg.shape == (10, 10, 4) and (reg == 0).all()


def test_tiff_with_metadata_tags_decodes():
    """Real-world writers add ASCII/RATIONAL tags; the decoder must skip
    them, not crash."""
    import struct

    from n5_dask_spark.sources.tiff import decode_tiff

    arr = np.arange(12, dtype="u1").reshape(3, 4)
    data = arr.tobytes()
    desc = b"ImageJ=1.53\x00"
    out = bytearray()
    out += struct.pack("<2sHI", b"II", 42, 8 + len(data) + len(desc) + 8)
    out += data
    desc_off = len(out)
    out += desc
    rat_off = len(out)
    out += struct.pack("<II", 72, 1)  # RATIONAL 72/1 dpi
    entries = [
        (256, 3, 1, 4), (257, 3, 1, 3), (258, 3, 1, 8), (259, 3, 1, 1),
        (262, 3, 1, 1),
        (270, 2, len(desc), desc_off),     # ImageDescription (ASCII)
        (273, 4, 1, 8), (277, 3, 1, 1), (278, 3, 1, 3),
        (279, 4, 1, len(data)),
        (282, 5, 1, rat_off),              # XResolution (RATIONAL)
        (339, 3, 1, 1),
    ]
    out += struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        out += struct.pack("<HHII", tag, typ, cnt, val)
    out += struct.pack("<I", 0)
    np.testing.assert_array_equal(decode_tiff(bytes(out)), arr)


# --- optional-dep image decode (SURVEY §2.B multimodal) -------------------


def test_decode_image_with_pillow():
    """Real decode engages when pillow is installed (skips in the bare
    container, runs wherever the optional dep exists)."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    import numpy as np

    from n5_dask_spark.operators.multimodal import decode_image

    im = PIL.new("RGB", (4, 3), color=(1, 2, 3))
    buf = io.BytesIO()
    im.save(buf, format="PNG")
    arr = decode_image(buf.getvalue())
    assert arr.shape == (3, 4, 3) and arr.dtype == np.uint8
    assert (arr == np.array([1, 2, 3], dtype=np.uint8)).all()


def test_decode_image_without_pillow_raises():
    from n5_dask_spark.operators import multimodal

    if multimodal._PILImage is not None:
        pytest.skip("pillow installed: the loud-stub path is not reachable")
    with pytest.raises(NotImplementedError, match="pillow"):
        multimodal.decode_image(b"\x89PNG\r\n")


def test_2d_dataset_block_operators(spark):
    """decoded_blocks / block_stats on a 2-D dataset: the scan pads the
    missing gz column with 0 so block operators are ndim-agnostic
    (previously KeyError 'gz' inside the executor UDF)."""
    from n5_dask_spark.sources.n5.reader import block_stats, decoded_blocks
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    arr = np.arange(48, dtype="u1").reshape(8, 6).T  # xyz = (6, 8)
    c = temp_container()
    write_array(spark, np.ascontiguousarray(arr), c, "img/s0", [4, 4])
    rows = decoded_blocks(spark, c, "img/s0").to_df().collect()
    assert len(rows) == 4  # 2x2 grid
    assert all(r["gz"] == 0 for r in rows)
    st = block_stats(spark, c, "img/s0").collect()
    assert sum(r["n_elems"] for r in st) == 48
    assert sum(r["vsum"] for r in st) == float(arr.sum())


def test_lz4_frame_negative_length_raises():
    """CONFIRMED pre-fix: a crafted chunk with clen=-21 moved pos backwards
    and spun frame_decompress forever. Corruption must raise, not hang."""
    import struct

    from n5_dask_spark.sources.n5.lz4 import (
        DEFAULT_SEED,
        MAGIC,
        METHOD_RAW,
        frame_decompress,
        xxhash32,
    )

    evil = (
        MAGIC
        + bytes([METHOD_RAW | 6])
        + struct.pack("<iii", -21, 1, xxhash32(b"", DEFAULT_SEED) & 0xFFFFFFF)
    )
    with pytest.raises(ValueError, match="negative length"):
        frame_decompress(evil)
    # truncated RAW chunk: stored bytes != declared dlen must refuse even
    # if the checksum of the short slice happens to match
    short = (
        MAGIC
        + bytes([METHOD_RAW | 6])
        + struct.pack("<iii", 2, 4, xxhash32(b"ab", DEFAULT_SEED) & 0xFFFFFFF)
        + b"ab"
    )
    with pytest.raises(ValueError, match="declares"):
        frame_decompress(short)


def test_multiscale_terminates_with_unit_factor(spark):
    """Anisotropic factors like (2,2,1) — standard for thin-z microscopy —
    must stop once the shrinking axes reach the thumbnail, not loop
    forever on the axis that never shrinks."""
    from n5_dask_spark.sources.n5.transforms import build_multiscale
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    vol = np.arange(16 * 16 * 3, dtype="u2").reshape(16, 16, 3)
    c = temp_container()
    write_array(spark, vol, c, "p/s0", [4, 4, 3])
    levels = build_multiscale(spark, c, "p", factors_xyz=(2, 2, 1))
    # x,y shrink 16 -> 8 -> 4 (= thumbnail 4); z stays 3 throughout
    assert levels == ["s0", "s1", "s2"]


def test_write_region_out_of_bounds_refused(spark):
    from n5_dask_spark.sources.n5.writer import temp_container, write_array, write_region

    c = temp_container()
    write_array(spark, np.zeros((8, 8, 8), dtype="u1"), c, "a/s0", [4, 4, 4])
    with pytest.raises(ValueError, match="outside the dataset"):
        write_region(spark, c, "a/s0", np.ones((4, 4, 4), dtype="u1"), [6, 0, 0])
    with pytest.raises(ValueError, match="outside the dataset"):
        write_region(spark, c, "a/s0", np.ones((2, 2, 2), dtype="u1"), [-1, 0, 0])


def test_read_region_uri_container_sparse_reads_fill_value(spark):
    """r11: the whole READ surface works against URI-scheme containers
    end to end — metadata and block files through fsio's pyarrow
    filesystem — so a SPARSE URI
    dataset reads absent blocks as fill-value zeros, exactly the local
    contract (pre-r11: read_attributes failed at open() and a sparse URI
    region refused loudly even with metadata monkeypatched)."""
    from n5_dask_spark.sources.n5 import reader as rd
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    arr = np.full((16, 8, 8), 7, np.uint8)  # 2 blocks in x
    c = temp_container("urisparse")
    write_array(spark, arr, c, "vol", [8, 8, 8])
    os.unlink(os.path.join(c, "vol/1/0/0"))  # sparsify the second block

    out = rd.read_region(spark, "file:" + c, "vol", [0, 0, 0], [16, 8, 8])
    assert out.shape == (16, 8, 8)
    assert (out[:8] == 7).all() and (out[8:] == 0).all()
    # full-surface parity: block_stats and read_full through the URI too
    assert rd.block_stats(spark, "file:" + c, "vol").count() == 1
    np.testing.assert_array_equal(
        rd.read_full(spark, "file:" + c, "vol"), out
    )


def test_export_region_uri_container_passes_all_candidates(spark, monkeypatch, tmp_path):
    """Same contract for the distributed export path: a URI container's
    candidates reach the scan un-filtered instead of being stat-tested to
    an (all-sparse, silently-zero) output dataset."""
    from n5_dask_spark.sources.n5 import reader as rd
    from n5_dask_spark.sources.n5 import transforms as tf
    from n5_dask_spark.sources.n5.metadata import DatasetAttributes

    attrs = DatasetAttributes(
        data_type="uint8",
        dimensions=[16, 8, 8],
        block_size=[8, 8, 8],
        compression={"type": "raw"},
    )
    monkeypatch.setattr(tf, "read_attributes", lambda c, d: attrs)
    captured = {}

    def fake_decoded(spark_, container, dataset, paths=None):
        captured["paths"] = paths
        raise RuntimeError("stop after path selection")

    monkeypatch.setattr(rd, "decoded_blocks", fake_decoded)
    with pytest.raises(RuntimeError, match="stop after path selection"):
        tf.export_region(
            spark,
            "s3a://bucket/c.n5",
            "vol",
            [0, 0, 0],
            [16, 8, 8],
            str(tmp_path / "out.n5"),
            "vol",
        )
    assert captured["paths"] is not None and len(captured["paths"]) == 2


def test_hostile_dataset_names_scan_literal(spark, tmp_path):
    """Hostile-name probe (r9 pass 5): Spark file sources run every load()
    path through Hadoop GLOB expansion, so a container/dataset directory
    name containing [ ] { } * ? was treated as a PATTERN — dataset
    'd[12]' SILENTLY read sibling 'd1''s block files (the wrong
    dataset's data, no error) and 'img[x]' raised PATH_NOT_FOUND. The
    scans no longer hand paths to a Spark file source: block files come
    from the driver's own listing and are opened literally, and the TIFF
    series glob escapes its directory (glob.escape). Spaces, dots, parens
    and digits-only names were always safe (verified here too)."""
    import os

    import numpy as np

    from n5_dask_spark.sources.n5.reader import block_stats, read_region
    from n5_dask_spark.sources.n5.writer import write_array

    rng = np.random.default_rng(0)
    vol = (rng.random((8, 10, 12)) * 255).astype("u1")
    for ds in [
        "img with spaces/s0",
        "img[bracket]/s0",
        "img{brace}/s0",
        "7/3",
        "img.dots+plus/s0",
        "img(paren)/s0",
        "img*star/s0",
    ]:
        cont = os.path.join(str(tmp_path), "c.n5")
        write_array(spark, vol, cont, ds, [5, 5, 5], compression={"type": "gzip"})
        back = read_region(spark, cont, ds, (0, 0, 0), (8, 10, 12))
        assert np.array_equal(back, vol), ds

    # the silent-wrong-data trap: d[12] must read ITS OWN blocks, not d1's
    cont = os.path.join(str(tmp_path), "trap.n5")
    write_array(spark, vol, cont, "d1", [5, 5, 5], compression={"type": "gzip"})
    other = (vol + 1).astype("u1")
    write_array(spark, other, cont, "d[12]", [5, 5, 5], compression={"type": "gzip"})
    back = read_region(spark, cont, "d[12]", (0, 0, 0), (8, 10, 12))
    assert np.array_equal(back, other)  # own data, not the glob-matched sibling
    # the glob scan path too: d[12]'s block sums, not d1's
    vsum = sum(r.vsum for r in block_stats(spark, cont, "d[12]").collect())
    assert vsum == float(other.sum(dtype="f8"))
