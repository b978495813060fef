"""TIFF codec + TIFF<->N5 pipeline tests, including the README-equivalent
roundtrip (reference README.md:17-21): n5 -> tif series -> n5 re-chunked at
64^3 gzip -> values identical."""

from __future__ import annotations

import glob
import os
import tempfile
import uuid

import numpy as np
import pytest

from tests.test_n5 import FIXTURE, FIXTURE_DS, fixture_volume_xyz


def tmpdir() -> str:
    d = os.path.join(tempfile.gettempdir(), f"tifftest-{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    return d


def test_tiff_codec_roundtrip():
    from n5_dask_spark.sources.tiff import decode_tiff, encode_tiff

    rng = np.random.default_rng(3)
    for dt in ("u1", "u2", "i2", "u4", "f4", "f8"):
        arr = (rng.random((13, 29)) * 100).astype(dt)
        out = decode_tiff(encode_tiff(arr))
        np.testing.assert_array_equal(out, arr)
        assert out.dtype == arr.dtype


def test_tiff_big_endian_decode():
    from n5_dask_spark.sources.tiff import decode_tiff, encode_tiff

    arr = np.arange(12, dtype="u2").reshape(3, 4)
    le = bytearray(encode_tiff(arr))
    # re-encode by hand as big-endian: decode must handle MM too
    import struct

    be = bytearray()
    data = arr.astype(">u2").tobytes()
    be += struct.pack(">2sHI", b"MM", 42, 8 + len(data))
    be += data
    entries = [(256, 3, 1, 4), (257, 3, 1, 3), (258, 3, 1, 16), (259, 3, 1, 1),
               (262, 3, 1, 1), (273, 4, 1, 8), (277, 3, 1, 1), (278, 3, 1, 3),
               (279, 4, 1, len(data)), (339, 3, 1, 1)]
    be += struct.pack(">H", len(entries))
    for tag, typ, cnt, val in entries:
        if typ == 3:
            be += struct.pack(">HHIHH", tag, typ, cnt, val, 0)
        else:
            be += struct.pack(">HHII", tag, typ, cnt, val)
    be += struct.pack(">I", 0)
    out = decode_tiff(bytes(be))
    np.testing.assert_array_equal(out, arr)
    assert decode_tiff(bytes(le)).dtype == np.dtype("u2")


def test_tiff_unsupported_features():
    from n5_dask_spark.sources.tiff import decode_tiff

    with pytest.raises(ValueError, match="not a TIFF"):
        decode_tiff(b"PK\x03\x04junk")


def test_n5_to_tif_series_and_back(spark):
    """The reference README smoke workflow, values byte-identical."""
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import temp_container
    from n5_dask_spark.sources.tiff import n5_to_tif_series, read_tiff, tif_series_to_n5

    golden = fixture_volume_xyz()
    out_dir = tmpdir()
    n = n5_to_tif_series(spark, FIXTURE, FIXTURE_DS, out_dir)
    assert n == 27
    files = sorted(glob.glob(f"{out_dir}/*.tif"))
    assert len(files) == 27
    np.testing.assert_array_equal(read_tiff(files[5]), golden[:, :, 5].T)  # (y, x) raster

    c2 = temp_container()
    attrs = tif_series_to_n5(
        spark, out_dir, c2, "mri/c0/s0", [64, 64, 64], compression={"type": "gzip"}
    )
    assert attrs.dimensions == [186, 226, 27]
    assert read_attributes(c2, "mri/c0/s0").block_size == [64, 64, 64]
    np.testing.assert_array_equal(read_full(spark, c2, "mri/c0/s0"), golden)


def test_n5_region_to_tif(spark):
    from n5_dask_spark.sources.tiff import n5_region_to_tif, read_tiff

    golden = fixture_volume_xyz()
    out = os.path.join(tmpdir(), "block.tif")
    n5_region_to_tif(spark, FIXTURE, FIXTURE_DS, out, [10, 20, 7], [60, 90, 8])
    np.testing.assert_array_equal(read_tiff(out), golden[10:60, 20:90, 7].T)


def test_tif_dtype_cast_on_export(spark):
    from n5_dask_spark.sources.tiff import n5_to_tif_series, read_tiff

    out_dir = tmpdir()
    n5_to_tif_series(spark, FIXTURE, FIXTURE_DS, out_dir, dtype_override="uint16")
    arr = read_tiff(sorted(glob.glob(f"{out_dir}/*.tif"))[0])
    assert arr.dtype == np.dtype("u2")
    np.testing.assert_array_equal(arr, fixture_volume_xyz()[:, :, 0].T.astype("u2"))
    with pytest.raises(TypeError, match="unsafe"):
        n5_to_tif_series(spark, FIXTURE, FIXTURE_DS, tmpdir(), dtype_override="int8")


# --- round-6 review regressions --------------------------------------------


def test_sparse_n5_export_fills_missing_slices(spark):
    """A sparse N5 container (absent blocks = fill value) must export a
    COMPLETE slice series: gaps in the numbering would make a re-import
    compact the series (z comes from sorted-file position) and silently
    shift the volume in z."""
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import temp_container, write_array
    from n5_dask_spark.sources.tiff import n5_to_tif_series, read_tiff, tif_series_to_n5

    rng = np.random.default_rng(21)
    vol = rng.integers(1, 255, (8, 8, 12), dtype=np.uint8)  # xyz, 3 z-blocks
    vol[:, :, 4:8] = 0  # middle z-block all background
    c = temp_container()
    write_array(spark, vol, c, "a/s0", block_size=[8, 8, 4])
    # sparsify: remove the all-zero middle block file if present, else
    # confirm the writer already skipped it — either way z=4..7 has no block
    mid = os.path.join(c, "a/s0", "0", "0", "1")
    if os.path.exists(mid):
        os.remove(mid)
    out_dir = tmpdir()
    n = n5_to_tif_series(spark, c, "a/s0", out_dir)
    assert n == 12
    files = sorted(glob.glob(f"{out_dir}/*.tif"))
    assert len(files) == 12  # no gaps
    np.testing.assert_array_equal(read_tiff(files[5]), np.zeros((8, 8), np.uint8))
    c2 = temp_container()
    tif_series_to_n5(spark, out_dir, c2, "a/s0", [8, 8, 4])
    np.testing.assert_array_equal(read_full(spark, c2, "a/s0"), vol)


def test_ifd_cycle_raises():
    from n5_dask_spark.sources.tiff import encode_tiff, tiff_page_offsets

    buf = bytearray(encode_tiff(np.zeros((2, 2), np.uint8)))
    # point the next-IFD pointer (last 4 bytes) back at the first IFD
    import struct

    (ifd_off,) = struct.unpack_from("<I", buf, 4)
    struct.pack_into("<I", buf, len(buf) - 4, ifd_off)
    with pytest.raises(ValueError, match="cycles"):
        tiff_page_offsets(bytes(buf))


def test_odd_payload_pages_stay_word_aligned():
    """TIFF requires IFDs (and value offsets) on word boundaries; odd-sized
    strips must be padded, not shift every later structure to odd offsets."""
    import struct

    from n5_dask_spark.sources.tiff import (
        decode_tiff_page,
        encode_tiff,
        encode_tiff_pages,
        tiff_page_offsets,
    )

    one = encode_tiff(np.arange(9, dtype=np.uint8).reshape(3, 3))  # 9-byte strip
    (ifd_off,) = struct.unpack_from("<I", one, 4)
    assert ifd_off % 2 == 0
    pages = [np.full((3, 3), i, np.uint8) for i in range(4)]  # odd strips
    buf = encode_tiff_pages(pages, description="odd")
    _, offsets = tiff_page_offsets(buf)
    assert all(o % 2 == 0 for o in offsets)
    for i in range(4):
        np.testing.assert_array_equal(decode_tiff_page(buf, i), pages[i])


def test_series_with_mismatched_slice_refused(spark):
    from n5_dask_spark.sources.n5.writer import temp_container
    from n5_dask_spark.sources.tiff import tif_series_to_n5, write_tiff

    src = tmpdir()
    write_tiff(os.path.join(src, "slice00000.tif"), np.zeros((8, 8), np.uint8))
    write_tiff(os.path.join(src, "slice00001.tif"), np.zeros((4, 8), np.uint8))
    with pytest.raises(Exception, match="must share one shape and dtype"):
        tif_series_to_n5(spark, src, temp_container(), "a/s0", [8, 8, 2])


def test_tif_series_zero_byte_and_corrupt_slices_fail_loudly(spark):
    """r10 corrupt-block probe, TIFF lane: the scan then read slices
    through Spark's binaryFile listing, which silently drops zero-length
    files, so a truncated-to-empty slice vanished from the scan while the
    driver glob counted it — the import zero-filled that z as if it were
    a sparse-export gap (silent wrong data). The scan refuses zero-byte
    slices; a non-empty corrupt slice fails naming the file."""
    from n5_dask_spark.sources.n5.writer import temp_container
    from n5_dask_spark.sources.tiff import tif_series_scan, tif_series_to_n5, write_tiff

    src = tmpdir()
    for z in range(4):
        write_tiff(os.path.join(src, f"s{z:03d}.tif"), np.full((4, 6), z + 1, np.uint8))
    open(os.path.join(src, "s002.tif"), "wb").close()  # truncate to empty
    with pytest.raises(ValueError, match="zero-byte .tif slice"):
        tif_series_scan(spark, src).to_df().collect()
    with pytest.raises(ValueError, match="zero-byte .tif slice"):
        tif_series_to_n5(spark, src, temp_container(), "a/s0", [6, 4, 4])

    # non-empty garbage slice: loud AND names the file
    write_tiff(os.path.join(src, "s002.tif"), np.full((4, 6), 3, np.uint8))
    with open(os.path.join(src, "s001.tif"), "wb") as f:
        f.write(b"\x00\x01garbage-not-a-tiff")
    with pytest.raises(Exception, match="s001.tif"):
        tif_series_to_n5(spark, src, temp_container(), "a/s0", [6, 4, 4])


def test_tif_series_to_n5_empty_dir(spark):
    """r10 ADVICE closure: an empty input_dir raises the same
    FileNotFoundError contract as tif_series_scan, not a bare IndexError
    from files[0]."""
    from n5_dask_spark.sources.n5.writer import temp_container
    from n5_dask_spark.sources.tiff import tif_series_to_n5

    src = tmpdir()  # exists, holds no *.tif
    with pytest.raises(FileNotFoundError, match="no \\*\\.tif"):
        tif_series_to_n5(spark, src, temp_container(), "a/s0", [8, 8, 2])


def test_series_scan_with_hostile_filenames(spark):
    """Slice names with space, %, # and + reach the scan kernel exactly as
    the driver's glob listed them: the plan carries the names and the
    kernel open()s them, with no URI encoding on the way. The scan once
    joined on the path column of Spark's binaryFile source, whose
    encoding Spark decides."""
    from n5_dask_spark.sources.tiff import read_slice, tif_series_scan, write_tiff

    src = tmpdir()
    names = ["my slice 1.tif", "a%20b 2.tif", "pl+us#3.tif"]
    for i, nm in enumerate(names):
        write_tiff(os.path.join(src, nm), np.full((4, 4), i, np.uint8))
    scan = tif_series_scan(spark, src)
    rows = scan.to_df().collect()
    assert sorted(r["z"] for r in rows) == [0, 1, 2]
    assert sorted(os.path.basename(r["path"]) for r in rows) == sorted(names)
    plan = scan.plan

    def sizes(batches):
        import pandas as pd

        yield pd.DataFrame(
            [(z, len(raw)) for _p, (z,), raw in plan.read(batches, read_slice)],
            columns=["z", "n"],
        )

    read = sorted(tuple(r) for r in scan.ids().mapInPandas(sizes, "z int, n long").collect())
    assert read == [(z, os.path.getsize(os.path.join(src, nm))) for z, nm in enumerate(names)]


def test_probe_reads_header_only():
    from n5_dask_spark.sources.tiff import tiff_probe_file, write_tiff

    path = os.path.join(tmpdir(), "p.tif")
    write_tiff(path, np.zeros((6, 9), np.uint16))
    (h, w), dt = tiff_probe_file(path)
    assert (h, w) == (6, 9)
    assert dt == np.dtype("uint16")


def test_series_scan_refuses_mid_write(spark):
    """r14 probe (N5-parity gap, closed): the series sink's job window is
    now marker-fenced. A mid-write scan here is worse than the N5 case —
    z is assigned by sorted-file POSITION and sink tasks land slices in
    arbitrary order, so a partial series silently COMPACTS the volume
    rather than truncating it. The scan must refuse while the marker
    exists and proceed once it is released (or deliberately deleted —
    the accept-partial escape hatch)."""
    from n5_dask_spark.sources.n5.metadata import INCOMPLETE_MARKER
    from n5_dask_spark.sources.tiff import tif_series_scan, write_tiff

    out_dir = tmpdir()
    # a "mid-write" series: 2 of what will be more slices, marker held
    write_tiff(os.path.join(out_dir, "slice00000.tif"), np.zeros((4, 5), np.uint8))
    write_tiff(os.path.join(out_dir, "slice00002.tif"), np.zeros((4, 5), np.uint8))
    marker = os.path.join(out_dir, INCOMPLETE_MARKER)
    open(marker, "w").write("writer pid 7\n")
    with pytest.raises(ValueError, match="write-session marker"):
        tif_series_scan(spark, out_dir)
    os.unlink(marker)  # the documented escape hatch: partial IS compacted
    assert tif_series_scan(spark, out_dir).to_df().count() == 2


def test_series_sink_claims_marker_and_refuses_second_writer(spark):
    """The sink claims the marker BEFORE any slice lands (a held marker
    refuses a second export up front with zero side effects) and releases
    it only after the sparse-gap fill, so a completed export is
    immediately scannable."""
    from n5_dask_spark.sources.n5.metadata import INCOMPLETE_MARKER
    from n5_dask_spark.sources.tiff import n5_to_tif_series, tif_series_scan

    out_dir = tmpdir()
    marker = os.path.join(out_dir, INCOMPLETE_MARKER)
    open(marker, "w").write("writer pid 7\n")  # a live rival's window
    with pytest.raises(RuntimeError, match="marker .* already exists"):
        n5_to_tif_series(spark, FIXTURE, FIXTURE_DS, out_dir)
    assert glob.glob(f"{out_dir}/*.tif") == []  # refused before any write
    os.unlink(marker)
    assert n5_to_tif_series(spark, FIXTURE, FIXTURE_DS, out_dir) == 27
    assert not os.path.exists(marker)  # released: series visible
    assert tif_series_scan(spark, out_dir).to_df().count() == 27
