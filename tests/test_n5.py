"""N5 core tests (SURVEY.md §5): codec golden checks against the reference
fixture, region reads, write/read roundtrips across codecs, rechunk
property tests, windowed-mean downsample semantics, multiscale pyramid."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pytest

FIXTURE = "/root/reference/data/test.n5"
FIXTURE_DS = "mri/c0/s0"


# ---------------------------------------------------------------------------
# Codec (no Spark needed)
# ---------------------------------------------------------------------------


def fixture_volume_xyz() -> np.ndarray:
    """Assemble the fixture volume directly from block files (golden)."""
    from n5_dask_spark.sources.n5.codec import decode_block
    from n5_dask_spark.sources.n5.metadata import read_attributes

    attrs = read_attributes(FIXTURE, FIXTURE_DS)
    vol = np.zeros(tuple(reversed(attrs.dimensions)), dtype="u1")  # zyx
    for path in glob.glob(f"{FIXTURE}/{FIXTURE_DS}/*/*/*"):
        gx, gy, gz = (int(p) for p in path.split(os.sep)[-3:])
        arr = decode_block(open(path, "rb").read(), attrs.data_type, attrs.compression)
        z0, y0, x0 = gz * 128, gy * 128, gx * 128
        vol[z0 : z0 + arr.shape[0], y0 : y0 + arr.shape[1], x0 : x0 + arr.shape[2]] = arr
    return vol.transpose(2, 1, 0)


def test_codec_decodes_fixture_blocks():
    from n5_dask_spark.sources.n5.codec import decode_block, decode_header
    from n5_dask_spark.sources.n5.metadata import read_attributes

    attrs = read_attributes(FIXTURE, FIXTURE_DS)
    assert attrs.dimensions == [186, 226, 27]
    assert attrs.grid_shape == [2, 2, 1]
    raw = open(f"{FIXTURE}/{FIXTURE_DS}/1/1/0", "rb").read()
    mode, dims, _ = decode_header(raw)
    assert mode == 0
    assert list(dims) == attrs.block_dims((1, 1, 0)) == [58, 98, 27]  # truncated edge
    arr = decode_block(raw, attrs.data_type, attrs.compression)
    assert arr.shape == (27, 98, 58)  # zyx


def test_foreign_4d_container_refused_loudly(tmp_path):
    """N5 legally allows ndim > 3 but this engine's blocks schema carries
    three grid coordinates (reference parity: channels/time are split into
    per-channel 3-D datasets). A foreign 4-D container must fail with a
    clear message at metadata read, not an obscure coordinate error."""
    from n5_dask_spark.sources.n5.metadata import read_attributes

    ds = tmp_path / "c.n5" / "vol4d"
    ds.mkdir(parents=True)
    (tmp_path / "c.n5" / "attributes.json").write_text('{"n5":"2.5.1"}')
    (ds / "attributes.json").write_text(
        json.dumps(
            {
                "dataType": "uint16",
                "dimensions": [64, 64, 16, 2],  # x, y, z, c
                "blockSize": [32, 32, 16, 1],
                "compression": {"type": "gzip"},
            }
        )
    )
    with pytest.raises(NotImplementedError, match="c\\{c\\}/s\\{level\\}"):
        read_attributes(str(tmp_path / "c.n5"), "vol4d")
    # mismatched dimensionality between the two arrays is corrupt metadata
    (ds / "attributes.json").write_text(
        json.dumps(
            {"dataType": "uint8", "dimensions": [8, 8, 8], "blockSize": [8, 8]}
        )
    )
    with pytest.raises(ValueError, match="disagree"):
        read_attributes(str(tmp_path / "c.n5"), "vol4d")


def test_foreign_snappy_blosc_container_reads(tmp_path, spark):
    """A third-party N5 container written with numcodecs.Blosc(cname='snappy')
    must read through the full Spark path. Block files are hand-assembled:
    N5 mode-0 header + a Blosc1 chunk whose single block is a literal-only
    snappy stream (pure literals are legal snappy output for any input, so
    this is spec-constructible without a snappy encoder)."""
    import struct

    from n5_dask_spark.sources.n5.reader import read_full

    from tests.conftest import snappy_varint

    def snappy_literals(p: bytes) -> bytes:
        out = bytearray(snappy_varint(len(p)))
        for i in range(0, len(p), 60):
            c = p[i : i + 60]
            out += bytes([(len(c) - 1) << 2]) + c
        return bytes(out)

    def blosc_snappy_chunk(p: bytes) -> bytes:
        stream = snappy_literals(p)
        cbytes = 16 + 4 + 4 + len(stream)
        return (
            # version=2 versionlz=1 flags = snappy<<5 | not-split, typesize=1
            b"\x02\x01\x50\x01"
            + struct.pack("<iii", len(p), len(p), cbytes)
            + struct.pack("<i", 20)  # one block at offset 20
            + struct.pack("<i", len(stream))
            + stream
        )

    rng = np.random.default_rng(11)
    vol_zyx = rng.integers(0, 255, (8, 8, 16), dtype=np.uint8)  # 2 blocks in x
    ds = tmp_path / "c.n5" / "vol"
    (tmp_path / "c.n5").mkdir()
    ds.mkdir()
    (tmp_path / "c.n5" / "attributes.json").write_text('{"n5":"2.5.1"}')
    (ds / "attributes.json").write_text(
        json.dumps(
            {
                "dataType": "uint8",
                "dimensions": [16, 8, 8],  # x, y, z
                "blockSize": [8, 8, 8],
                "compression": {"type": "blosc", "cname": "snappy", "shuffle": 0},
            }
        )
    )
    for gx in range(2):
        block = vol_zyx[:, :, gx * 8 : (gx + 1) * 8]
        raw = struct.pack(">HH3i", 0, 3, 8, 8, 8) + blosc_snappy_chunk(
            np.ascontiguousarray(block).tobytes()
        )
        bdir = ds / str(gx) / "0"
        bdir.mkdir(parents=True)
        (bdir / "0").write_bytes(raw)
    out_xyz = read_full(spark, str(tmp_path / "c.n5"), "vol")
    np.testing.assert_array_equal(out_xyz, vol_zyx.transpose(2, 1, 0))


def test_foreign_zstd_container_reads(tmp_path, spark):
    """The n5-zstd ecosystem extension: {"type":"zstd"} with a bare zstd
    frame per block. Block payloads here are compressed by the REAL
    libzstd (pyarrow) — a genuinely foreign writer — and must read
    through the full Spark path."""
    import struct

    import pyarrow as pa

    from n5_dask_spark.sources.n5.reader import read_full

    rng = np.random.default_rng(13)
    vol_zyx = rng.integers(0, 255, (8, 8, 16), dtype=np.uint8)  # 2 blocks in x
    ds = tmp_path / "c.n5" / "vol"
    (tmp_path / "c.n5").mkdir()
    ds.mkdir()
    (tmp_path / "c.n5" / "attributes.json").write_text('{"n5":"2.5.1"}')
    (ds / "attributes.json").write_text(
        json.dumps(
            {
                "dataType": "uint8",
                "dimensions": [16, 8, 8],
                "blockSize": [8, 8, 8],
                "compression": {"type": "zstd", "level": 3},
            }
        )
    )
    for gx in range(2):
        block = vol_zyx[:, :, gx * 8 : (gx + 1) * 8]
        raw = struct.pack(">HH3i", 0, 3, 8, 8, 8) + pa.Codec("zstd").compress(
            np.ascontiguousarray(block).tobytes(), asbytes=True
        )
        bdir = ds / str(gx) / "0"
        bdir.mkdir(parents=True)
        (bdir / "0").write_bytes(raw)
    out_xyz = read_full(spark, str(tmp_path / "c.n5"), "vol")
    np.testing.assert_array_equal(out_xyz, vol_zyx.transpose(2, 1, 0))


def test_zstd_codec_roundtrip_and_corruption():
    from n5_dask_spark.sources.n5.codec import decode_block, encode_block

    comp = {"type": "zstd", "level": 3}
    rng = np.random.default_rng(17)
    for dt in ("uint8", "uint16", "float32"):
        arr = (rng.random((5, 7, 3)) * 100).astype(dt)
        out = decode_block(encode_block(arr, dt, comp), dt, comp)
        np.testing.assert_array_equal(out, arr)
    # corrupt frame -> decoder-total ValueError, not an Arrow exception
    good = bytearray(encode_block(np.zeros((4, 4, 4), np.uint8), "uint8", comp))
    good[20] ^= 0xFF
    with pytest.raises(ValueError):
        decode_block(bytes(good), "uint8", comp)


def test_codec_roundtrip_all_compressions():
    from n5_dask_spark.sources.n5.codec import decode_block, encode_block

    rng = np.random.default_rng(7)
    for dt in ("uint8", "uint16", "int32", "float32", "float64"):
        arr = (rng.random((5, 7, 3)) * 100).astype(dt)
        for comp in (
            {"type": "raw"},
            {"type": "gzip", "useZlib": False, "level": -1},
            {"type": "gzip", "useZlib": True, "level": 5},
            {"type": "bzip2"},
            {"type": "xz"},
        ):
            out = decode_block(encode_block(arr, dt, comp), dt, comp)
            np.testing.assert_array_equal(out, arr)


def test_codec_big_endian_payload():
    from n5_dask_spark.sources.n5.codec import encode_block

    arr = np.array([[[0x0102]]], dtype="u2")
    raw = encode_block(arr, "uint16", {"type": "raw"})
    assert raw[-2:] == b"\x01\x02"  # big-endian on disk


def test_windowed_mean_partial_edges():
    from n5_dask_spark.sources.n5.transforms import windowed_mean_zyx

    a = np.arange(5, dtype="f8").reshape(1, 1, 5)
    out = windowed_mean_zyx(a, [1, 1, 2])
    np.testing.assert_allclose(out[0, 0], [0.5, 2.5, 4.0])  # last window = 1 elem
    b = np.arange(24, dtype="f8").reshape(2, 3, 4)
    out = windowed_mean_zyx(b, [2, 2, 2])
    assert out.shape == (1, 2, 2)
    np.testing.assert_allclose(out[0, 0, 0], np.mean([0, 1, 4, 5, 12, 13, 16, 17]))
    np.testing.assert_allclose(out[0, 1, 1], np.mean([10, 11, 22, 23]))  # partial y


# ---------------------------------------------------------------------------
# Spark reader/writer/transforms
# ---------------------------------------------------------------------------


def test_scan_and_stats(spark):
    from n5_dask_spark.sources.n5.reader import block_stats, scan_block_files

    files = scan_block_files(spark, FIXTURE, FIXTURE_DS).to_df().collect()
    assert len(files) == 4
    assert {(r.gx, r.gy, r.gz) for r in files} == {(0, 0, 0), (0, 1, 0), (1, 0, 0), (1, 1, 0)}
    stats = {(r.gx, r.gy, r.gz): r for r in block_stats(spark, FIXTURE, FIXTURE_DS).collect()}
    golden = fixture_volume_xyz()
    blk = golden[128:, 128:, :]  # gx=1, gy=1
    assert stats[(1, 1, 0)].n_elems == blk.size
    assert stats[(1, 1, 0)].vsum == float(blk.sum(dtype="f8"))


def test_read_region_matches_golden(spark):
    from n5_dask_spark.sources.n5.reader import read_full, read_region

    golden = fixture_volume_xyz()
    full = read_full(spark, FIXTURE, FIXTURE_DS)
    np.testing.assert_array_equal(full, golden)
    # region straddling all four blocks
    reg = read_region(spark, FIXTURE, FIXTURE_DS, [100, 100, 5], [150, 160, 20])
    np.testing.assert_array_equal(reg, golden[100:150, 100:160, 5:20])
    # clamped + out-of-bounds regions (fill-value contract: requested shape)
    assert read_region(spark, FIXTURE, FIXTURE_DS, [0, 0, 0], [1, 1, 1]).shape == (1, 1, 1)
    oob = read_region(spark, FIXTURE, FIXTURE_DS, [300, 0, 0], [310, 1, 1])
    assert oob.shape == (10, 1, 1) and (oob == 0).all()


@pytest.mark.parametrize("comp", [{"type": "raw"}, {"type": "gzip"}, {"type": "bzip2"}])
def test_write_read_roundtrip(spark, comp):
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    rng = np.random.default_rng(42)
    arr = (rng.random((50, 37, 19)) * 255).astype("u1")  # non-divisible dims
    out = temp_container()
    write_array(spark, arr, out, "vol/s0", [16, 16, 16], compression=comp)
    back = read_full(spark, out, "vol/s0")
    np.testing.assert_array_equal(back, arr)
    meta = json.load(open(f"{out}/vol/s0/attributes.json"))
    assert meta["dimensions"] == [50, 37, 19]
    assert json.load(open(f"{out}/attributes.json")) == {"n5": "2.5.1"}


def test_rechunk_roundtrip(spark):
    from n5_dask_spark.sources.n5.reader import decoded_blocks, read_full
    from n5_dask_spark.sources.n5.transforms import rechunk
    from n5_dask_spark.sources.n5.writer import temp_container, write_array, write_blocks

    rng = np.random.default_rng(1)
    arr = (rng.random((40, 25, 13)) * 65535).astype("u2")
    c1 = temp_container()
    write_array(spark, arr, c1, "a/s0", [16, 8, 4])
    blocks = decoded_blocks(spark, c1, "a/s0")
    from n5_dask_spark.sources.n5.metadata import read_attributes

    out_blocks, out_attrs = rechunk(blocks, read_attributes(c1, "a/s0"), [7, 11, 13])
    c2 = temp_container()
    write_blocks(out_blocks, c2, "a/s0", out_attrs)
    np.testing.assert_array_equal(read_full(spark, c2, "a/s0"), arr)


def test_persisted_blocks_frame_is_consumed_from_cache(spark):
    """A pipeline materialized with .to_df() and persisted is consumed
    from its cache, not re-read from the block files. Deleting the files
    after the cache is built shows which path ran — the file path would
    lose every block (a block file deleted after planning reads as
    sparse). The one materialization is counted once."""
    import shutil

    from n5_dask_spark.sources.n5 import fuse
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    arr = np.arange(16 * 8 * 8, dtype="u1").reshape(16, 8, 8)  # xyz
    c = temp_container()
    write_array(spark, arr, c, "a/s0", [8, 8, 8])
    fuse.MATERIALIZATIONS.clear()
    blocks = decoded_blocks(spark, c, "a/s0").to_df().persist()
    try:
        assert blocks.count() == 2
        for gx in ("0", "1"):
            shutil.rmtree(os.path.join(c, "a/s0", gx))

        def sums(gx, gy, gz, a):
            yield (int(gx), int(a.sum()))

        rows = fuse.consume_block_rows(
            blocks, np.dtype("u1"), sums, ["gx", "vsum"], "gx int, vsum long"
        ).collect()
        assert sorted(tuple(r) for r in rows) == [
            (0, int(arr[:8].sum())), (1, int(arr[8:].sum()))
        ]
        assert sum(fuse.MATERIALIZATIONS.values()) == 1
    finally:
        blocks.unpersist()


def test_cast_safe_guard(spark):
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks, read_full
    from n5_dask_spark.sources.n5.transforms import cast_blocks
    from n5_dask_spark.sources.n5.writer import temp_container, write_array, write_blocks

    arr = np.arange(60, dtype="u1").reshape(5, 4, 3)
    c = temp_container()
    write_array(spark, arr, c, "a/s0", [4, 4, 4])
    blocks = decoded_blocks(spark, c, "a/s0")
    attrs = read_attributes(c, "a/s0")
    with pytest.raises(TypeError):
        cast_blocks(blocks, attrs, "int8")  # unsafe
    out_blocks, out_attrs = cast_blocks(blocks, attrs, "uint16")
    c2 = temp_container()
    write_blocks(out_blocks, c2, "a/s0", out_attrs)
    back = read_full(spark, c2, "a/s0")
    assert back.dtype == np.dtype("u2")
    np.testing.assert_array_equal(back, arr.astype("u2"))


def test_write_region(spark):
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import temp_container, write_array, write_region

    arr = np.zeros((32, 32, 8), dtype="u1")
    c = temp_container()
    write_array(spark, arr, c, "a/s0", [16, 16, 8])
    patch = np.full((10, 12, 4), 9, dtype="u1")
    write_region(spark, c, "a/s0", patch, [8, 12, 2])
    expect = arr.copy()
    expect[8:18, 12:24, 2:6] = 9
    np.testing.assert_array_equal(read_full(spark, c, "a/s0"), expect)


def test_multiscale_pyramid_fixture(spark):
    """README-style smoke (reference README.md:17-21): copy the fixture,
    build the pyramid, check level shapes + values vs numpy reference."""
    from n5_dask_spark.sources.n5.metadata import read_attributes, read_raw_attributes
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.transforms import build_multiscale, windowed_mean_zyx
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    golden = fixture_volume_xyz()
    c = temp_container()
    write_array(
        spark,
        golden,
        c,
        "mri/c0/s0",
        [64, 64, 64],
        compression={"type": "gzip"},
        extra_attrs={"pixelResolution": {"unit": "pixel", "dimensions": [1.0, 1.0, 1.0]}},
    )
    levels = build_multiscale(spark, c, "mri/c0", thumbnail_size_xyz=[64, 64, 64])
    assert levels == ["s0", "s1", "s2"]  # 186,226,27 -> 93,113,14 -> 47,57,7

    a1 = read_attributes(c, "mri/c0/s1")
    assert a1.dimensions == [93, 113, 14]
    assert a1.extra["downsamplingFactors"] == [2.0, 2.0, 2.0]
    assert a1.extra["pixelResolution"]["dimensions"] == [2.0, 2.0, 2.0]

    s1 = read_full(spark, c, "mri/c0/s1")
    ref1 = (
        windowed_mean_zyx(golden.transpose(2, 1, 0).astype("f8"), [2, 2, 2])
        .astype("u1")
        .transpose(2, 1, 0)
    )
    np.testing.assert_array_equal(s1, ref1)

    s2 = read_full(spark, c, "mri/c0/s2")
    ref2 = (
        windowed_mean_zyx(ref1.transpose(2, 1, 0).astype("f8"), [2, 2, 2])
        .astype("u1")
        .transpose(2, 1, 0)
    )
    np.testing.assert_array_equal(s2, ref2)

    root = read_raw_attributes(c, "mri/c0")
    assert root["scales"] == [[1.0, 1.0, 1.0], [2.0, 2.0, 2.0], [4.0, 4.0, 4.0]]


def test_create_from_template(spark):
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.writer import create_from_template, temp_container

    out = temp_container()
    attrs = create_from_template(FIXTURE, FIXTURE_DS, out, "copy/s0")
    assert attrs.dimensions == [186, 226, 27]
    assert attrs.compression["type"] == "gzip"
    got = read_attributes(out, "copy/s0")
    assert got.block_size == [128, 128, 128]
    attrs2 = create_from_template(FIXTURE, FIXTURE_DS, out, "raw/s0", compression="raw", data_type="uint16")
    assert attrs2.compression == {"type": "raw"} and attrs2.data_type == "uint16"


# ---------------------------------------------------------------------------
# Region guard + distributed slab export (S4 at scale)
# ---------------------------------------------------------------------------


def test_read_region_guard_rejects_large_regions(spark, monkeypatch):
    """Past the byte guard, read_region must refuse to stitch on the driver
    and point at the distributed export path."""
    from n5_dask_spark.sources.n5.reader import read_region

    # 3 MB guard: one decoded 128^3 uint8 block (2 MB) fits, but a region
    # crossing all four fixture blocks (8 MB decoded on the driver) must
    # refuse — the guard bounds what the driver MATERIALIZES (blocks +
    # region), not just the requested region size
    monkeypatch.setenv("SPARK_GRAFT_MAX_REGION_BYTES", str(3 * 1024 * 1024))
    with pytest.raises(ValueError, match="export_region"):
        read_region(spark, FIXTURE, FIXTURE_DS, [0, 0, 0], [186, 226, 2])  # thin, 4 blocks
    # under the guard (single-block) still works
    got = read_region(spark, FIXTURE, FIXTURE_DS, [0, 0, 0], [16, 16, 4])
    assert got.shape == (16, 16, 4)


def test_export_region_matches_numpy(spark):
    """Distributed slab export == numpy slice, across a re-chunk and an
    origin shift (no driver stitch anywhere in the path)."""
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.transforms import export_region
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    arr = (np.arange(30 * 22 * 14, dtype=np.uint16) % 911).reshape(30, 22, 14)
    src = temp_container()
    write_array(spark, arr, src, "a/s0", [8, 8, 8], compression={"type": "gzip"})
    out = temp_container()
    attrs = export_region(
        spark, src, "a/s0", [3, 5, 2], [19, 20, 13], out, "roi/s0", block_size=[5, 6, 4]
    )
    assert attrs.dimensions == [16, 15, 11]
    np.testing.assert_array_equal(read_full(spark, out, "roi/s0"), arr[3:19, 5:20, 2:13])


def test_export_region_out_of_bounds_zero_fill(spark):
    """Region extending past the source dims exports zeros there (sparse
    target blocks), mirroring read_region's fill-value contract."""
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.transforms import export_region
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    arr = (np.arange(30 * 22 * 14, dtype=np.uint8) % 251).reshape(30, 22, 14) + 1
    src = temp_container()
    write_array(spark, arr, src, "a/s0", [16, 16, 16])
    out = temp_container()
    export_region(spark, src, "a/s0", [20, 10, 5], [40, 30, 20], out, "roi/s0")
    got = read_full(spark, out, "roi/s0")
    expect = np.zeros((20, 20, 15), dtype=np.uint8)
    expect[: 30 - 20, : 22 - 10, : 14 - 5] = arr[20:30, 10:22, 5:14]
    np.testing.assert_array_equal(got, expect)


def test_write_region_batches_edge_reads_into_one_scan(spark, monkeypatch):
    """A large unaligned region has O(perimeter) edge blocks; their RMW
    reads must not cost one Spark job per edge block (ADVICE r5). They run
    on the driver through read_block_file, so no scan runs at all."""
    from n5_dask_spark.sources.n5 import reader as rd
    from n5_dask_spark.sources.n5 import writer as wr
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import temp_container, write_array, write_region

    arr = np.zeros((24, 24, 24), dtype="u1")
    c = temp_container()
    write_array(spark, arr, c, "a/s0", [8, 8, 8])
    calls = {"n": 0}
    real = rd.scan_block_files

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    # write_region resolves the scan through the reader module
    monkeypatch.setattr(rd, "scan_block_files", counting)
    patch = np.full((20, 20, 20), 9, dtype="u1")  # unaligned: 26 edge blocks
    write_region(spark, c, "a/s0", patch, [1, 1, 1])
    assert calls["n"] == 0, f"expected no edge scan, got {calls['n']}"
    expect = arr.copy()
    expect[1:21, 1:21, 1:21] = 9
    np.testing.assert_array_equal(read_full(spark, c, "a/s0"), expect)


def test_write_region_large_region_under_tight_guard(spark, monkeypatch):
    """write_region must work for regions larger than read_region's guard:
    edge-block RMW reads batch in guard-bounded groups, so no single scan
    ever exceeds the guard."""
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import temp_container, write_array, write_region

    arr = np.ones((24, 24, 12), dtype="u1")
    c = temp_container()
    write_array(spark, arr, c, "a/s0", [8, 8, 8])
    # guard of one block (512 B < patch's 2.6 KB span): the old whole-span
    # read-modify-write would raise; per-block RMW must succeed
    monkeypatch.setenv("SPARK_GRAFT_MAX_REGION_BYTES", str(8 * 8 * 8))
    patch = np.full((18, 14, 9), 7, dtype="u1")
    write_region(spark, c, "a/s0", patch, [3, 5, 2])
    monkeypatch.delenv("SPARK_GRAFT_MAX_REGION_BYTES")
    expect = arr.copy()
    expect[3:21, 5:19, 2:11] = 7
    np.testing.assert_array_equal(read_full(spark, c, "a/s0"), expect)


def test_corrupt_block_files_fail_loudly_zero_byte_is_not_sparse(spark):
    """r10 corrupt-block probe: the scan then used Spark's binaryFile
    listing, which silently DROPS zero-length files, so before the guard
    a zero-byte block file (torn external writer / partial put /
    disk-full truncation) read its populated grid cell as fill-value
    zeros — silent wrong data,
    indistinguishable from legal sparseness. Pins all three corruption
    modes loud (zero-byte via the new scan guard; truncated and garbage
    via decode_block), and the contrast: a DELETED block file stays the
    legal sparse fill-value read."""
    import pathlib

    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    arr = (np.arange(16 * 16 * 8) % 251).astype(np.uint8).reshape(16, 16, 8)

    def fresh(corrupt):
        c = temp_container("corrupt")
        write_array(spark, arr, c, "d/s0", [8, 8, 4], compression={"type": "gzip"})
        bf = sorted(
            p
            for p in pathlib.Path(c, "d/s0").rglob("*")
            if p.is_file() and p.name != "attributes.json"
        )[2]
        corrupt(bf)
        return c

    # zero-byte: the silent lane, now refused loudly by the scan guard
    c = fresh(lambda bf: bf.write_bytes(b""))
    with pytest.raises(ValueError, match="zero-byte block file"):
        read_full(spark, c, "d/s0")

    # truncated / garbage: loud, and the error NAMES the file (a
    # million-block job must point at the bad object, not a bare
    # struct/zlib error — decode_block_at)
    for corrupt in (
        lambda bf: bf.write_bytes(bf.read_bytes()[: len(bf.read_bytes()) // 2]),
        lambda bf: bf.write_bytes(b"\x00\x01" + b"\xff" * 64),
    ):
        c = fresh(corrupt)
        with pytest.raises(ValueError, match="corrupt N5 block file .*/d/s0/"):
            read_full(spark, c, "d/s0")

    # deleted: legal N5 sparseness — fill-value zeros for that block only
    c = fresh(lambda bf: bf.unlink())
    back = read_full(spark, c, "d/s0")
    assert back.shape == arr.shape
    assert not np.array_equal(back, arr)  # one block zeroed
    assert (back == arr).mean() > 0.5  # the other seven blocks intact


# The two scan paths and the two ways to address a container that every
# read-path guard must hold on: the glob scan (block_stats) and
# spark.read.format("n5"), over a local path and a file: URI.
SCANS = ("glob", "format")
ADDRESSES = ("local", "uri")


def _address(container: str, address: str) -> str:
    return "file:" + container if address == "uri" else container


def _scan(spark, scan: str, container: str, dataset: str) -> list:
    """The rows of one full scan of ``dataset`` by the named scan path."""
    if scan == "glob":
        from n5_dask_spark.sources.n5.reader import block_stats

        return block_stats(spark, container, dataset).collect()
    from n5_dask_spark.sources.n5.datasource import register_n5_source

    register_n5_source(spark)
    return (
        spark.read.format("n5").option("path", container).option("dataset", dataset)
        .load().collect()
    )


@pytest.mark.parametrize("address", ADDRESSES)
@pytest.mark.parametrize("scan", SCANS)
def test_stale_blocks_from_inplace_shrink_refused(spark, scan, address):
    """r10 stale-block probe: N5 leaves old block files behind when a
    dataset is overwritten in place with SMALLER dimensions, and before
    the guard the glob scan read them as data (a 16x16x8 volume shrunk
    to 8x8x4 still block_stats'ed all 8 old blocks — 7 stale). Both scan
    paths plan from the same listing and refuse loudly; format("n5")
    used to read the in-grid cell silently. Grid-math-pruned region reads
    stay immune and correct."""
    from n5_dask_spark.sources.n5.reader import decoded_blocks, read_full
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    big = np.full((16, 16, 8), 9, np.uint8)
    small = np.full((8, 8, 4), 1, np.uint8)
    c = temp_container("stale")
    write_array(spark, big, c, "d/s0", [8, 8, 4])  # 2x2x2 grid
    write_array(spark, small, c, "d/s0", [8, 8, 4])  # in-place shrink: 1-block grid
    c = _address(c, address)
    with pytest.raises(Exception, match="stale block file"):
        _scan(spark, scan, c, "d/s0")
    if scan == "glob":
        with pytest.raises(ValueError, match="stale block file"):
            decoded_blocks(spark, c, "d/s0").to_df().collect()
    # region read enumerates from grid math: immune by construction
    np.testing.assert_array_equal(read_full(spark, c, "d/s0"), small)

    # a FRESH dataset of the same small shape scans clean
    c2 = temp_container("fresh")
    write_array(spark, small, c2, "d/s0", [8, 8, 4])
    assert len(_scan(spark, scan, _address(c2, address), "d/s0")) == 1


def test_corrupt_attributes_json_fails_naming_the_file(tmp_path):
    """r10 corrupt-metadata probe: a torn/garbage attributes.json must
    fail naming the file (a bare JSONDecodeError is unactionable at fleet
    scale), and an unknown dataType fails at attribute parse, not at the
    first decode far from the cause."""
    from n5_dask_spark.sources.n5.metadata import read_attributes, read_raw_attributes

    c = tmp_path / "c.n5"
    (c / "ds").mkdir(parents=True)
    (c / "attributes.json").write_text('{"n5":"2.5.1"}')
    (c / "ds" / "attributes.json").write_text('{"dataType": "uint8", "dim')
    with pytest.raises(ValueError, match="corrupt attributes.json at .*/ds/"):
        read_attributes(str(c), "ds")
    with pytest.raises(ValueError, match="corrupt attributes.json at .*/ds/"):
        read_raw_attributes(str(c), "ds")
    (c / "ds" / "attributes.json").write_text(
        json.dumps(
            {
                "dataType": "complex128",
                "dimensions": [8, 8, 8],
                "blockSize": [8, 8, 8],
                "compression": {"type": "raw"},
            }
        )
    )
    with pytest.raises(ValueError, match="unsupported N5 dataType"):
        read_attributes(str(c), "ds")


def test_oversized_block_refused(spark, monkeypatch):
    """r10 oversized-block probe: a foreign block whose header declares
    dims LARGER than its grid cell spills voxels into neighboring cells'
    coordinates — read_full let whichever block decoded later win the
    overlap (order-dependent silent wrong data) and block_stats counted
    1024 elems for an 8^3 cell. Every decode path refuses it, naming the
    file: region reads, the glob scan and its consumers (block_stats,
    decoded_blocks, the n5ops histogram and z-profile kernels, which
    once counted the spilled voxels), format("n5") and write_region's
    edge merge. A legally SMALLER (edge-truncation-style) block still
    reads."""
    import struct

    from n5_dask_spark.operators import n5ops
    from n5_dask_spark.sources.n5.datasource import register_n5_source
    from n5_dask_spark.sources.n5.reader import block_stats, decoded_blocks, read_full
    from n5_dask_spark.sources.n5.writer import temp_container, write_array, write_region

    arr = np.full((16, 8, 8), 5, np.uint8)  # 2 blocks in x at bs 8
    c = temp_container("ovf")
    write_array(spark, arr, c, "d/s0", [8, 8, 8])
    big = np.full((8, 8, 16), 200, np.uint8)  # zyx: 16 wide in x
    raw = struct.pack(">HH3i", 0, 3, 16, 8, 8) + big.tobytes()
    with open(os.path.join(c, "d/s0/0/0/0"), "wb") as f:
        f.write(raw)
    register_n5_source(spark)
    monkeypatch.setattr(n5ops, "FIXTURE", c)
    monkeypatch.setattr(n5ops, "FIXTURE_DS", "d/s0")
    reads = {
        "read_full": lambda: read_full(spark, c, "d/s0"),
        "block_stats": lambda: block_stats(spark, c, "d/s0").collect(),
        "decoded_blocks": lambda: decoded_blocks(spark, c, "d/s0").to_df().collect(),
        "format": lambda: (
            spark.read.format("n5").option("path", c).option("dataset", "d/s0")
            .load().collect()
        ),
        "write_region": lambda: write_region(
            spark, c, "d/s0", np.zeros((4, 8, 8), np.uint8), [0, 0, 0]
        ),
        "histogram": lambda: n5ops.n5_intensity_histogram(spark, "").collect(),
        "zprofile": lambda: n5ops.n5_zprofile(spark, "").collect(),
    }
    for name, read in reads.items():
        with pytest.raises(Exception, match="holds at most"):
            read()
            pytest.fail(f"{name} read the oversized block")
    monkeypatch.undo()

    # undersized (conservative edge truncation): legal, fills the rest
    small = np.full((8, 8, 4), 7, np.uint8)
    raw = struct.pack(">HH3i", 0, 3, 4, 8, 8) + small.tobytes()
    with open(os.path.join(c, "d/s0/0/0/0"), "wb") as f:
        f.write(raw)
    back = read_full(spark, c, "d/s0")
    assert (back[:4, :, :] == 7).all() and (back[8:, :, :] == 5).all()


def test_scan_audit_escape_hatch(spark):
    """The integrity audit has no off switch: an environment knob once
    skipped it, and its only effect was to reopen the silent lane the
    audit closes (an empty file read as absent turns its populated cell
    into fill value)."""
    import pathlib

    from n5_dask_spark.sources.n5.reader import block_stats
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    arr = np.full((16, 8, 8), 5, np.uint8)
    c = temp_container("hatch")
    write_array(spark, arr, c, "d/s0", [8, 8, 8])
    pathlib.Path(c, "d/s0/0/0/0").write_bytes(b"")
    with pytest.raises(ValueError, match="zero-byte block file"):
        block_stats(spark, c, "d/s0").collect()


def _damage(spark, c: str, state: str) -> None:
    """Put the 2x2x2-grid dataset ``d/s0`` of container ``c`` in ``state``."""
    import pathlib

    from n5_dask_spark.sources.n5.metadata import INCOMPLETE_MARKER
    from n5_dask_spark.sources.n5.writer import write_array

    ds = pathlib.Path(c, "d/s0")
    if state == "stale":
        write_array(spark, np.full((8, 8, 4), 1, np.uint8), c, "d/s0", [8, 8, 4])
    elif state == "zero_byte":
        (ds / "0/0/0").write_bytes(b"")
    elif state == "marker":
        (ds / INCOMPLETE_MARKER).write_text("writer pid 0\n")
    elif state == "non_numeric_dir":
        (ds / "foo/0").mkdir(parents=True)
        (ds / "foo/0/1").write_bytes(b"")  # zero-byte, but never a block
    elif state == "absent":
        (ds / "1/0/0").unlink()
    elif state == "non_canonical":
        # a second name for cell (0, 0, 0): read as a number it aliases
        (ds / "0/0/00").write_bytes((ds / "0/0/0").read_bytes())


# dataset state -> the refusal it must raise, or the rows a scan returns
_GUARDS = {
    "stale": "stale block file",
    "zero_byte": "zero-byte block file",
    "marker": "write-session marker",
    "non_numeric_dir": 8,
    "absent": 7,
    "non_canonical": "non-canonical block file name .*d/s0/0/0/00",
}


@pytest.mark.parametrize("state", list(_GUARDS))
@pytest.mark.parametrize("address", ADDRESSES)
@pytest.mark.parametrize("scan", SCANS)
def test_integrity_audit_uri_scheme_parity(spark, scan, address, state):
    """Every read-path guard holds on both scan paths and for both
    container addresses, with the same semantics: stale blocks after an
    in-place shrink, zero-byte blocks and the write-session marker are
    refused; a zero-byte numeric file under a non-numeric directory is
    never a block, and an absent block is legal sparseness (no row). A
    zero-padded name (``0/0/00`` next to ``0/0/0``) is refused: read as a
    number it would give one cell two rows. Both
    paths list and fence through ``reader.list_blocks``; before r11 the
    glob guard skipped URI containers, and before the shared listing
    format("n5") read the in-grid cells of a shrunk dataset silently."""
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    c = temp_container("guards")
    write_array(spark, np.full((16, 16, 8), 9, np.uint8), c, "d/s0", [8, 8, 4])
    _damage(spark, c, state)
    expect = _GUARDS[state]
    if isinstance(expect, str):
        with pytest.raises(Exception, match=expect):
            _scan(spark, scan, _address(c, address), "d/s0")
    else:
        assert len(_scan(spark, scan, _address(c, address), "d/s0")) == expect


@pytest.mark.parametrize("address", ADDRESSES)
def test_explicit_path_scan_guards(spark, address):
    """The explicit-path scan (the pruned lane export_region uses) lists
    the same way: a zero-byte block is refused, and an absent path in the
    list stays legal N5 sparseness."""
    import pathlib

    from n5_dask_spark.sources.n5.reader import scan_block_files
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    c = temp_container("paths")
    write_array(spark, np.full((16, 16, 8), 9, np.uint8), c, "d/s0", [8, 8, 4])
    a = _address(c, address)
    pathlib.Path(c, "d/s0/0/0/0").write_bytes(b"")
    with pytest.raises(ValueError, match="zero-byte block file"):
        scan_block_files(spark, a, "d/s0", 3, paths=[a + "/d/s0/0/0/0"]).to_df().collect()
    os.unlink(os.path.join(c, "d/s0/0/0/0"))
    paths = [a + "/d/s0/0/0/0", a + "/d/s0/1/0/0"]
    assert scan_block_files(spark, a, "d/s0", 3, paths=paths).to_df().count() == 1


def test_n5_read_path_has_one_storage_client():
    """The N5 read path reaches URI storage through fsio's pyarrow
    filesystem only. The Hadoop FileSystem over py4j cannot run in the
    format("n5") planner or in executors, and a second client is how a
    guard came to exist on one scan path but not the other."""
    import pathlib

    import n5_dask_spark.sources.n5 as n5

    root = pathlib.Path(n5.__file__).parent
    for name in ("reader", "datasource", "metadata", "fsio"):
        assert "org.apache.hadoop.fs" not in (root / f"{name}.py").read_text(), name


def test_atomic_writes_restore_umask_permissions(spark, tmp_path):
    """r10 advice: mkstemp creates 0600 temp files, so without the fchmod
    the atomic rename left attributes.json and block files unreadable by
    group/other on shared containers (pre-r10 open('w') wrote
    umask-governed 0644). Pins the restored mode on every sink, which all
    publish through metadata.atomic_publish: attributes.json, write_blocks,
    the format("n5") sink and the TIFF series export."""
    import stat

    from n5_dask_spark.sources.n5.datasource import register_n5_source
    from n5_dask_spark.sources.n5.metadata import read_attributes, write_attributes
    from n5_dask_spark.sources.n5.writer import write_array
    from n5_dask_spark.sources.tiff import n5_to_tif_series

    arr = np.full((8, 8, 4), 3, np.uint8)
    c = str(tmp_path / "perm.n5")
    write_array(spark, arr, c, "d/s0", [8, 8, 4])
    register_n5_source(spark)
    write_attributes(c, "copy/s0", read_attributes(c, "d/s0"))
    (
        spark.read.format("n5").option("path", c).option("dataset", "d/s0").load()
        .write.format("n5").option("path", c).option("dataset", "copy/s0")
        .mode("append").save()
    )
    n5_to_tif_series(spark, c, "d/s0", str(tmp_path / "tif"))
    umask = os.umask(0)
    os.umask(umask)
    want = 0o666 & ~umask
    for rel in (
        "perm.n5/attributes.json", "perm.n5/d/s0/attributes.json", "perm.n5/d/s0/0/0/0",
        "perm.n5/copy/s0/0/0/0", "tif/slice00000.tif",
    ):
        mode = stat.S_IMODE(os.stat(tmp_path / rel).st_mode)
        assert mode == want, (rel, oct(mode), oct(want))


def test_format_write_refuses_duplicate_producers(spark, tmp_path):
    """df.write.format("n5") runs write_blocks' guard at commit: a frame
    with two different blocks for one cell (a union of two versions of a
    dataset) is last-writer-wins chaos, so the write fails naming the
    duplicates and the write-session marker stays, keeping the dataset
    loud as incomplete. The sink once released the marker and shipped
    whichever block landed last."""
    from n5_dask_spark.sources.n5.datasource import register_n5_source
    from n5_dask_spark.sources.n5.metadata import (
        INCOMPLETE_MARKER,
        read_attributes,
        write_attributes,
    )
    from n5_dask_spark.sources.n5.writer import write_array

    c = str(tmp_path / "dup.n5")
    write_array(spark, np.full((16, 8, 8), 1, np.uint8), c, "a/s0", [8, 8, 8])
    write_array(spark, np.full((16, 8, 8), 2, np.uint8), c, "b/s0", [8, 8, 8])
    register_n5_source(spark)

    def blocks(ds):
        return spark.read.format("n5").option("path", c).option("dataset", ds).load()

    write_attributes(c, "out/s0", read_attributes(c, "a/s0"))
    with pytest.raises(Exception, match="duplicate block producers"):
        (
            blocks("a/s0").unionAll(blocks("b/s0"))
            .write.format("n5").option("path", c).option("dataset", "out/s0")
            .mode("append").save()
        )
    assert os.path.exists(os.path.join(c, "out/s0", INCOMPLETE_MARKER))


def test_block_header_more_dims_than_dataset_refused(spark):
    """r10 advice: check_block_shape zipped xyz shape against the
    dataset's ndim-length expectation, so a 4-D header in a 3-D dataset
    had its extra dims unchecked and surfaced as a downstream reshape
    error; now a named refusal."""
    import struct

    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    arr = np.full((8, 8, 8), 5, np.uint8)
    c = temp_container("ndim")
    write_array(spark, arr, c, "d/s0", [8, 8, 8])
    payload = np.full((2, 8, 8, 8), 1, np.uint8)  # 4-D block, 3-D dataset
    raw = struct.pack(">HH4i", 0, 4, 8, 8, 8, 2) + payload.tobytes()
    with open(os.path.join(c, "d/s0/0/0/0"), "wb") as f:
        f.write(raw)
    with pytest.raises(Exception, match="foreign or corrupt block header"):
        read_full(spark, c, "d/s0")


def test_audit_skips_non_numeric_dir_segments(spark):
    """r10 advice: a zero-byte NUMERIC-named file under a NON-numeric
    directory segment is invisible to the scan's coordinate filter, so
    the audit must not hard-fail on it (it was never going to be read)."""
    from n5_dask_spark.sources.n5.reader import block_stats
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    arr = np.full((8, 8, 8), 5, np.uint8)
    c = temp_container("nonnum")
    write_array(spark, arr, c, "d/s0", [8, 8, 8])
    side = os.path.join(c, "d/s0", "foo", "0")
    os.makedirs(side)
    with open(os.path.join(side, "1"), "wb"):
        pass  # zero-byte, scan-invisible
    assert block_stats(spark, c, "d/s0").count() == 1


def test_reader_during_write_refused(spark):
    """r11 probe: reader-during-write visibility on the SAME dataset.
    Every block file is atomic, but the DATASET is not — before the
    marker, a scan concurrent with a sink job read the already-written
    blocks as data and the not-yet-written cells as legal sparse
    fill-value zeros: a silent partial snapshot with zero errors
    (probe-frozen mid-write state below). Pins all four marker semantics:
    mid-write scans/region reads refuse; a concurrent second writer is
    refused up front; a crashed writer leaves the dataset loud; a
    completed write is marker-free and reads clean."""
    from n5_dask_spark.sources.n5.metadata import INCOMPLETE_MARKER, read_attributes
    from n5_dask_spark.sources.n5.reader import block_stats, read_full
    from n5_dask_spark.sources.n5.writer import (
        temp_container,
        write_array,
        write_blocks,
    )

    arr = np.full((16, 16, 8), 9, np.uint8)
    c = temp_container("midwrite")
    write_array(spark, arr, c, "d/s0", [8, 8, 4])  # complete: no marker
    assert not os.path.exists(os.path.join(c, "d/s0", INCOMPLETE_MARKER))
    np.testing.assert_array_equal(read_full(spark, c, "d/s0"), arr)

    # freeze the mid-write state: marker present, half the blocks missing
    # (exactly what a concurrent reader sees halfway through a sink job)
    with open(os.path.join(c, "d/s0", INCOMPLETE_MARKER), "w") as f:
        f.write("writer pid 0\n")
    os.unlink(os.path.join(c, "d/s0/1/0/0"))
    with pytest.raises(ValueError, match="write-session marker"):
        block_stats(spark, c, "d/s0").collect()  # glob branch
    with pytest.raises(ValueError, match="write-session marker"):
        read_full(spark, c, "d/s0")  # explicit-path branch

    # a SECOND writer on the marked dataset is refused up front
    with pytest.raises(RuntimeError, match="another writer is mid-job"):
        write_array(spark, arr, c, "d/s0", [8, 8, 4])

    # URI-scheme parity: the same marked dataset refuses through file:
    from n5_dask_spark.sources.n5.reader import scan_block_files

    with pytest.raises(ValueError, match="write-session marker"):
        scan_block_files(spark, "file:" + c, "d/s0", 3).to_df().collect()

    # operator cleared the marker -> readable again (sparse fill for the
    # deleted 1/0/0 cell only: x 8:, y :8, z :4 of the 2x2x2 grid)
    os.unlink(os.path.join(c, "d/s0", INCOMPLETE_MARKER))
    back = read_full(spark, c, "d/s0")
    assert (back[:8] == 9).all()
    assert (back[8:, :8, :4] == 0).all() and (back[8:, 8:, :] == 9).all()

    # a FAILING sink job leaves the marker: the incomplete dataset stays
    # loud for every subsequent reader and writer
    bad = spark.createDataFrame(
        [(0, 0, 0, [4, 8, 8], b"\x00" * 999)],  # 999 bytes can't reshape
        "gx int, gy int, gz int, shape_zyx array<int>, data binary",
    )
    c2 = temp_container("crash")
    write_array(spark, arr, c2, "d/s0", [8, 8, 4])
    with pytest.raises(Exception):
        write_blocks(bad, c2, "d/s0", read_attributes(c2, "d/s0"))
    assert os.path.exists(os.path.join(c2, "d/s0", INCOMPLETE_MARKER))
    with pytest.raises(ValueError, match="write-session marker"):
        block_stats(spark, c2, "d/s0").collect()


def test_uri_container_sink_never_writes_wrong_filesystem(spark, tmp_path):
    """r11 pinned a blanket local-only refusal here; r13 lifted it (the
    fsio per-scheme commit protocol — see test_n5_uri_write.py for the
    executable file: lanes). The invariant that MUST survive the lift is
    the original bug this test existed for: an object-store URI must
    never degrade into a literal local directory named 's3a:' that
    'succeeds' against the wrong filesystem. With fsio, s3a dispatches to
    a real S3 client; in this offline, credential-less container that
    client fails LOUDLY at the marker claim (region/credentials/network —
    the exact error is environment-dependent), and nothing local is
    created."""
    from n5_dask_spark.sources.n5.writer import write_array

    arr = np.full((8, 8, 4), 1, np.uint8)
    with pytest.raises(Exception):
        write_array(spark, arr, "s3a://bucket/c.n5", "d/s0", [8, 8, 4])
    assert not os.path.exists("s3a:")  # no literal scheme-named dir
    assert not os.path.exists("s3:")
