"""Randomized-geometry property net over the WHOLE registered N5 pipelines
(round-9 verdict item 3): the n5oracle/driver greens exercise one fixed
geometry (32^3 / 16^3 / uint8); this net drives the same registered
pipeline functions — write->scan->decode roundtrip, rechunk, downsample,
region export, sparse-block fill — end to end through Spark on randomized
dims / blockSize / dtype / codec / shuffle combos with numpy as the
oracle, including 1-D / 2-D datasets and non-divisible block factors.

The seed list is sweepable like the other family nets:
``N5_GEOMETRY_NET_SEEDS=0:40 pytest tests/test_n5_geometry_net.py`` runs
seeds 0..39 (the multi-seed protocol that found the r8 sign-bucket bug).

Reference parity: these are the semantics of tif_to_n5.py (grid write),
dask rechunk (T1), n5_multiscale.py:63-136 (T7 windowed mean) and the
n5_to_tif.py region branch (S4/T2) — exercised on geometry the reference's
own tests never vary.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pytest


def _seeds() -> list[int]:
    spec = os.environ.get("N5_GEOMETRY_NET_SEEDS", "")
    if ":" in spec:
        lo, hi = spec.split(":")
        return list(range(int(lo), int(hi)))
    return [0, 1, 2, 3, 4, 5]


# every codec x shuffle family the write path accepts, cycled by seed so a
# 6-seed default run crosses gzip/zlib/lz4/blosc variants and a sweep hits
# all of them; blosc cnames cover four of the five internal codecs
CODECS = [
    {"type": "raw"},
    {"type": "gzip"},
    {"type": "gzip", "useZlib": True, "level": 1},
    {"type": "bzip2", "blockSize": 1},
    {"type": "xz", "preset": 1},
    {"type": "lz4", "blockSize": 4096},
    {"type": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "typesize": 2},
    {"type": "blosc", "cname": "blosclz", "clevel": 5, "shuffle": 2, "typesize": 4},
    {"type": "blosc", "cname": "snappy", "clevel": 5, "shuffle": 0, "typesize": 1},
    {"type": "blosc", "cname": "zlib", "clevel": 1, "shuffle": 1, "typesize": 8},
]

DTYPES = ["uint8", "uint16", "uint32", "int16", "int64", "float32", "float64"]

# all three ndims in every 6-seed window, 3-D weighted (the common case)
NDIM_CYCLE = [3, 2, 1, 3, 3, 2]


def _geometry(seed: int):
    """Deterministic random geometry: (dims_xyz, block_xyz, dtype, codec).

    Dims 1..40 per axis, block sizes 1..17 — non-divisible combinations,
    blocks larger than the volume, and single-voxel axes all occur."""
    rng = random.Random(seed * 9176 + 11)
    ndim = NDIM_CYCLE[seed % len(NDIM_CYCLE)]
    dims = [rng.randint(1, 40) for _ in range(ndim)]
    block = [rng.randint(1, 17) for _ in range(ndim)]
    dtype = DTYPES[seed % len(DTYPES)]
    codec = CODECS[seed % len(CODECS)]
    return dims, block, dtype, codec


def _random_array(seed: int, dims_xyz: list[int], dtype: str) -> np.ndarray:
    rng = np.random.default_rng(seed + 77)
    if dtype.startswith("float"):
        return ((rng.random(tuple(dims_xyz)) - 0.5) * 300).astype(dtype)
    info = np.iinfo(dtype)
    lo, hi = max(info.min, -5000), min(info.max, 5000)
    return rng.integers(lo, hi + 1, tuple(dims_xyz)).astype(dtype)


def _local(container: str) -> str:
    """os-path for the direct-file fault injections (block deletion)."""
    return container[5:] if container.startswith("file:") else container


def _stage(spark, tmp_path, seed: int, tag: str):
    """Write a random-geometry array through the real grid write path and
    return (container, dataset, arr, attrs).

    ODD seeds address the container as a ``file:`` URI, so across any
    sweep every leg exercises the r13 scheme-dispatched write branch
    (fsio per-scheme commit + read-back marker fence) AND the fsio
    URI read branch on the same random geometry/codec space;
    even seeds keep the plain local-path branch covered."""
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.writer import write_array

    dims, block, dtype, codec = _geometry(seed)
    arr = _random_array(seed, dims, dtype)
    container = str(tmp_path / f"{tag}-{seed}.n5")
    if seed % 2:
        container = "file:" + container
    write_array(spark, arr, container, "vol/s0", block, compression=codec)
    return container, "vol/s0", arr, read_attributes(container, "vol/s0")


@pytest.mark.parametrize("seed", _seeds())
def test_net_roundtrip_any_geometry(spark, tmp_path, seed):
    """write_array -> block files -> scan -> decode -> stitch is the
    identity for any dims/blockSize/dtype/codec, and the stored
    attributes describe exactly what was written."""
    from n5_dask_spark.sources.n5.reader import read_full

    container, dataset, arr, attrs = _stage(spark, tmp_path, seed, "rt")
    np.testing.assert_array_equal(read_full(spark, container, dataset), arr)
    assert attrs.dimensions == list(arr.shape)
    dims, block, dtype, codec = _geometry(seed)
    assert attrs.data_type == dtype and attrs.compression["type"] == codec["type"]


@pytest.mark.parametrize("seed", _seeds())
def test_net_rechunk_any_geometry(spark, tmp_path, seed):
    """rechunk to an independently random (usually non-divisible) grid
    preserves every voxel; the re-tiled container holds the same array."""
    from n5_dask_spark.sources.n5.reader import decoded_blocks, read_full
    from n5_dask_spark.sources.n5.transforms import rechunk
    from n5_dask_spark.sources.n5.writer import write_blocks

    container, dataset, arr, attrs = _stage(spark, tmp_path, seed, "rc")
    rng = random.Random(seed * 31 + 7)
    new_bs = [rng.randint(1, 19) for _ in range(attrs.ndim)]
    out_blocks, out_attrs = rechunk(decoded_blocks(spark, container, dataset), attrs, new_bs)
    out = str(tmp_path / f"rc-out-{seed}.n5")
    write_blocks(out_blocks, out, "vol/s0", out_attrs)
    np.testing.assert_array_equal(read_full(spark, out, "vol/s0"), arr)
    assert out_attrs.block_size == new_bs and out_attrs.dimensions == list(arr.shape)


@pytest.mark.parametrize("seed", _seeds())
def test_net_downsample_any_geometry(spark, tmp_path, seed):
    """Block-decomposed windowed mean == whole-array windowed mean for
    random factors on the staged ARBITRARY block size — including
    non-divisible chunkings, which exercise downsample's internal
    factor-aligned rechunk (added r9 after this net exposed the
    'build_multiscale handles that' docstring as fiction) — and
    non-divisible dims (partial edge windows). The whole-array oracle is
    legitimate layering: the kernel itself is brute-force-checked in
    test_properties; block-decomposition equality is the distributed
    invariant under test."""
    from n5_dask_spark.sources.n5.reader import decoded_blocks, read_full
    from n5_dask_spark.sources.n5.transforms import downsample, windowed_mean_zyx
    from n5_dask_spark.sources.n5.writer import write_blocks

    container, dataset, arr, attrs = _stage(spark, tmp_path, seed, "ds")
    rng = random.Random(seed * 53 + 3)
    factors = [rng.randint(1, 3) for _ in arr.shape]
    dtype = attrs.data_type

    out_blocks, out_attrs = downsample(
        decoded_blocks(spark, container, dataset), attrs, factors
    )
    out = str(tmp_path / f"ds-out-{seed}.n5")
    write_blocks(out_blocks, out, "vol/s0", out_attrs)
    got = read_full(spark, out, "vol/s0")

    arr_zyx = arr.transpose(tuple(range(arr.ndim - 1, -1, -1)))
    want_zyx = windowed_mean_zyx(arr_zyx, list(reversed(factors))).astype(dtype)
    want = want_zyx.transpose(tuple(range(want_zyx.ndim - 1, -1, -1)))
    np.testing.assert_array_equal(got, want)
    assert list(got.shape) == out_attrs.dimensions
    assert out_attrs.block_size == attrs.block_size  # caller chunking kept


@pytest.mark.parametrize("seed", _seeds())
def test_net_export_region_any_geometry(spark, tmp_path, seed):
    """export_region of a random in-bounds region, re-read from the
    exported origin-rebased container, equals the numpy slice — a fully
    independent oracle (numpy slicing, no shared kernel)."""
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.transforms import export_region

    container, dataset, arr, attrs = _stage(spark, tmp_path, seed, "ex")
    rng = random.Random(seed * 97 + 5)
    start = [rng.randint(0, d - 1) for d in arr.shape]
    end = [rng.randint(s + 1, d) for s, d in zip(start, arr.shape)]
    out_bs = [rng.randint(1, 9) for _ in arr.shape]
    out = str(tmp_path / f"ex-out-{seed}.n5")
    export_region(spark, container, dataset, start, end, out, "roi/s0", block_size=out_bs)
    got = read_full(spark, out, "roi/s0")
    want = arr[tuple(slice(s, e) for s, e in zip(start, end))]
    np.testing.assert_array_equal(got, want)


@pytest.mark.parametrize("seed", _seeds())
def test_net_sparse_block_reads_as_fill_any_geometry(spark, tmp_path, seed):
    """Deleting a random block file leaves a legal sparse N5 dataset: the
    full read AND a region export spanning the hole both return zeros
    exactly over the deleted block's extent (the N5 fill-value contract
    both read paths document)."""
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.transforms import export_region

    container, dataset, arr, attrs = _stage(spark, tmp_path, seed, "sp")
    rng = random.Random(seed * 131 + 17)
    grid = [
        rng.randrange(0, -(-d // b)) for d, b in zip(attrs.dimensions, attrs.block_size)
    ]
    block_path = os.path.join(_local(container), dataset, *map(str, grid))
    assert os.path.exists(block_path), "staged container must be dense"
    os.remove(block_path)

    expected = arr.copy()
    hole = tuple(
        slice(g * b, min((g + 1) * b, d))
        for g, b, d in zip(grid, attrs.block_size, arr.shape)
    )
    expected[hole] = 0
    np.testing.assert_array_equal(read_full(spark, container, dataset), expected)

    # region export crossing the hole stays sparse-correct too
    out = str(tmp_path / f"sp-out-{seed}.n5")
    start = [max(0, s.start - 1) for s in hole]
    end = [min(d, s.stop + 1) for s, d in zip(hole, arr.shape)]
    export_region(spark, container, dataset, start, end, out, "roi/s0")
    got = read_full(spark, out, "roi/s0")
    want = expected[tuple(slice(s, e) for s, e in zip(start, end))]
    np.testing.assert_array_equal(got, want)


@pytest.mark.parametrize("seed", _seeds())
def test_net_multiscale_any_geometry(spark, tmp_path, seed):
    """build_multiscale on an arbitrary (usually factor-UNALIGNED) block
    size: every written level equals iterated whole-array windowed means
    (astype per level, matching the per-level storage truncation), and
    the loop terminates at the thumbnail cutoff with axis-capped factors
    honored. Before r9 any non-divisible chunking crashed the pyramid."""
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.transforms import build_multiscale, windowed_mean_zyx

    container, dataset, arr, attrs = _stage(spark, tmp_path, seed, "ms")
    rng = random.Random(seed * 211 + 13)
    factors = [rng.randint(1, 3) for _ in arr.shape]
    factors[rng.randrange(len(factors))] = rng.randint(2, 3)  # must shrink
    thumb = [rng.randint(2, 8) for _ in arr.shape]

    levels = build_multiscale(
        spark, container, "vol", tuple(factors), thumbnail_size_xyz=thumb
    )
    want_zyx = arr.transpose(tuple(range(arr.ndim - 1, -1, -1))).astype(attrs.data_type)
    f_zyx = list(reversed(factors))
    for i, lv in enumerate(levels):
        if i > 0:
            want_zyx = windowed_mean_zyx(want_zyx, f_zyx).astype(attrs.data_type)
        got = read_full(spark, container, f"vol/{lv}")
        np.testing.assert_array_equal(
            got.transpose(tuple(range(got.ndim - 1, -1, -1))), want_zyx, err_msg=f"level {lv}"
        )
        lv_attrs = read_attributes(container, f"vol/{lv}")
        assert lv_attrs.block_size == attrs.block_size  # canonical chunking
    # cutoff honored: the last level is final (every axis small or capped)
    assert all(
        d <= t or f <= 1
        for d, t, f in zip(want_zyx.shape[::-1], thumb, factors)
    )


@pytest.mark.parametrize("seed", _seeds())
def test_net_write_region_any_geometry(spark, tmp_path, seed):
    """write_region read-modify-writes a random unaligned region into a
    dataset with one block sparsified first: fully-covered blocks slice
    from the region, edge blocks merge stored bytes, and the absent block
    resolves to fill-value zeros under the merge — numpy assignment onto
    the hole-zeroed array is the oracle."""
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import write_region

    container, dataset, arr, attrs = _stage(spark, tmp_path, seed, "wr")
    rng = random.Random(seed * 307 + 23)
    grid = [
        rng.randrange(0, -(-d // b)) for d, b in zip(attrs.dimensions, attrs.block_size)
    ]
    os.remove(os.path.join(_local(container), dataset, *map(str, grid)))
    expected = arr.copy()
    expected[
        tuple(
            slice(g * b, min((g + 1) * b, d))
            for g, b, d in zip(grid, attrs.block_size, arr.shape)
        )
    ] = 0

    start = [rng.randrange(0, d) for d in arr.shape]
    end = [rng.randint(s + 1, d) for s, d in zip(start, arr.shape)]
    region = _random_array(seed + 5000, [e - s for s, e in zip(start, end)], attrs.data_type)
    write_region(spark, container, dataset, region, start)
    expected[tuple(slice(s, e) for s, e in zip(start, end))] = region
    np.testing.assert_array_equal(read_full(spark, container, dataset), expected)


@pytest.mark.parametrize("seed", _seeds())
def test_net_tiff_series_roundtrip_any_geometry(spark, tmp_path, seed):
    """TIFF family on random geometry (the fixture tests pin one shape):
    a z-slice series imports through tif_series_to_n5 (decode -> rechunk
    shuffle -> N5 write) to the exact source array, and n5_to_tif_series
    exports it back to per-slice TIFFs byte-equal to the source slices —
    numpy + the vector-tested 2-D codec as the oracle on both ends."""
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.tiff import n5_to_tif_series, read_tiff, tif_series_to_n5, write_tiff

    rng = random.Random(seed * 409 + 29)
    dims = [rng.randint(1, 40), rng.randint(1, 40), rng.randint(1, 10)]  # x, y, z
    block = [rng.randint(1, 17) for _ in range(3)]
    dtype = ["uint8", "uint16", "int32", "float32", "float64"][seed % 5]
    codec = CODECS[seed % len(CODECS)]
    arr = _random_array(seed + 900, dims, dtype)

    src = tmp_path / f"tif-src-{seed}"
    src.mkdir()
    for z in range(dims[2]):
        write_tiff(str(src / f"s{z:05d}.tif"), arr[:, :, z].T)  # (Y, X) slice

    container = str(tmp_path / f"tif-{seed}.n5")
    attrs = tif_series_to_n5(spark, str(src), container, "vol/s0", block, compression=codec)
    assert attrs.dimensions == dims and attrs.block_size == block
    np.testing.assert_array_equal(read_full(spark, container, "vol/s0"), arr)

    out = tmp_path / f"tif-out-{seed}"
    n = n5_to_tif_series(spark, container, "vol/s0", str(out))
    assert n == dims[2]
    for z in range(dims[2]):
        got = read_tiff(str(out / f"slice{z:05d}.tif"))
        np.testing.assert_array_equal(got, arr[:, :, z].T, err_msg=f"slice {z}")


@pytest.mark.parametrize("seed", _seeds())
def test_net_ome_multichannel_any_geometry(spark, tmp_path, seed):
    """OME family on random geometry: a multichannel multi-page TIFF with
    embedded OME-XML (random SizeC/SizeZ/dims/dtype and BOTH page
    orders) splits into per-channel N5 volumes equal to the numpy
    source channels, with the page->(c,z) assignment derived from the
    XML's DimensionOrder."""
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.ome import ome_tif_to_n5
    from n5_dask_spark.sources.tiff import encode_tiff_pages

    rng = random.Random(seed * 521 + 31)
    n_c, n_z = rng.randint(1, 4), rng.randint(1, 6)
    dims = [rng.randint(1, 30), rng.randint(1, 30), n_z]  # x, y, z
    block = [rng.randint(1, 13) for _ in range(3)]
    dtype = ["uint8", "uint16", "int32", "float32", "float64"][seed % 5]
    codec = CODECS[seed % len(CODECS)]
    order = ["XYCZT", "XYZCT"][seed % 2]  # zc / cz page assignment
    channels = [_random_array(seed * 7 + c, dims, dtype) for c in range(n_c)]

    if order == "XYCZT":  # C fastest: page p -> (c = p % C, z = p // C)
        pages = [channels[p % n_c][:, :, p // n_c].T for p in range(n_c * n_z)]
    else:  # z fastest: page p -> (c = p // Z, z = p % Z)
        pages = [channels[p // n_z][:, :, p % n_z].T for p in range(n_c * n_z)]
    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<OME xmlns="http://www.openmicroscopy.org/Schemas/OME/2016-06">'
        '<Image ID="Image:0"><Pixels ID="Pixels:0" '
        f'DimensionOrder="{order}" SizeX="{dims[0]}" SizeY="{dims[1]}" '
        f'SizeC="{n_c}" SizeZ="{n_z}" SizeT="1"/></Image></OME>'
    )
    path = str(tmp_path / f"ome-{seed}.tif")
    with open(path, "wb") as f:
        f.write(encode_tiff_pages(pages, description=xml))

    container = str(tmp_path / f"ome-{seed}.n5")
    attrs = ome_tif_to_n5(spark, path, container, "vol", block, compression=codec)
    assert len(attrs) == n_c
    for c in range(n_c):
        got = read_full(spark, container, f"vol/c{c}/s0")
        np.testing.assert_array_equal(got, channels[c], err_msg=f"channel {c}")
        assert attrs[c].dimensions == dims and attrs[c].block_size == block


@pytest.mark.parametrize("seed", _seeds())
def test_net_datasource_read_write_any_geometry(spark, tmp_path, seed):
    """The Spark 4 Python DataSource lane on random geometry: reading the
    staged container through format('n5') yields blocks that reassemble
    to the exact source array (block files packed by the file-split
    rule, decode inside the source), and writing those blocks through
    df.write.format('n5') into a template-created dataset roundtrips
    byte-identically — 1-D/2-D grids ride the same padded-coordinate
    schema as 3-D."""
    from n5_dask_spark.sources.n5.datasource import register_n5_source
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import create_from_template

    container, dataset, arr, attrs = _stage(spark, tmp_path, seed, "dsrc")
    register_n5_source(spark)
    blocks = (
        spark.read.format("n5").option("path", container).option("dataset", dataset).load()
    )
    got = np.zeros(tuple(reversed(arr.shape)), dtype=arr.dtype)  # zyx
    n_rows = 0
    for r in blocks.collect():
        n_rows += 1
        grid = (r["gx"], r["gy"], r["gz"])[: attrs.ndim]
        block = np.frombuffer(bytes(r["data"]), dtype=arr.dtype).reshape(list(r["shape_zyx"]))
        sel = tuple(
            slice(g * b, g * b + s)
            for g, b, s in zip(reversed(grid), reversed(attrs.block_size), block.shape)
        )
        got[sel] = block
    assert n_rows == len(
        [1 for _ in np.ndindex(*[-(-d // b) for d, b in zip(arr.shape, attrs.block_size)])]
    )
    np.testing.assert_array_equal(got.transpose(tuple(range(got.ndim - 1, -1, -1))), arr)

    out_ds = "vol/dscopy"
    create_from_template(container, dataset, container, out_ds, compression="gzip")
    (
        blocks.write.format("n5")
        .option("path", container)
        .option("dataset", out_ds)
        .mode("append")
        .save()
    )
    np.testing.assert_array_equal(read_full(spark, container, out_ds), arr)
    assert read_attributes(container, out_ds).compression["type"] == "gzip"
