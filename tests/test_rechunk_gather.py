"""Rechunk's gather against its shuffle, byte for byte.

``transforms.rechunk`` gathers (each task reads the source files of its
own super-cells and assembles their target cells, no exchange) when its
input is a scan-backed map pipeline whose super-cell fits one split, and
shuffles otherwise. A ``.to_df()`` frame always takes the shuffle, so each
test below runs the same regrid both ways on the geometry net's seeds
(random dims, block sizes with ragged edges, dtypes, codecs, ndim 1-3,
odd seeds through ``file:`` URIs) and compares every output file byte for
byte: block files, attributes and TIFF slices.
"""

from __future__ import annotations

import logging
import os
import random

import numpy as np
import pytest

from tests.test_n5_geometry_net import CODECS, _local, _random_array, _seeds, _stage


def _files(root: str) -> dict[str, bytes]:
    """Every file under ``root`` by relative path."""
    out = {}
    for dirpath, _dirs, names in os.walk(_local(root)):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, _local(root))] = f.read()
    return out


def _delete_block(container: str, dataset: str, attrs, rng: random.Random) -> tuple | None:
    """Remove one present block file at random; returns its grid cell."""
    root = os.path.join(_local(container), dataset)
    present = [
        g for g in np.ndindex(*attrs.grid_shape)
        if os.path.exists(os.path.join(root, *map(str, g)))
    ]
    if len(present) < 2:
        return None
    grid = present[rng.randrange(len(present))]
    os.remove(os.path.join(root, *map(str, grid)))
    return grid


def _write_both(spark, tmp_path, tag, make, after_planning=lambda: None):
    """Plan ``make(shuffle)`` for both paths, run ``after_planning``, then
    write both; returns (gather files, shuffle files, gather pipeline,
    shuffle pipeline)."""
    from n5_dask_spark.sources.n5.writer import write_blocks

    planned = {}
    for path in ("gather", "shuffle"):
        planned[path] = make(path == "shuffle")
    after_planning()
    outs = {}
    for path, (blocks, attrs) in planned.items():
        out = str(tmp_path / f"{tag}-{path}.n5")
        write_blocks(blocks, out, "vol/s0", attrs)
        outs[path] = _files(os.path.join(out, "vol/s0"))
    return outs["gather"], outs["shuffle"], planned["gather"][0], planned["shuffle"][0]


def _source(spark, container, dataset, shuffle: bool):
    from n5_dask_spark.sources.n5.reader import decoded_blocks

    blocks = decoded_blocks(spark, container, dataset)
    return blocks.to_df() if shuffle else blocks


GROUPED = ("tgx", "tgy", "tgz")


@pytest.mark.parametrize("seed", _seeds())
def test_gather_equals_shuffle_sparse_and_deleted_after_planning(spark, tmp_path, seed):
    """Random geometry with one block absent before planning and another
    deleted after it: both paths write the same files, byte for byte, and
    the volume reads back with both holes as fill value."""
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.transforms import rechunk

    container, dataset, arr, attrs = _stage(spark, tmp_path, seed, "gs")
    rng = random.Random(seed * 613 + 41)
    holes = [_delete_block(container, dataset, attrs, rng)]
    new_bs = [rng.randint(1, 19) for _ in range(attrs.ndim)]

    def make(shuffle):
        return rechunk(_source(spark, container, dataset, shuffle), attrs, new_bs)

    def delete_late():
        holes.append(_delete_block(container, dataset, attrs, rng))

    gathered, shuffled, g_pipe, s_pipe = _write_both(spark, tmp_path, f"gs{seed}", make, delete_late)
    assert g_pipe.key_cols is None and s_pipe.key_cols == GROUPED
    assert gathered == shuffled
    expected = arr.copy()
    for grid in filter(None, holes):
        expected[tuple(
            slice(g * b, min((g + 1) * b, d))
            for g, b, d in zip(grid, attrs.block_size, arr.shape)
        )] = 0
    got = read_full(spark, str(tmp_path / f"gs{seed}-gather.n5"), "vol/s0")
    np.testing.assert_array_equal(got, expected)


@pytest.mark.parametrize("seed", _seeds())
def test_gather_equals_shuffle_after_cast(spark, tmp_path, seed):
    """A cast_blocks stage runs inside the gather kernel, before assembly."""
    from n5_dask_spark.sources.n5.transforms import cast_blocks, rechunk

    container, dataset, _arr, attrs = _stage(spark, tmp_path, seed, "gc")
    rng = random.Random(seed * 617 + 43)
    new_bs = [rng.randint(1, 19) for _ in range(attrs.ndim)]

    def make(shuffle):
        blocks, cast_attrs = cast_blocks(
            _source(spark, container, dataset, shuffle), attrs, "float64", safe=False
        )
        return rechunk(blocks, cast_attrs, new_bs)

    gathered, shuffled, g_pipe, s_pipe = _write_both(spark, tmp_path, f"gc{seed}", make)
    assert g_pipe.key_cols is None and s_pipe.key_cols == GROUPED
    assert gathered == shuffled


def _factors(block: list[int], divisible: bool) -> list[int]:
    """Per-axis downsample factors that divide the block size (at least
    one > 1 where a block allows it), or that leave one axis unaligned."""
    if divisible:
        fs = [2 if b % 2 == 0 else (3 if b % 3 == 0 else 1) for b in block]
        if all(f == 1 for f in fs) and max(block) > 1:
            fs[block.index(max(block))] = max(block)
        return fs
    fs = [1] * len(block)
    fs[0] = next(f for f in range(2, block[0] + 2) if block[0] % f)
    return fs


@pytest.mark.parametrize("divisible", [True, False], ids=["divisible", "non_divisible"])
@pytest.mark.parametrize("seed", _seeds())
def test_gather_equals_shuffle_downsample(spark, tmp_path, seed, divisible):
    """Downsample through the gather equals it through the shuffle. With
    dividing factors the windowed mean is a stage of the gather; with
    unaligned factors the first (aligning) rechunk gathers and the last
    one shuffles, since a gather's output is no scan."""
    from n5_dask_spark.sources.n5.transforms import downsample

    container, dataset, _arr, attrs = _stage(spark, tmp_path, seed, "gd")
    factors = _factors(list(attrs.block_size), divisible)

    def make(shuffle):
        return downsample(_source(spark, container, dataset, shuffle), attrs, factors)

    gathered, shuffled, g_pipe, s_pipe = _write_both(
        spark, tmp_path, f"gd{seed}{divisible}", make
    )
    assert g_pipe.key_cols == (None if divisible else GROUPED)
    assert s_pipe.key_cols == GROUPED
    assert gathered == shuffled


def test_gather_equals_shuffle_2d_ragged(spark, tmp_path):
    """ndim 2, ragged edges on both axes, one block absent."""
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.transforms import rechunk
    from n5_dask_spark.sources.n5.writer import write_array

    arr = _random_array(7, [37, 23], "uint16")
    c = str(tmp_path / "two.n5")
    write_array(spark, arr, c, "vol/s0", [6, 5], {"type": "gzip"})
    os.remove(os.path.join(c, "vol/s0", "2", "3"))
    attrs = read_attributes(c, "vol/s0")

    def make(shuffle):
        return rechunk(_source(spark, c, "vol/s0", shuffle), attrs, [4, 9])

    gathered, shuffled, g_pipe, _ = _write_both(spark, tmp_path, "two", make)
    assert g_pipe.key_cols is None
    assert gathered == shuffled


def _tiff_series(tmp_path, seed: int):
    from n5_dask_spark.sources.tiff import write_tiff

    rng = random.Random(seed * 409 + 29)
    dims = [rng.randint(1, 40), rng.randint(1, 40), rng.randint(1, 10)]  # x, y, z
    block = [rng.randint(1, 17) for _ in range(3)]
    dtype = ["uint8", "uint16", "int32", "float32", "float64"][seed % 5]
    arr = _random_array(seed + 900, dims, dtype)
    src = tmp_path / f"series-{seed}"
    src.mkdir()
    for z in range(dims[2]):
        write_tiff(str(src / f"s{z:05d}.tif"), arr[:, :, z].T)
    return str(src), block, CODECS[seed % len(CODECS)]


@pytest.mark.parametrize("seed", _seeds())
def test_gather_equals_shuffle_tiff_series_both_ways(spark, tmp_path, seed):
    """TIFF -> N5: tif_series_to_n5 (the gather over runs of slices) writes
    the same block files as the slice blocks fed through a frame. N5 ->
    TIFF, with one block absent: n5_to_tif_series writes the same slice
    files as blocks_to_tif_series over a frame."""
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.transforms import rechunk
    from n5_dask_spark.sources.n5.writer import write_blocks
    from n5_dask_spark.sources.tiff import (
        blocks_to_tif_series,
        n5_to_tif_series,
        tif_series_blocks,
        tif_series_to_n5,
    )

    src, block, codec = _tiff_series(tmp_path, seed)
    gather_c, shuffle_c = str(tmp_path / "in-g.n5"), str(tmp_path / "in-s.n5")
    attrs = tif_series_to_n5(spark, src, gather_c, "vol/s0", block, compression=codec)
    slices, slice_attrs = tif_series_blocks(spark, src, codec)
    out, out_attrs = rechunk(slices.to_df(), slice_attrs, block)
    assert out.key_cols == GROUPED
    write_blocks(out, shuffle_c, "vol/s0", out_attrs)
    assert _files(gather_c) == _files(shuffle_c)

    _delete_block(gather_c, "vol/s0", attrs, random.Random(seed))
    gather_dir, shuffle_dir = str(tmp_path / "out-g"), str(tmp_path / "out-s")
    n = n5_to_tif_series(spark, gather_c, "vol/s0", gather_dir)
    frame = decoded_blocks(spark, gather_c, "vol/s0").to_df()
    assert blocks_to_tif_series(spark, frame, attrs, shuffle_dir) == n == attrs.dimensions[2]
    assert _files(gather_dir) == _files(shuffle_dir)


def test_path_selection_is_logged(spark, tmp_path, caplog):
    """Which inputs gather and which shuffle, and the reason each logs at
    DEBUG on the n5_dask_spark.sources.n5 logger."""
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.transforms import cast_blocks, export_region, rechunk
    from n5_dask_spark.sources.n5.writer import write_array
    from n5_dask_spark.sources.tiff import tif_series_blocks, write_tiff

    arr = (np.arange(24 * 20 * 16) % 251).astype(np.uint8).reshape(24, 20, 16)
    c = str(tmp_path / "p.n5")
    write_array(spark, arr, c, "a/s0", [8, 8, 8])
    attrs = read_attributes(c, "a/s0")
    src = tmp_path / "series"
    src.mkdir()
    for z in range(6):
        write_tiff(str(src / f"s{z}.tif"), np.full((5, 4), z, np.uint8))

    def decision(make) -> tuple[str, str]:
        caplog.clear()
        with caplog.at_level(logging.DEBUG, logger="n5_dask_spark.sources.n5"):
            make()
        (msg,) = [r.getMessage() for r in caplog.records if r.getMessage().startswith(
            ("rechunk ", "export_region ")
        )]
        return msg.split(": ", 1)[1].split(", ", 1)[0], msg

    persisted = decoded_blocks(spark, c, "a/s0").to_df().persist()
    grouped, grouped_attrs = rechunk(decoded_blocks(spark, c, "a/s0").to_df(), attrs, [5, 6, 7])
    cases = {
        "scan": lambda: rechunk(decoded_blocks(spark, c, "a/s0"), attrs, [5, 6, 7]),
        "scan + cast": lambda: rechunk(
            *cast_blocks(decoded_blocks(spark, c, "a/s0"), attrs, "uint16"), [5, 6, 7]
        ),
        "tiff series": lambda: rechunk(*tif_series_blocks(spark, str(src)), [2, 2, 4]),
        "to_df frame": lambda: rechunk(decoded_blocks(spark, c, "a/s0").to_df(), attrs, [5, 6, 7]),
        "persisted frame": lambda: rechunk(persisted, attrs, [5, 6, 7]),
        "grouped upstream": lambda: rechunk(grouped, grouped_attrs, [8, 8, 8]),
        "export_region": lambda: export_region(
            spark, c, "a/s0", [1, 2, 3], [20, 18, 16], str(tmp_path / "r.n5"), "roi/s0"
        ),
    }
    try:
        got = {name: decision(make) for name, make in cases.items()}
    finally:
        persisted.unpersist()
    # over the split bound: a 1 KiB maxPartitionBytes caps every split at
    # 1 KiB, and the one super-cell of this volume holds 7680 bytes
    before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        got["over-bound super-cell"] = decision(
            lambda: rechunk(decoded_blocks(spark, c, "a/s0"), attrs, [5, 6, 7])
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", before)

    assert {name: path for name, (path, _msg) in got.items()} == {
        "scan": "gather",
        "scan + cast": "gather",
        "tiff series": "gather",
        "to_df frame": "shuffle",
        "persisted frame": "shuffle",
        "grouped upstream": "shuffle",
        "export_region": "shuffle",
        "over-bound super-cell": "shuffle",
    }
    assert "1 super-cell(s) of [24, 20, 16] (7680 decoded bytes" in got["scan"][1]
    assert "(15360 decoded bytes" in got["scan + cast"][1]  # the post-stage dtype
    assert "no scan-backed map pipeline" in got["to_df frame"][1]
    assert "no scan-backed map pipeline" in got["persisted frame"][1]
    assert "the input is grouped" in got["grouped upstream"][1]
    assert "origin is offset" in got["export_region"][1]
    assert "holds 7680 decoded bytes, over the 1024-byte split bound" in (
        got["over-bound super-cell"][1]
    )


def test_gather_equals_shuffle_many_super_cells(spark, tmp_path, caplog):
    """Grids with a small lcm: many super-cells, several per split and
    several splits, ragged on every axis, with a sparse hole."""
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.transforms import rechunk
    from n5_dask_spark.sources.n5.writer import write_array

    arr = _random_array(3, [37, 29, 21], "int16")
    c = str(tmp_path / "many.n5")
    write_array(spark, arr, c, "vol/s0", [4, 6, 3], {"type": "lz4"})
    os.remove(os.path.join(c, "vol/s0", "3", "2", "1"))
    attrs = read_attributes(c, "vol/s0")

    def make(shuffle):
        return rechunk(_source(spark, c, "vol/s0", shuffle), attrs, [8, 3, 6])

    with caplog.at_level(logging.DEBUG, logger="n5_dask_spark.sources.n5"):
        gathered, shuffled, g_pipe, _ = _write_both(spark, tmp_path, "many", make)
    (msg,) = [m for m in caplog.messages if m.startswith("rechunk ") and ": gather, " in m]
    cells, splits = int(msg.split("gather, ")[1].split()[0]), int(msg.split(" in ")[1].split()[0])
    assert cells == 5 * 5 * 4 and 1 < splits < cells, msg
    assert g_pipe.key_cols is None
    assert gathered == shuffled


def test_gather_of_a_fully_sparse_dataset_writes_no_block(spark, tmp_path):
    """A dataset with no block files is legal N5: the gather plans no
    split and writes no block, like the shuffle."""
    from n5_dask_spark.sources.n5.metadata import DatasetAttributes, write_attributes
    from n5_dask_spark.sources.n5.transforms import rechunk

    c = str(tmp_path / "empty.n5")
    attrs = DatasetAttributes("uint8", [9, 7, 5], [4, 4, 4], {"type": "raw"})
    write_attributes(c, "vol/s0", attrs)

    def make(shuffle):
        return rechunk(_source(spark, c, "vol/s0", shuffle), attrs, [3, 3, 3])

    gathered, shuffled, g_pipe, _ = _write_both(spark, tmp_path, "empty", make)
    assert g_pipe.key_cols is None
    assert gathered == shuffled and set(gathered) == {"attributes.json"}
