"""Chunked-array transforms over the blocks DataFrame (SURVEY.md §2.A
T1 rechunk, T3 cast, T7 downsample, T8 pyramid cutoff, T9 metadata).

Rechunk is the one genuinely custom shuffle in the engine (§4): each input
block explodes into fragments keyed by target grid cell, a hash shuffle
groups fragments per target cell, and applyInArrow reassembles. The
shuffle machinery (exchange, AQE coalescing) is Spark's; only the fragment
math is ours. Shuffle volume == data volume (each byte moves once), which
is the optimum for a general regrid; at 100 TB this is exactly dask's
rechunk strategy with Spark's exchange under it.

Downsample (reference: multiscale(volume, windowed_mean, (2,2,2)),
/root/reference/src/n5_multiscale.py:63-136) is block-LOCAL when the
factors divide the block size — zero shuffle for the reduction itself —
followed by a rechunk of the (8x smaller) output to the target chunking.
Edge semantics: a partial final window is the mean of the available
elements (SURVEY.md §7).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from n5_dask_spark.sources.n5.codec import np_dtype
from n5_dask_spark.sources.n5.metadata import (
    DatasetAttributes,
    get_pixel_resolution,
    read_attributes,
    scaled_pixel_resolution,
    update_raw_attributes,
)
from n5_dask_spark.sources.n5 import fuse
from n5_dask_spark.sources.n5.fuse import BlockPipeline
from n5_dask_spark.sources.n5.reader import decoded_blocks
from n5_dask_spark.sources.n5.writer import write_blocks

FRAGMENT_SCHEMA = (
    "tgx int, tgy int, tgz int, off_zyx array<int>, shape_zyx array<int>, data binary"
)


FRAGMENT_COLUMNS = ["tgx", "tgy", "tgz", "off_zyx", "shape_zyx", "data"]


def _fragment_rows_fn(
    ndim: int,
    old_bs: list[int],
    start: list[int],
    end: list[int],
    out_bs: list[int],
):
    """Per-block fragment generator shared by rechunk and export_region:
    slice one decoded source block into fragments keyed by the target grid
    cell of the output dataset, whose origin is ``start`` and whose extent
    is ``[start, end)`` in source coordinates. Rechunk is the origin-0
    full-extent special case; blocks only grazing the region emit nothing.
    Consumed through fuse.consume_block_rows, so decode+fragment is ONE
    Python node (r15, guide §4) and output frames stay byte-bounded."""

    def block_frags(gx, gy, gz, arr: np.ndarray) -> Iterator[tuple]:
        import itertools

        grid = (int(gx), int(gy), int(gz))[:ndim]
        # global span of this block, xyz
        b0 = [g * b for g, b in zip(grid, old_bs)]
        b1 = [s + d for s, d in zip(b0, reversed(arr.shape))]
        # intersect with the exported region
        lo = [max(a, s) for a, s in zip(b0, start)]
        hi = [min(a, e) for a, e in zip(b1, end)]
        if any(lo_ >= hi_ for lo_, hi_ in zip(lo, hi)):
            return
        # overlapped target cells per axis (region coordinates)
        cells = [
            range((lo_ - s) // nb, (hi_ - s - 1) // nb + 1)
            for lo_, hi_, s, nb in zip(lo, hi, start, out_bs)
        ]
        for tcell in itertools.product(*cells):
            t0 = [s + c * nb for c, nb, s in zip(tcell, out_bs, start)]
            t1 = [
                min(s + (c + 1) * nb, e)
                for c, nb, s, e in zip(tcell, out_bs, start, end)
            ]
            flo = [max(a, b) for a, b in zip(lo, t0)]
            fhi = [min(a, b) for a, b in zip(hi, t1)]
            sel = tuple(
                slice(flo[ax] - b0[ax], fhi[ax] - b0[ax])
                for ax in range(ndim - 1, -1, -1)
            )
            frag = np.ascontiguousarray(arr[sel])
            off_zyx = [flo[ax] - t0[ax] for ax in range(ndim - 1, -1, -1)]
            yield (
                *(list(tcell) + [0] * (3 - ndim)), off_zyx, list(frag.shape), frag.tobytes()
            )

    return block_frags


def rechunk(
    blocks: BlockPipeline | DataFrame, attrs: DatasetAttributes, new_block_size: list[int]
) -> tuple[BlockPipeline, DatasetAttributes]:
    """Re-tile decoded blocks to a new block grid (T1).

    Returns (grouped pipeline, new attrs): fragment explode -> shuffle on
    target cell -> reassemble, built by the terminal that consumes it."""
    dims_xyz = list(attrs.dimensions)
    old_bs, new_bs = list(attrs.block_size), list(new_block_size)
    ndim = attrs.ndim
    new_attrs = DatasetAttributes(
        data_type=attrs.data_type,
        dimensions=dims_xyz,
        block_size=new_bs,
        compression=dict(attrs.compression),
        extra=dict(attrs.extra),
    )
    block_frags = _fragment_rows_fn(ndim, old_bs, [0] * ndim, dims_xyz, new_bs)
    return _regrid(blocks, np_dtype(attrs.data_type), block_frags, new_attrs), new_attrs


def _regrid(
    blocks: BlockPipeline | DataFrame, dt: np.dtype, block_frags, out_attrs: DatasetAttributes
) -> BlockPipeline:
    """The grouped pipeline shared by rechunk and export_region:
    decode(+any upstream block-local stages)+fragment as ONE map node
    before the one exchange, then the assembler, into which downstream
    consumers (stats kernels, the write sink) fuse instead of adding a
    second post-shuffle Python node."""
    src = fuse.pipeline_of(blocks, dt)
    return BlockPipeline(
        lambda: fuse.consume_block_rows(
            src, dt, block_frags, FRAGMENT_COLUMNS, FRAGMENT_SCHEMA,
            row_bytes=lambda r: len(r[5]),
        ),
        _assemble_block_fn(out_attrs, dt),
        key_cols=("tgx", "tgy", "tgz"),
    )


def _assemble_block_fn(new_attrs: DatasetAttributes, dt: np.dtype):
    """One target grid cell's fragments -> (gx, gy, gz, block array). The
    fragments are read straight from the group's Arrow columns: each
    payload is viewed in place, not copied to bytes."""
    ndim = new_attrs.ndim

    def assemble(key, table: pa.Table) -> tuple:
        grid = tuple(k.as_py() for k in key)[:ndim]
        out = np.zeros(tuple(reversed(new_attrs.block_dims(grid))), dtype=dt)
        payloads = (v.as_buffer() for chunk in table.column("data").chunks for v in chunk)
        for off, shape, data in zip(
            table.column("off_zyx").to_pylist(), table.column("shape_zyx").to_pylist(), payloads
        ):
            sel = tuple(slice(o, o + s) for o, s in zip(off, shape))
            out[sel] = np.frombuffer(data, dtype=dt).reshape(shape)
        g3 = list(grid) + [0] * (3 - ndim)
        return (g3[0], g3[1], g3[2], out)

    return assemble


def export_region(
    spark: SparkSession,
    container: str,
    dataset: str,
    start_xyz: list[int],
    end_xyz: list[int],
    out_container: str,
    out_dataset: str,
    block_size: list[int] | None = None,
) -> DatasetAttributes:
    """Distributed slab export of an arbitrary region (S4/T2 at scale).

    ``read_region`` stitches on the driver and is byte-guarded to small
    regions; this path never materializes the region anywhere: only
    overlapping source block files are listed (file-level pruning), they
    decode on executors, every byte shuffles exactly once to the target
    grid of a NEW dataset whose origin is ``start_xyz``, and one task owns
    each output block. Region parts that are out of bounds or over absent
    source blocks stay sparse (legal N5 fill-value zero), matching
    ``read_region``'s contract.

    Reference analog: the region branch of n5_to_tif
    (/root/reference/src/n5_to_tif.py:81-84 via src/n5_utils.py:6-18),
    which is driver-bound there; here it scales with executors."""
    from n5_dask_spark.sources.n5.reader import decoded_blocks, overlapping_blocks
    from n5_dask_spark.sources.n5.writer import write_blocks

    attrs = read_attributes(container, dataset)
    ndim = attrs.ndim
    start = [int(s) for s in start_xyz]
    end = [int(e) for e in end_xyz]
    region_dims = [e - s for s, e in zip(start, end)]
    if any(d <= 0 for d in region_dims):
        raise ValueError(f"empty region {start}..{end}")
    out_attrs = DatasetAttributes(
        data_type=attrs.data_type,
        dimensions=region_dims,
        block_size=[int(b) for b in (block_size or attrs.block_size)],
        compression=dict(attrs.compression),
        extra=dict(attrs.extra),
    )
    old_bs, out_bs = list(attrs.block_size), list(out_attrs.block_size)
    block_frags = _fragment_rows_fn(ndim, old_bs, start, end, out_bs)

    # only the overlapping block files are listed and read (the scan's
    # list_blocks drops absent ones); absent blocks and out-of-bounds parts
    # stay sparse in the output, read_region's fill-value contract
    paths = [
        "/".join([container.rstrip("/"), dataset, *map(str, g)])
        for g in overlapping_blocks(attrs, start, end)
    ]
    out = _regrid(
        decoded_blocks(spark, container, dataset, paths=paths),
        np_dtype(attrs.data_type), block_frags, out_attrs,
    )
    write_blocks(out, out_container, out_dataset, out_attrs)
    return out_attrs


def windowed_mean_zyx(arr: np.ndarray, factors_zyx: list[int]) -> np.ndarray:
    """Windowed mean with partial edge windows = mean of available elements.
    Float64 accumulation; caller casts."""
    out = arr.astype("f8")
    for ax, f in enumerate(factors_zyx):
        if f == 1:
            continue
        n = out.shape[ax]
        idx = np.arange(0, n, f)
        sums = np.add.reduceat(out, idx, axis=ax)
        counts = np.diff(np.append(idx, n)).astype("f8")
        shape = [1] * out.ndim
        shape[ax] = len(idx)
        out = sums / counts.reshape(shape)
    return out


def downsample(
    blocks: BlockPipeline | DataFrame, attrs: DatasetAttributes, factors_xyz: list[int]
) -> tuple[BlockPipeline, DatasetAttributes]:
    """One downsample level (T7): block-local windowed mean (no shuffle),
    then rechunk the reduced blocks back to the original block size.

    Block-local application needs every window inside one block, i.e.
    factors dividing the block size (true for the canonical 2-divides-128
    case, where this costs zero extra shuffles). A non-divisible chunking
    — any block_size the r9 geometry net draws — first rechunks to the
    nearest factor-aligned grid (one extra full-data shuffle, only when
    needed); the final rechunk restores the CALLER's block size either
    way, so the output chunking contract is unchanged."""
    target_bs = list(attrs.block_size)
    if any(b % f != 0 for b, f in zip(attrs.block_size, factors_xyz)):
        aligned = [max(f, b - b % f) for b, f in zip(attrs.block_size, factors_xyz)]
        blocks, attrs = rechunk(blocks, attrs, aligned)
    dt = np_dtype(attrs.data_type)
    ndim = attrs.ndim
    f_zyx = list(reversed(factors_xyz))
    out_dims = [math.ceil(d / f) for d, f in zip(attrs.dimensions, factors_xyz)]
    reduced_bs = [b // f for b, f in zip(attrs.block_size, factors_xyz)]

    def reduce_block(gx: int, gy: int, gz: int, arr: np.ndarray) -> tuple:
        return (gx, gy, gz, windowed_mean_zyx(arr, f_zyx).astype(dt))

    # block-local: composes into the decode node (r15, guide §4) — the
    # canonical factor-divides-block case runs decode+reduce+re-fragment
    # as ONE Python node before the rechunk exchange
    reduced = fuse.transform_blocks(blocks, dt, reduce_block)
    mid_attrs = DatasetAttributes(
        data_type=attrs.data_type,
        dimensions=out_dims,
        block_size=reduced_bs,
        compression=dict(attrs.compression),
        extra=dict(attrs.extra),
    )
    # restore the canonical chunking (reference keeps chunks=chunk_size,
    # src/n5_multiscale.py:96) — the CALLER's block size, not the
    # factor-aligned staging grid
    return rechunk(reduced, mid_attrs, target_bs)


def cast_blocks(
    blocks: BlockPipeline | DataFrame,
    attrs: DatasetAttributes,
    target_type: str,
    safe: bool = True,
) -> tuple[BlockPipeline, DatasetAttributes]:
    """dtype cast (T3) with the reference's casting='safe' guard
    (/root/reference/src/n5_to_tif.py:27-28)."""
    src, dst = np_dtype(attrs.data_type), np_dtype(target_type)
    if safe and not np.can_cast(src, dst, casting="safe"):
        raise TypeError(f"unsafe cast {attrs.data_type} -> {target_type}; pass safe=False")

    def cast(gx: int, gy: int, gz: int, arr: np.ndarray) -> tuple:
        # byte-bounded output framing is fuse/udfbatch's: a safe cast widens
        # up to 8x (uint8 -> float64), so one frame per input batch would be
        # 8x the 64 MB input bound
        return (gx, gy, gz, arr.astype(dst))

    new_attrs = DatasetAttributes(
        data_type=target_type,
        dimensions=list(attrs.dimensions),
        block_size=list(attrs.block_size),
        compression=dict(attrs.compression),
        extra=dict(attrs.extra),
    )
    return fuse.transform_blocks(blocks, src, cast), new_attrs


def build_multiscale(
    spark: SparkSession,
    container: str,
    group: str,
    factors_xyz: tuple[int, ...] = (2, 2, 2),
    thumbnail_size_xyz: list[int] | None = None,
    base_level: str = "s0",
) -> list[str]:
    """Downsample pyramid s1, s2, ... under `group` (reference
    /root/reference/src/n5_multiscale.py:63-136).

    Driver loop of Spark jobs: level i reads level i-1 from storage (each
    level is ~8x smaller, so the whole pyramid costs ~1.14x the base read).
    Stops when every dim <= thumbnail (default: the block size, reference
    :92). Stamps scaled pixelResolution + cumulative downsamplingFactors per
    level (T9) and scales/axes on the group."""
    base = f"{group}/{base_level}"
    attrs0 = read_attributes(container, base)
    thumb = thumbnail_size_xyz or list(attrs0.block_size)
    res_values, res_unit = get_pixel_resolution(attrs0.extra, ndim=attrs0.ndim)

    written = [base_level]
    level = 0
    cur_dataset, cur_attrs = base, attrs0
    while True:
        # an axis with factor 1 never shrinks, so it must not hold the loop
        # open: with anisotropic factors like (2,2,1) — standard for thin-z
        # microscopy — requiring ALL dims <= thumb would iterate forever
        # once the shrinking axes bottom out. Stop when every axis is
        # either small enough or can no longer shrink.
        if all(
            d <= t or f <= 1
            for d, t, f in zip(cur_attrs.dimensions, thumb, factors_xyz)
        ):
            break
        level += 1
        cum = [float(f**level) for f in factors_xyz]
        blocks = decoded_blocks(spark, container, cur_dataset)
        out_blocks, out_attrs = downsample(blocks, cur_attrs, list(factors_xyz))
        out_attrs.extra = dict(cur_attrs.extra)
        out_attrs.extra["downsamplingFactors"] = cum
        out_attrs.extra["pixelResolution"] = scaled_pixel_resolution(res_values, res_unit, cum)
        out_dataset = f"{group}/s{level}"
        write_blocks(out_blocks, container, out_dataset, out_attrs)
        written.append(f"s{level}")
        cur_dataset, cur_attrs = out_dataset, out_attrs
    update_raw_attributes(
        container,
        group,
        {
            "scales": [[float(f**i) for f in factors_xyz] for i in range(level + 1)],
            "axes": ["x", "y", "z"][: attrs0.ndim],
            "pixelResolution": {"unit": res_unit, "dimensions": res_values},
        },
    )
    return written
