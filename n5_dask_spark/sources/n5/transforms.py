"""Chunked-array transforms over the blocks DataFrame (SURVEY.md §2.A
T1 rechunk, T3 cast, T7 downsample, T8 pyramid cutoff, T9 metadata).

Rechunk has two plans, chosen on the driver and logged at DEBUG on the
``n5_dask_spark.sources.n5`` logger:

- **Gather** (no shuffle). The reference's regrids are between
  commensurate grids (slices -> cubes, cubes -> slices, 2x-reduced cubes
  -> cubes), where a super-cell (per axis the lcm of the source and
  target block) is small. When the input is a scan-backed map pipeline
  (a ``reader.Scan`` plus block-local stages) and one super-cell holds no
  more decoded bytes than one split of its scan, each task reads the
  source files of its own super-cells, runs the stages and assembles the
  target cells in memory (:func:`_gather`): one stage, no exchange, and
  no byte crosses the JVM<->Python boundary between decode and the
  consumer.
- **Shuffle**, for every other input (blocks frames, grouped upstreams,
  over-bound super-cells) and for ``export_region``, whose output grid is
  offset from the source grid: each input block explodes into fragments
  keyed by target grid cell, a hash shuffle groups fragments per target
  cell, and applyInArrow reassembles. The shuffle machinery (exchange,
  AQE coalescing) is Spark's; only the fragment math is ours, and the
  gather shares it (:func:`_fragments_fn`). Shuffle volume == data
  volume (each byte moves once), the optimum for a general regrid; at
  100 TB this is dask's rechunk strategy with Spark's exchange under it.

Downsample (reference: multiscale(volume, windowed_mean, (2,2,2)),
/root/reference/src/n5_multiscale.py:63-136) is block-LOCAL when the
factors divide the block size — zero shuffle for the reduction itself —
followed by a rechunk of the (8x smaller) output to the target chunking,
which gathers when the input is a scan. Edge semantics: a partial final
window is the mean of the available elements (SURVEY.md §7).
"""

from __future__ import annotations

import logging
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from n5_dask_spark.sources.n5.codec import np_dtype
from n5_dask_spark.sources.n5.datasource import plan_splits
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

log = logging.getLogger("n5_dask_spark.sources.n5")

FRAGMENT_SCHEMA = (
    "tgx int, tgy int, tgz int, off_zyx array<int>, shape_zyx array<int>, data binary"
)


FRAGMENT_COLUMNS = ["tgx", "tgy", "tgz", "off_zyx", "shape_zyx", "data"]


def _fragments_fn(
    ndim: int,
    old_bs: list[int],
    start: list[int],
    end: list[int],
    out_bs: list[int],
):
    """The fragment math shared by the shuffle and the gather: slice one
    block of the source grid (block size ``old_bs``, origin 0) into
    ``(target cell, off_zyx, fragment view)`` for each cell of the output
    grid it overlaps. The output grid's origin is ``start`` and its extent
    ``[start, end)`` in source coordinates: rechunk is the origin-0
    full-extent case; blocks only grazing the region yield nothing."""

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
            off_zyx = [flo[ax] - t0[ax] for ax in range(ndim - 1, -1, -1)]
            yield tcell, off_zyx, arr[sel]

    return block_frags


def _fragment_rows_fn(
    ndim: int,
    old_bs: list[int],
    start: list[int],
    end: list[int],
    out_bs: list[int],
):
    """Per-block fragment rows of the shuffle, shared by rechunk and
    export_region: :func:`_fragments_fn`'s fragments as (tgx, tgy, tgz,
    off_zyx, shape_zyx, data) rows keyed by target cell. Consumed through
    fuse.consume_block_rows, so decode+fragment is ONE Python node (r15,
    guide §4) and output frames stay byte-bounded."""
    frags = _fragments_fn(ndim, old_bs, start, end, out_bs)

    def block_frags(gx, gy, gz, arr: np.ndarray) -> Iterator[tuple]:
        for tcell, off_zyx, frag in frags(gx, gy, gz, arr):
            frag = np.ascontiguousarray(frag)
            yield (
                *(list(tcell) + [0] * (3 - ndim)), off_zyx, list(frag.shape), frag.tobytes()
            )

    return block_frags


def rechunk(
    blocks: BlockPipeline | DataFrame, attrs: DatasetAttributes, new_block_size: list[int]
) -> tuple[BlockPipeline, DatasetAttributes]:
    """Re-tile decoded blocks to a new block grid (T1).

    Returns (pipeline, new attrs), built by the terminal that consumes it:
    a map pipeline that gathers each super-cell's source files
    (:func:`_gather`) when the input is a scan-backed map pipeline whose
    super-cell fits one split, else the grouped shuffle (fragment explode
    -> shuffle on target cell -> reassemble). The choice and its reason
    are logged at DEBUG."""
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
    dt = np_dtype(attrs.data_type)
    src = fuse.pipeline_of(blocks, dt)
    gathered, why = _gather(src, attrs, new_attrs)
    if log.isEnabledFor(logging.DEBUG):
        log.debug(
            "rechunk %s -> %s of %s: %s, %s", old_bs, new_bs, dims_xyz,
            "shuffle" if gathered is None else "gather", why,
        )
    if gathered is not None:
        return gathered, new_attrs
    block_frags = _fragment_rows_fn(ndim, old_bs, [0] * ndim, dims_xyz, new_bs)
    return _regrid(src, dt, block_frags, new_attrs), new_attrs


def _gather(
    p: BlockPipeline, attrs: DatasetAttributes, new_attrs: DatasetAttributes
) -> tuple[BlockPipeline | None, str]:
    """Rechunk without a shuffle: ``(map pipeline, reason)``, or ``(None,
    reason)`` when the input must shuffle.

    A super-cell is, per axis, the lcm of the (post-stage) source block and
    the target block: every source block and every target cell lies in
    exactly one, so the target cells of a super-cell are assembled from
    its own source files alone. When the input is a scan-backed map
    pipeline and a super-cell (clipped to the extent) holds no more
    decoded bytes than one split of its scan (``ScanSplit.max_split_bytes``
    over the listing, the bound ``plan_splits`` packs by), the driver
    groups the listing's files by super-cell and packs whole super-cells
    into splits with ``plan_splits``, each costing its files' sizes plus
    their open costs. The kernel of one split reads, decodes and stages
    each super-cell's files and assembles its target cells in memory, so
    the rechunk runs one stage with no exchange and no fragment rows.

    "No fragment, no row" holds as on the shuffle: a target cell is
    emitted only when a source block overlapping it was read, and a block
    deleted after planning (``fetch`` returns None) is fill value."""
    if p.key_cols is not None:
        return None, "the input is grouped (its blocks come out of a shuffle)"
    if p.scan is None:
        return None, "the input is no scan-backed map pipeline (a blocks frame or a computed source)"
    ndim = attrs.ndim
    old_bs, new_bs = list(attrs.block_size), list(new_attrs.block_size)
    lcm = [math.lcm(o, n) for o, n in zip(old_bs, new_bs)]
    super_bs = [min(m, d) for m, d in zip(lcm, attrs.dimensions)]
    dt = np_dtype(attrs.data_type)
    cell_bytes = math.prod(super_bs) * dt.itemsize
    scan, plan = p.scan.scan, p.scan.scan.plan
    split = scan.split
    n = len(plan.sizes)
    bound = split.max_split_bytes(int(plan.sizes.sum()) + split.open_cost_bytes * n)
    if cell_bytes > bound:
        return None, (
            f"a super-cell {super_bs} holds {cell_bytes} decoded bytes, over the "
            f"{bound}-byte split bound"
        )
    # each file's super-cell; files sorted by it (stable: listing order
    # within one), and the offsets where each super-cell's run starts
    cell = p.scan.cell
    grids = np.array(
        [cell(tuple(int(c) for c in key)) for key in plan.coords], dtype=np.int64
    ).reshape(n, 3)[:, :ndim]
    supers = grids * np.array(old_bs, dtype=np.int64) // np.array(lcm, dtype=np.int64)
    order = np.lexsort(supers.T[::-1])
    supers = supers[order]
    firsts = np.flatnonzero(np.any(supers[1:] != supers[:-1], axis=1)) + 1
    cell_offsets = np.concatenate([[0], firsts, [n]]) if n else np.zeros(1, dtype=np.int64)
    sizes = plan.sizes[order]
    units = [
        (None, c, int(sizes[a:b].sum()) + split.open_cost_bytes * (b - a - 1))
        for c, (a, b) in enumerate(zip(cell_offsets[:-1], cell_offsets[1:]))
    ]
    split_offsets = np.cumsum([0, *map(len, plan_splits(units, split))], dtype=np.int64)
    k = len(split_offsets) - 1

    fetch, decode, stages = p.scan.fetch, p.scan.decode, p.stages
    frags = _fragments_fn(ndim, old_bs, [0] * ndim, list(attrs.dimensions), new_bs)

    def gather_cell(files: np.ndarray) -> Iterator[tuple]:
        targets: dict[tuple[int, ...], np.ndarray] = {}
        for j in files:
            path = plan.path(int(j))
            raw = fetch(path)
            if raw is None:  # deleted after planning: fill value
                continue
            blk = decode(path, tuple(int(c) for c in plan.coords[j]), raw)
            for stage in stages:
                blk = stage(*blk)
            for tcell, off, frag in frags(*blk):
                out = targets.get(tcell)
                if out is None:
                    out = targets[tcell] = np.zeros(
                        tuple(reversed(new_attrs.block_dims(tcell))), dtype=dt
                    )
                out[tuple(slice(o, o + s) for o, s in zip(off, frag.shape))] = frag
        for tcell in sorted(targets):
            g3 = list(tcell) + [0] * (3 - ndim)
            yield (g3[0], g3[1], g3[2], targets.pop(tcell))

    def read(batches: Iterator[pd.DataFrame]) -> Iterator[tuple]:
        for pdf in batches:
            for sid in pdf["id"]:
                for c in range(split_offsets[sid], split_offsets[sid + 1]):
                    yield from gather_cell(order[cell_offsets[c]:cell_offsets[c + 1]])

    spark = scan.spark
    return BlockPipeline(lambda: spark.range(k, numPartitions=max(1, k)), read), (
        f"{len(units)} super-cell(s) of {super_bs} ({cell_bytes} decoded bytes each at "
        f"most, split bound {bound}) in {k} splits"
    )


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
    if log.isEnabledFor(logging.DEBUG):
        log.debug(
            "export_region %s..%s -> %s: shuffle, the output grid's origin is offset "
            "from the source grid's", start, end, out_attrs.block_size,
        )
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
    nearest factor-aligned grid (one extra rechunk, only when needed;
    that rechunk's output is no scan, so the final rechunk then
    shuffles); the final rechunk restores the CALLER's block size either
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
