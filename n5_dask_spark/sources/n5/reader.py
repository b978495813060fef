"""N5 dataset scan into a block pipeline, and driver-side region reads
(SURVEY.md §2.A S2/S4/T2).

Design (§1.5): one row per block, grid coordinates as ordinary columns —
Catalyst filters on (gx, gy, gz) replace dask's task culling.

Listing and fencing (``list_blocks``) is shared by both scan paths: the
glob scan here (``scan_block_files``) and ``spark.read.format("n5")``
planning (datasource.py). It checks the write-session marker, lists the
dataset once (os.walk or os.stat locally, one fsio listing for URI
containers) and refuses non-canonical, stale and zero-byte block files, so
every guard holds on both paths. That listing is the only one: both paths
pack it into the same splits (``datasource.plan_splits``) and read each
block in the Python task that uses it, with ``read_block_file``. The glob
scan's source is ``spark.range(k, numPartitions=k)``, one split id per
task, looked up in a compact ``ScanPlan`` that travels with the kernel
(grid coordinates and split offsets; paths are rebuilt from the grid). A
``Scan`` holds that plan and builds the ids only in the terminal that
runs them, so planning a scan starts no Spark job, builds no Spark node,
and no file byte passes through the JVM.

Decoding is shared the same way: every path that turns block bytes into
an array — ``decoded_blocks`` (and through it ``block_stats``, the
rechunk/downsample/write pipelines and the n5ops kernels), format("n5")
tasks, ``read_region`` and ``writer.write_region``'s edge merge — calls
``decode_cell``, which names the file on a decode failure and refuses a
block that overflows its grid cell.

Region reads (``read_region``) run no Spark job. Like the reference's
read_n5_block, they are random access in the calling process: the
overlapping block paths come from the grid math (T11), the driver fetches
just those files (``read_block_file``: open() for local paths, fsio's
pyarrow filesystem for URI paths), decodes them and stitches the region.
The work is O(region), not O(dataset), and no file outside the region is
listed or read. A region read is byte-guarded to what a driver can hold;
larger regions go through the distributed ``transforms.export_region``.

Reference parity: da.from_zarr(zarr.N5Store(...)) at
/root/reference/src/n5_to_tif.py:24-25 and /root/reference/src/n5_multiscale.py:90;
region read semantics of read_n5_block at /root/reference/src/n5_utils.py:6-18
(xyz-ordered result; ours without the transpose bugs noted in SURVEY §1.4).

Scale: a split is a run of block files sized by Spark's file-split rule,
and decoded payloads stay binary columns (no per-element rows). The
scan kernel takes in one split id and fetches its files itself; what it
sends back to the JVM is byte-bounded by udfbatch.bounded_frames (64 MB of
decoded payload per yielded frame), so worker memory is independent of
both the codec ratio and maxRecordsPerBatch (see udfbatch's module
docstring for the probe that motivated this).
"""

from __future__ import annotations

import itertools
import logging
import os
import re
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from n5_dask_spark.session import tune_session
from n5_dask_spark.sources.n5.codec import decode_block_at, np_dtype
from n5_dask_spark.sources.n5.datasource import ScanSplit, plan_splits
from n5_dask_spark.sources.n5.fuse import BlockPipeline, consume_block_rows, count_materialization
from n5_dask_spark.sources.n5.metadata import (
    INCOMPLETE_MARKER,
    DatasetAttributes,
    fence_log,
    is_uri,
    log_codec,
    read_attributes,
)

log = logging.getLogger("n5_dask_spark.sources.n5")

def decode_cell(
    raw: bytes, grid: tuple[int, ...], attrs: DatasetAttributes, path: str
) -> np.ndarray:
    """The one decode of a block file for its grid cell: every read path
    (both scans, their consumers, region reads and write_region's edge
    merge) decodes here. Returns the zyx array.

    A decode failure raises naming ``path`` (codec ``decode_block_at``).
    The decoded shape is then checked against the cell (r10 oversized-block
    probe): a foreign block declaring header dims larger than blockSize
    spills voxels into neighboring cells' coordinates — read_full let
    whichever block decoded later win the overlap and block_stats counted
    1024 elems for an 8^3 cell — so it is refused, as is a header with more
    dims than the dataset (its extra dims would otherwise go unchecked and
    surface later as a reshape error). Undersized blocks pass: a shape
    SMALLER than the cell is the edge-truncation rule applied
    conservatively and degrades like sparseness (fill value), never
    touching other cells."""
    arr_zyx = decode_block_at(raw, attrs.data_type, attrs.compression, path)
    expected = attrs.block_dims(tuple(grid)[: attrs.ndim])
    shape_xyz = list(reversed(arr_zyx.shape))
    if len(arr_zyx.shape) > attrs.ndim:
        raise ValueError(
            f"block {path} decodes to {len(arr_zyx.shape)}-D {shape_xyz} "
            f"(x,y,z order) but dataset {attrs.dimensions} is "
            f"{attrs.ndim}-D — a foreign or corrupt block header"
        )
    if any(s > e for s, e in zip(shape_xyz, expected)):
        raise ValueError(
            f"block {path} decodes to {shape_xyz} (x,y,z) but grid cell "
            f"{tuple(grid)[: attrs.ndim]} of a {attrs.dimensions} volume with "
            f"blockSize {attrs.block_size} holds at most {expected} — an "
            "oversized block would silently overwrite neighboring cells"
        )
    return arr_zyx


def read_block_file(path: str) -> bytes | None:
    """One block file's bytes, or None when it is absent (legal N5
    sparseness: the cell reads as fill value).

    Local paths use open(); URI paths use fsio's pyarrow filesystem, which
    works in a Python worker (no py4j bridge there) and, on the driver,
    reads at local-disk speed where the Hadoop FileSystem over py4j moves
    ~15 MiB/s. Every N5 read shares this fetch: the glob scan's kernels,
    the format("n5") scan tasks and the driver-side region reads.

    A zero-byte file is refused: it is never valid N5 (the block header
    alone is at least 4 bytes) but the signature of a torn external writer,
    and reading it as absent would turn a populated cell into fill-value
    zeros. Any other read failure (a directory in the block's place, an
    unreadable file) raises naming ``path``."""
    try:
        if is_uri(path):
            from n5_dask_spark.sources.n5 import fsio

            raw = fsio.read_file(path)
        else:
            with open(path, "rb") as f:
                raw = f.read()
    except (FileNotFoundError, NotADirectoryError):
        return None
    except OSError as e:
        raise OSError(f"cannot read block file {path}: {e}") from e
    if raw is not None and not raw:
        raise ValueError(
            f"zero-byte block file {path} — not valid N5 (a block header is "
            "at least 4 bytes), so it is not a sparse cell: reading it as "
            "absent would return fill-value zeros for a populated cell. "
            "Likely a torn external writer; re-write the block."
        )
    return raw


def refuse_mid_write(container: str, dataset: str, reader: str) -> None:
    """Refuse a dataset carrying the write-session marker: a sink job is
    writing it, or a writer died mid-job, and reading it would return a
    silent partial snapshot (written blocks as data, unwritten cells as
    fill value). The r14 probe found format("n5") planning 7 of 8 blocks
    of such a dataset. Local paths are checked through the OS, URI
    containers through fsio. ``reader`` names the refused read in the
    fence log."""
    if is_uri(container):
        from n5_dask_spark.sources.n5 import fsio

        marker = f"{container.rstrip('/')}/{dataset}/{INCOMPLETE_MARKER}"
        present = fsio.exists(marker)
    else:
        marker = os.path.join(container, dataset, INCOMPLETE_MARKER)
        present = os.path.exists(marker)
    if present:
        if fence_log.isEnabledFor(logging.DEBUG):
            fence_log.debug("%s of %s/%s refused: marker %s", reader, container, dataset, marker)
        raise ValueError(
            f"dataset {container}/{dataset} carries the "
            f"write-session marker {marker} — a sink job is writing it "
            "right now, or a writer died mid-job leaving it incomplete; "
            "reading it would return a silent partial snapshot (written "
            "blocks as data, unwritten cells as fill-value zeros). Wait "
            "for the writer, or if it is known dead, re-create the "
            "dataset (or delete the marker to accept partial contents)."
        )


_COORD = re.compile(r"[0-9]+")


def _grid_of(segments: list[str], ndim: int, where: str) -> tuple[int, ...] | None:
    """The grid cell a dataset-relative path names, or None when it is no
    block file: block files sit exactly ``ndim`` levels deep and every
    segment is numeric. So a numeric file under a non-numeric directory
    (dataset/foo/0/1) is never read, and neither its size nor its
    coordinates are checked.

    A numeric segment that is not plain decimal (``00``, ``01``) is refused
    with its path under ``where``: it is no N5 block name, and read as a
    number it aliases a second file onto a cell (``0/0/0`` and ``0/0/00``
    are both (0, 0, 0)), so a scan would emit two rows for one cell.
    Refusing it also makes every block path exactly :func:`block_path` of
    its grid, which is how scan kernels rebuild the paths they read."""
    if len(segments) != ndim or not all(_COORD.fullmatch(s) for s in segments):
        return None
    grid = tuple(int(s) for s in segments)
    if any(s != str(c) for s, c in zip(segments, grid)):
        raise ValueError(
            f"non-canonical block file name {where}/{'/'.join(segments)} — N5 "
            f"names grid cell {grid} {'/'.join(map(str, grid))}, so this file is "
            "no block of the dataset and would alias a second file onto that "
            "cell. Rename or remove it."
        )
    return grid


def dataset_root(container: str, dataset: str) -> str:
    """The directory (or URI prefix) holding a dataset's block files."""
    if is_uri(container):
        return f"{container.rstrip('/')}/{dataset}"
    return os.path.join(container, dataset)


def block_path(root: str, grid: tuple[int, ...]) -> str:
    """The block file of grid cell ``grid`` under dataset directory ``root``."""
    return os.path.join(root, *map(str, grid))


def list_blocks(
    container: str,
    dataset: str,
    ndim: int,
    grid_shape: list[int] | None = None,
    grids: list[tuple[int, ...]] | None = None,
    reader: str = "scan",
) -> list[tuple[str, tuple[int, ...], int]]:
    """(path, grid, size) of every present block file of a dataset, in grid
    order: the one listing and fence of both scan paths (the glob scan,
    :func:`scan_block_files`, and format("n5") planning).

    ``grids`` restricts the listing to those cells (a region); absent cells
    are legal N5 sparseness and are left out. The dataset is listed once:
    a local full scan walks it with os.walk, a local region stats each
    requested cell, and a URI container is listed with one
    ``fsio.list_file_sizes`` whose result is filtered to the requested
    cells. A URI dataset that cannot be listed is refused: probing each
    cell instead would cost a round-trip per cell. Every path is
    :func:`block_path` of its grid.

    Refused, before anything is read:

    - the write-session marker (:func:`refuse_mid_write`; ``reader`` names
      the scan in the fence log);
    - non-canonical block names such as ``0/0/00`` (:func:`_grid_of`);
    - block files outside ``grid_shape``: N5 leaves old block files behind
      when a dataset is overwritten in place with smaller dimensions, so
      out-of-grid files mean the in-grid cells may be stale too (a
      16x16x8 volume shrunk to 8x8x4 block_stats'ed all 8 old blocks);
    - zero-byte block files: never valid N5 (the block header alone is at
      least 4 bytes) but the signature of a torn external writer, and
      reading one as absent would turn a populated cell into fill value."""
    refuse_mid_write(container, dataset, reader)
    root = dataset_root(container, dataset)
    found: list[tuple[str, tuple[int, ...], int]] = []
    if is_uri(container):
        from n5_dask_spark.sources.n5 import fsio

        sizes = fsio.list_file_sizes(root)
        if sizes is None:
            raise ValueError(
                f"cannot list N5 dataset {root}: its filesystem does not "
                "support listing, so present blocks cannot be told from "
                "absent ones"
            )
        wanted = None if grids is None else set(map(tuple, grids))
        for rel, size in sizes.items():
            grid = _grid_of(rel.split("/"), ndim, root)
            if grid is not None and (wanted is None or grid in wanted):
                found.append((block_path(root, grid), grid, size))
    elif grids is None:
        for dirpath, dirnames, filenames in os.walk(root):
            rel = os.path.relpath(dirpath, root)
            head = [] if rel == "." else rel.split(os.sep)
            # descend only through numeric directories, ndim - 1 deep
            dirnames[:] = (
                [d for d in dirnames if _COORD.fullmatch(d)] if len(head) < ndim - 1 else []
            )
            for fn in filenames:
                grid = _grid_of([*head, fn], ndim, root)
                if grid is not None:
                    full = os.path.join(dirpath, fn)
                    found.append((full, grid, os.path.getsize(full)))
    else:
        for g in grids:
            path = block_path(root, g)
            try:
                found.append((path, tuple(g), os.stat(path).st_size))
            except (FileNotFoundError, NotADirectoryError):
                pass
    found.sort(key=lambda b: b[1])
    stale = [
        p for p, g, _s in found
        if grid_shape is not None and any(c >= n for c, n in zip(g, grid_shape))
    ]
    if stale:
        raise ValueError(
            f"stale block file(s) outside the {grid_shape} grid of "
            f"{root}: {stale[:5]}{' ...' if len(stale) > 5 else ''} — N5 "
            "leaves old blocks behind when a dataset is overwritten in place "
            "with smaller dimensions, and the in-grid cells may be stale too. "
            "Re-create the dataset directory fresh instead of overwriting."
        )
    empties = [p for p, _g, size in found if size == 0]
    if empties:
        raise ValueError(
            f"zero-byte block file(s) in {root}: "
            f"{empties[:5]}{' ...' if len(empties) > 5 else ''} — "
            "not valid N5 (a block header is at least 4 bytes), and reading "
            "them as absent would return these populated grid cells as "
            "fill-value zeros. Likely a torn external writer; re-write the "
            "affected blocks."
        )
    return found


@dataclass(frozen=True)
class ScanPlan:
    """One scan's files and splits in the compact form its kernels carry.

    Split ``i`` covers files ``offsets[i]:offsets[i + 1]`` in listing
    order; file ``j`` has the coordinate columns ``coords[j]`` and the size
    ``sizes[j]`` it was listed with. Block paths are rebuilt from the first
    ``ndim`` coordinates (:func:`block_path`, exact because the listing
    refuses non-canonical names); files whose names carry no coordinates
    (TIFF slices) keep their ``names`` under ``root`` instead."""

    root: str
    columns: tuple[str, ...]
    coords: np.ndarray  # (files, len(columns)) int64
    sizes: np.ndarray  # (files,) int64
    offsets: np.ndarray  # (splits + 1,) int64
    ndim: int = 0
    names: tuple[str, ...] | None = None

    def path(self, j: int) -> str:
        """The path of file ``j``."""
        if self.names is not None:
            return os.path.join(self.root, self.names[j])
        return block_path(self.root, tuple(int(c) for c in self.coords[j, : self.ndim]))

    def files(self, split: int) -> Iterator[tuple[str, tuple[int, ...], int]]:
        """(path, coordinates, listed size) of every file of one split."""
        for j in range(self.offsets[split], self.offsets[split + 1]):
            yield self.path(j), tuple(int(c) for c in self.coords[j]), int(self.sizes[j])

    def read(
        self, batches: Iterator[pd.DataFrame], fetch=read_block_file
    ) -> Iterator[tuple[str, tuple[int, ...], bytes]]:
        """(path, coordinates, bytes) of every file of the splits whose ids
        arrive in ``batches``, fetched in the calling kernel. A file that
        ``fetch`` finds absent (None) is skipped: an N5 block deleted after
        planning reads as fill value. Any other read failure raises."""
        for pdf in batches:
            for split in pdf["id"]:
                for path, key, _size in self.files(int(split)):
                    raw = fetch(path)
                    if raw is not None:
                        yield path, key, raw

    def listing(self, batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """The materialized scan rows: coordinates, length and path."""
        for pdf in batches:
            rows = [
                (*key, size, path)
                for split in pdf["id"]
                for path, key, size in self.files(int(split))
            ]
            yield pd.DataFrame(rows, columns=[*self.columns, "length", "path"])


@dataclass(frozen=True)
class Scan:
    """A planned scan: the :class:`ScanPlan` of the driver's one listing
    and the split ids a consumer maps its kernel over, one task per split.
    Built with no Spark call; :meth:`ids` builds the ``spark.range`` source
    when a terminal needs it, so a scan and its consumer run as one Python
    node and no file byte passes through the JVM."""

    spark: SparkSession
    plan: ScanPlan

    def ids(self) -> DataFrame:
        """The split ids, ``spark.range(k, numPartitions=k)``."""
        k = len(self.plan.offsets) - 1
        return self.spark.range(k, numPartitions=max(1, k))

    def to_df(self) -> DataFrame:
        """The materialized scan rows: one (columns..., length, path) row
        per file. Counted and logged like every ``.to_df()``."""
        schema = ", ".join(f"{c} int" for c in self.plan.columns) + ", length long, path string"
        df = self.ids().mapInPandas(self.plan.listing, schema=schema)
        count_materialization("to_df", f"scan of {self.plan.root} materialized by .to_df()")
        return df


def scan_frame(
    spark: SparkSession,
    root: str,
    files: list[tuple[str, tuple[int, ...], int]],
    columns: tuple[str, ...],
    ndim: int = 0,
    names: list[str] | None = None,
) -> Scan:
    """The scan over ``files`` ((path, coordinates, size), listed on the
    driver), packed by :func:`plan_splits`: one task per split, planned
    with no Spark job and no second listing. A consumer maps its kernel
    over :meth:`Scan.ids` and reads the bytes with :meth:`ScanPlan.read`."""
    split = ScanSplit.from_session(spark)
    splits = plan_splits(files, split)
    plan = ScanPlan(
        root,
        tuple(columns),
        np.array([key for _p, key, _s in files], dtype=np.int64).reshape(len(files), len(columns)),
        np.array([size for _p, _k, size in files], dtype=np.int64),
        np.cumsum([0, *map(len, splits)], dtype=np.int64),
        ndim,
        None if names is None else tuple(names),
    )
    if log.isEnabledFor(logging.DEBUG):
        log.debug(
            "scan plan %s: %d files, %d bytes -> %d splits (parallelism %d from %s)",
            root, len(files), int(plan.sizes.sum()), len(splits),
            split.parallelism, split.source,
        )
    return Scan(spark, plan)


def scan_block_files(
    spark: SparkSession,
    container: str,
    dataset: str,
    ndim: int = 3,
    paths: list[str] | None = None,
    grid_shape: list[int] | None = None,
) -> Scan:
    """Block-file scan: one (gx, gy, gz) file per block, one task per
    :func:`plan_splits` split; ``.to_df()`` gives one (gx, gy, gz, length,
    path) row per block file.

    The dataset is listed and fenced by :func:`list_blocks` (marker,
    non-canonical, stale and zero-byte refusals); that listing is the only
    one, and planning starts no Spark job (:func:`scan_frame`). ``paths``
    restricts the scan to an explicit block-file list (region pruning:
    only overlapping files are ever listed or read), and only the ones
    present are planned. Consumers read the bytes in their own kernel over
    :meth:`Scan.ids` with ``plan.read`` and :func:`read_block_file`: a
    block deleted after planning reads as fill value (no row), and any
    other read failure raises naming the path.

    A fully-sparse dataset (attributes.json, zero block files) is legal N5
    and scans as an EMPTY scan, not an error.

    The scan ALWAYS carries all three coordinate columns — for
    ndim < 3 the missing ones are constant 0 — so downstream block
    operators (decoded_blocks, block_stats, rechunk) are ndim-agnostic."""
    tune_session(spark)
    root = dataset_root(container, dataset)
    grids = None if paths is None else [
        _grid_of(p.rstrip("/").split("/")[-ndim:], ndim, root) for p in paths
    ]
    blocks = list_blocks(container, dataset, ndim, grid_shape, grids)
    pad = (0,) * (3 - ndim)
    files = [(p, g + pad, size) for p, g, size in blocks]
    return scan_frame(spark, root, files, ("gx", "gy", "gz"), ndim)


def decoded_blocks(
    spark: SparkSession,
    container: str,
    dataset: str,
    paths: list[str] | None = None,
) -> BlockPipeline:
    """Decoded blocks of a dataset, as a map pipeline over its scan.

    The listing and fence run here; no Spark node is built. The consumer
    (rechunk/downsample/cast fragment kernels, zprofile partials, the
    write sink, or ``.to_df()`` for (gx, gy, gz, shape_zyx, data) rows)
    fetches and decodes each planned block INSIDE its own Python node, so
    the decoded voxel bytes cross the JVM<->Python boundary once. Each
    block is decoded and shape-checked by :func:`decode_cell`."""
    attrs = read_attributes(container, dataset)
    log_codec("read", container, dataset, attrs)
    scan = scan_block_files(
        spark, container, dataset, attrs.ndim, paths=paths, grid_shape=attrs.grid_shape
    )
    plan = scan.plan

    def blocks_fn(batches: Iterator[pd.DataFrame]) -> Iterator[tuple]:
        for path, grid, raw in plan.read(batches):
            yield (*grid, decode_cell(raw, grid, attrs, path))

    return BlockPipeline(scan.ids, blocks_fn)


STATS_DDL = (
    "gx int, gy int, gz int, n_elems long, vmin double, vmax double, "
    "vsum double, vmean double"
)


def _stats_row(gx: int, gy: int, gz: int, a: np.ndarray) -> Iterator[tuple]:
    yield (
        gx, gy, gz, int(a.size), float(a.min()), float(a.max()),
        float(a.sum(dtype="f8")), float(a.mean(dtype="f8")),
    )


def block_stats(spark: SparkSession, container: str, dataset: str) -> DataFrame:
    """Per-block stats: the reduction runs in the node that fetches and
    decodes the block (one mapInPandas over the scan's split ids); only
    scalars leave."""
    return consume_block_rows(
        decoded_blocks(spark, container, dataset), None, _stats_row,
        ["gx", "gy", "gz", "n_elems", "vmin", "vmax", "vsum", "vmean"], STATS_DDL,
    )


def overlapping_blocks(
    attrs: DatasetAttributes, start_xyz: list[int], end_xyz: list[int]
) -> list[tuple[int, ...]]:
    """Grid positions (x,y,z order) overlapping the half-open region."""
    ranges = []
    for s, e, b, d in zip(start_xyz, end_xyz, attrs.block_size, attrs.dimensions):
        s, e = max(0, s), min(e, d)
        if s >= e:
            return []
        ranges.append(range(s // b, (e - 1) // b + 1))
    return list(itertools.product(*ranges))


# driver-stitch guard: read_region materializes the region (plus decoded
# fragments) on the driver, so it is contractually a SMALL-region API
MAX_REGION_BYTES = 256 * 1024 * 1024


def read_region(
    spark: SparkSession,
    container: str,
    dataset: str,
    start_xyz: list[int],
    end_xyz: list[int],
) -> np.ndarray:
    """Random-access region read -> xyz-ordered ndarray (reference
    read_n5_block semantics, src/n5_utils.py:6-18).

    Runs on the driver with no Spark job: the overlapping block files,
    found from the grid math, are fetched with :func:`read_block_file`
    (absent files are fill value), decoded and stitched here. The fetch
    runs on ``defaultParallelism`` threads so a remote container keeps
    concurrent GETs; decode stays on the calling thread. A dataset
    carrying the write-session marker and zero-byte block files are
    refused. Regions past the byte guard raise with a pointer to the
    distributed ``transforms.export_region`` slab path, which never
    materializes the region anywhere."""
    attrs = read_attributes(container, dataset)
    log_codec("read", container, dataset, attrs)
    itemsize = np_dtype(attrs.data_type).itemsize
    req_voxels = 1
    for s, e in zip(start_xyz, end_xyz):
        req_voxels *= max(0, e - s)
    hits = overlapping_blocks(attrs, start_xyz, end_xyz)
    # The driver holds BOTH the output region and every overlapping block
    # (fetched bytes, then its decoded payload), so the guard bounds the
    # larger of the two: a thin 100 KB slice crossing two hundred 512^3
    # blocks is a driver OOM even though the region itself is tiny.
    block_voxels = 1
    for b in attrs.block_size:
        block_voxels *= b
    req_bytes = max(req_voxels, len(hits) * block_voxels) * itemsize
    limit = int(os.environ.get("SPARK_GRAFT_MAX_REGION_BYTES", MAX_REGION_BYTES))
    if req_bytes > limit:
        raise ValueError(
            f"region {start_xyz}..{end_xyz} needs {req_bytes / 1e6:.0f} MB on the "
            f"driver ({req_voxels * itemsize / 1e6:.0f} MB region, {len(hits)} "
            f"overlapping blocks to decode) — past the driver-stitch guard "
            f"({limit / 1e6:.0f} MB, env SPARK_GRAFT_MAX_REGION_BYTES). Large "
            "regions must not collect to the driver: use "
            "n5_dask_spark.sources.n5.transforms.export_region to write the "
            "region as a new N5 dataset distributed."
        )
    if not hits:
        # consistent fill-value contract: out-of-bounds regions return the
        # REQUESTED shape of zeros, same as regions over absent blocks
        out_shape = tuple(e - s for s, e in zip(start_xyz, end_xyz))
        return np.zeros(out_shape, dtype=np_dtype(attrs.data_type))
    refuse_mid_write(container, dataset, "region read")
    out_shape_zyx = tuple(e - s for s, e in zip(start_xyz, end_xyz))[::-1]
    out = np.zeros(out_shape_zyx, dtype=np_dtype(attrs.data_type))
    paths = [os.path.join(container, dataset, *map(str, g)) for g in hits]
    bs = attrs.block_size
    workers = min(len(paths), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        for grid, path, raw in zip(hits, paths, pool.map(read_block_file, paths)):
            if raw is None:  # N5 sparseness: the zeroed output is the fill value
                continue
            arr = decode_cell(raw, grid, attrs, path)
            # block extent in global xyz coords
            b_start = [g * b for g, b in zip(grid, bs)]
            b_end = [s + dim for s, dim in zip(b_start, reversed(arr.shape))]
            # intersection, then slice both block and output (zyx axis order)
            sel_block, sel_out = [], []
            for ax in range(attrs.ndim - 1, -1, -1):  # z, y, x
                lo = max(start_xyz[ax], b_start[ax])
                hi = min(end_xyz[ax], b_end[ax])
                sel_block.append(slice(lo - b_start[ax], hi - b_start[ax]))
                sel_out.append(slice(lo - start_xyz[ax], hi - start_xyz[ax]))
            out[tuple(sel_out)] = arr[tuple(sel_block)]
    # xyz-ordered user-facing result (reference transposes at the boundary)
    return out.transpose(tuple(range(attrs.ndim - 1, -1, -1)))


def read_full(spark: SparkSession, container: str, dataset: str) -> np.ndarray:
    """Entire dataset as an xyz-ordered ndarray (test/golden helper)."""
    attrs = read_attributes(container, dataset)
    return read_region(spark, container, dataset, [0] * attrs.ndim, list(attrs.dimensions))
