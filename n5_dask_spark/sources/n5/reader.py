"""N5 dataset scan as a Spark DataFrame of blocks, and driver-side region
reads (SURVEY.md §2.A S2/S4/T2).

Design (§1.5): one row per block, grid coordinates as ordinary columns —
Catalyst filters on (gx, gy, gz) replace dask's task culling.

Listing and fencing (``list_blocks``) is shared by both scan paths: the
binaryFile glob scan here and ``spark.read.format("n5")`` planning
(datasource.py). It checks the write-session marker, lists the dataset
once (os.walk or os.stat locally, one fsio listing for URI containers)
and refuses stale and zero-byte block files, so every guard holds on
both paths.

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

Scale: binaryFile is a splittable listing of many small files; decoded
payloads stay binary columns (no per-element rows). Both directions of the
mapInPandas exchange are BYTE-bounded: JVM->Python by
spark.sql.execution.arrow.maxBytesPerBatch (64 MB, pinned in
session.DEFAULT_CONFS), Python->JVM by udfbatch.bounded_frames (64 MB of
decoded payload per yielded frame) — so worker memory is independent of
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

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from n5_dask_spark.session import tune_session
from n5_dask_spark.sources.n5.codec import decode_block_at, np_dtype
from n5_dask_spark.sources.n5.metadata import (
    INCOMPLETE_MARKER,
    DatasetAttributes,
    fence_log,
    is_uri,
    log_codec,
    read_attributes,
)
from n5_dask_spark.udfbatch import bounded_frames

BLOCK_SCHEMA = StructType(
    [
        StructField("gx", IntegerType()),
        StructField("gy", IntegerType()),
        StructField("gz", IntegerType()),
        StructField("shape_zyx", ArrayType(IntegerType())),  # decoded array shape
        StructField("data", BinaryType()),  # native-endian C-order (z,y,x) bytes
    ]
)

def _is_missing_path(exc: Exception) -> bool:
    """True when ``exc`` is Spark's missing-input-path failure.

    Prefers the structured error class on AnalysisException
    (``getCondition``), which is stable across releases and locales, and
    falls back to the message for exceptions that carry none."""
    from pyspark.errors import AnalysisException

    if isinstance(exc, AnalysisException):
        cond = exc.getCondition()
        if cond is not None:
            return cond == "PATH_NOT_FOUND"
    return "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc)


STATS_SCHEMA = StructType(
    [
        StructField("gx", IntegerType()),
        StructField("gy", IntegerType()),
        StructField("gz", IntegerType()),
        StructField("n_elems", LongType()),
        StructField("vmin", DoubleType()),
        StructField("vmax", DoubleType()),
        StructField("vsum", DoubleType()),
        StructField("vmean", DoubleType()),
    ]
)


def escape_hadoop_glob(path: str) -> str:
    """Backslash-escape Hadoop glob metacharacters in a LITERAL path.

    Spark's file sources run every load() path through Hadoop glob
    expansion, so a directory name containing [ ] { } * ? is treated as
    a PATTERN: dataset ``d[12]`` silently reads sibling ``d1``'s block
    files (the wrong dataset's data, no error) and an unmatchable
    pattern raises PATH_NOT_FOUND (r9 hostile-name probe, pinned in
    tests/test_robustness.py). User-supplied container/dataset/input-dir
    prefixes are escaped literal; the scan's own ``*`` tails are
    appended AFTER escaping."""
    return "".join("\\" + c if c in "*?[]{}\\" else c for c in path)


def check_block_shape(
    arr_zyx: np.ndarray, grid: tuple[int, ...], attrs: DatasetAttributes, source: str
) -> np.ndarray:
    """Refuse a block whose decoded shape OVERFLOWS its grid cell (r10
    oversized-block probe): a foreign block declaring header dims larger
    than blockSize spills voxels into neighboring cells' coordinates —
    probe-measured, read_full let whichever block decoded later win the
    overlap (order-dependent silent wrong data) and block_stats counted
    1024 elems for an 8^3 cell. Undersized blocks pass: a shape SMALLER
    than the cell is the edge-truncation rule applied conservatively and
    degrades like sparseness (fill value), never touching other cells."""
    expected = attrs.block_dims(tuple(grid)[: attrs.ndim])
    shape_xyz = list(reversed(arr_zyx.shape))
    if len(arr_zyx.shape) > attrs.ndim:
        # zip() below truncates at the SHORTER side, so a block whose
        # header declares MORE dims than the dataset would have its extra
        # trailing dims unchecked and surface later as a confusing reshape
        # error instead of this named refusal (r10 advice)
        raise ValueError(
            f"block {source} decodes to {len(arr_zyx.shape)}-D {shape_xyz} "
            f"(x,y,z order) but dataset {attrs.dimensions} is "
            f"{attrs.ndim}-D — a foreign or corrupt block header"
        )
    if any(s > e for s, e in zip(shape_xyz, expected)):
        raise ValueError(
            f"block {source} decodes to {shape_xyz} (x,y,z) but grid cell "
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
    ~15 MiB/s. The format("n5") scan tasks and the driver-side region
    reads share this fetch.

    A zero-byte file is refused: it is never valid N5 (the block header
    alone is at least 4 bytes) but the signature of a torn external writer,
    and reading it as absent would turn a populated cell into fill-value
    zeros."""
    if is_uri(path):
        from n5_dask_spark.sources.n5 import fsio

        raw = fsio.read_file(path)
    else:
        try:
            with open(path, "rb") as f:
                raw = f.read()
        except (FileNotFoundError, NotADirectoryError):
            return None
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


def _grid_of(segments: list[str], ndim: int) -> tuple[int, ...] | None:
    """The grid cell a dataset-relative path names, or None when it is no
    block file: block files sit exactly ``ndim`` levels deep and every
    segment is numeric, the same rule as the glob scan's path filter. So a
    numeric file under a non-numeric directory (dataset/foo/0/1) is never
    read, and neither its size nor its coordinates are checked."""
    if len(segments) != ndim or not all(_COORD.fullmatch(s) for s in segments):
        return None
    return tuple(int(s) for s in segments)


def list_blocks(
    container: str,
    dataset: str,
    ndim: int,
    grid_shape: list[int] | None = None,
    grids: list[tuple[int, ...]] | None = None,
    reader: str = "scan",
) -> list[tuple[str, tuple[int, ...], int]]:
    """(path, grid, size) of every present block file of a dataset, in grid
    order: the one listing and fence of both scan paths (the binaryFile
    glob scan and format("n5") planning).

    ``grids`` restricts the listing to those cells (a region); absent cells
    are legal N5 sparseness and are left out. The dataset is listed once:
    a local full scan walks it with os.walk, a local region stats each
    requested cell, and a URI container is listed with one
    ``fsio.list_file_sizes`` whose result is filtered to the requested
    cells. A URI dataset that cannot be listed is refused: probing each
    cell instead would cost a round-trip per cell.

    Refused, before anything is read:

    - the write-session marker (:func:`refuse_mid_write`; ``reader`` names
      the scan in the fence log);
    - block files outside ``grid_shape``: N5 leaves old block files behind
      when a dataset is overwritten in place with smaller dimensions, so
      out-of-grid files mean the in-grid cells may be stale too (a
      16x16x8 volume shrunk to 8x8x4 block_stats'ed all 8 old blocks);
    - zero-byte block files: never valid N5 (the block header alone is at
      least 4 bytes) but the signature of a torn external writer, and
      Spark's binaryFile listing silently drops empty files, which would
      read the populated cell as fill value."""
    refuse_mid_write(container, dataset, reader)
    found: list[tuple[str, tuple[int, ...], int]] = []
    if is_uri(container):
        from n5_dask_spark.sources.n5 import fsio

        root = f"{container.rstrip('/')}/{dataset}"
        sizes = fsio.list_file_sizes(root)
        if sizes is None:
            raise ValueError(
                f"cannot list N5 dataset {root}: its filesystem does not "
                "support listing, so present blocks cannot be told from "
                "absent ones"
            )
        wanted = None if grids is None else set(map(tuple, grids))
        for rel, size in sizes.items():
            grid = _grid_of(rel.split("/"), ndim)
            if grid is not None and (wanted is None or grid in wanted):
                found.append((f"{root}/{rel}", grid, size))
    elif grids is None:
        root = os.path.join(container, dataset)
        for dirpath, dirnames, filenames in os.walk(root):
            rel = os.path.relpath(dirpath, root)
            head = [] if rel == "." else rel.split(os.sep)
            # descend only through numeric directories, ndim - 1 deep
            dirnames[:] = (
                [d for d in dirnames if _COORD.fullmatch(d)] if len(head) < ndim - 1 else []
            )
            for fn in filenames:
                grid = _grid_of([*head, fn], ndim)
                if grid is not None:
                    full = os.path.join(dirpath, fn)
                    found.append((full, grid, os.path.getsize(full)))
    else:
        for g in grids:
            path = os.path.join(container, dataset, *map(str, g))
            try:
                found.append((path, tuple(g), os.stat(path).st_size))
            except (FileNotFoundError, NotADirectoryError):
                pass
    found.sort(key=lambda b: b[1])
    where = os.path.join(container, dataset)
    stale = [
        p for p, g, _s in found
        if grid_shape is not None and any(c >= n for c, n in zip(g, grid_shape))
    ]
    if stale:
        raise ValueError(
            f"stale block file(s) outside the {grid_shape} grid of "
            f"{where}: {stale[:5]}{' ...' if len(stale) > 5 else ''} — N5 "
            "leaves old blocks behind when a dataset is overwritten in place "
            "with smaller dimensions, and the in-grid cells may be stale too. "
            "Re-create the dataset directory fresh instead of overwriting."
        )
    empties = [p for p, _g, size in found if size == 0]
    if empties:
        raise ValueError(
            f"zero-byte block file(s) in {where}: "
            f"{empties[:5]}{' ...' if len(empties) > 5 else ''} — "
            "not valid N5 (a block header is at least 4 bytes) and Spark's "
            "binaryFile listing silently drops empty files, so these "
            "populated grid cells would otherwise read as fill-value zeros. "
            "Likely a torn external writer; re-write the affected blocks."
        )
    return found


def scan_block_files(
    spark: SparkSession,
    container: str,
    dataset: str,
    ndim: int = 3,
    paths: list[str] | None = None,
    grid_shape: list[int] | None = None,
) -> DataFrame:
    """Raw block-file scan: (gx, gy, gz, length, raw) via binaryFile.

    The dataset is listed and fenced by :func:`list_blocks` first (marker,
    stale and zero-byte refusals). ``paths`` restricts the scan to an
    explicit block-file list (region pruning: only overlapping files are
    ever listed or read), and only the ones present are loaded; with
    ignoreMissingFiles a file sparsified between listing and read degrades
    to fill-value instead of failing the job.

    A fully-sparse dataset (attributes.json, zero block files) is legal N5
    and scans as an EMPTY DataFrame, not an error.

    The output ALWAYS carries all three coordinate columns — for
    ndim < 3 the missing ones are constant 0 — so downstream block
    operators (decoded_blocks, block_stats, rechunk) are ndim-agnostic.
    Non-block files the glob can sweep up (ndim=1's '*' matches the
    dataset's own attributes.json) are dropped by the numeric-path
    filter rather than decoded as blocks."""
    tune_session(spark)
    grids = None if paths is None else [
        _grid_of(p.rstrip("/").split("/")[-ndim:], ndim) for p in paths
    ]

    def listed() -> list[tuple[str, tuple[int, ...], int]]:
        return list_blocks(container, dataset, ndim, grid_shape, grids)

    def load(blocks) -> DataFrame:
        # ignoreMissingFiles: a block sparsified between the listing and
        # the task read degrades to fill-value (the documented sparse
        # contract) instead of failing the whole job
        reader = spark.read.format("binaryFile").option("ignoreMissingFiles", "true")
        if paths is None:
            root = escape_hadoop_glob(os.path.join(container, dataset))
            return reader.load(os.path.join(root, "/".join(["*"] * ndim)))
        return reader.load([escape_hadoop_glob(p) for p, _g, _s in blocks])

    def _empty() -> DataFrame:
        schema = StructType(
            [StructField(c, IntegerType()) for c in ("gx", "gy", "gz")]
            + [
                StructField("length", LongType()),
                StructField("raw", BinaryType()),
                StructField("path", StringType()),
            ]
        )
        return spark.createDataFrame([], schema)

    blocks = listed()
    if not blocks:
        return _empty()
    try:
        df = load(blocks)
    except Exception as exc:
        if not _is_missing_path(exc):
            raise
        # A block file vanished between the listing and load()
        # RESOLUTION (ignoreMissingFiles only covers disappearance after
        # Spark's own listing). List again and load the survivors —
        # degrading to an empty scan here would read a populated dataset
        # as silent zeros.
        blocks = listed()
        if not blocks:
            return _empty()  # fully sparsified: legal fill-value read
        df = load(blocks)  # a second racing delete fails loudly
    # grid coords are the last `ndim` path segments: .../gx/gy/gz. One
    # selectExpr + where: the same projection built from Column objects
    # cost ~250 py4j round trips per scan. [0-9] rather than \d keeps the
    # SQL literal free of backslashes, whatever escapedStringLiterals says.
    pat = "/([0-9]+)" * ndim + "$"
    coords = [
        f"try_cast(regexp_extract(path, '{pat}', {i + 1}) as int) as {c}"
        for i, c in enumerate(("gx", "gy", "gz")[:ndim])
    ] + [f"0 as {c}" for c in ("gx", "gy", "gz")[ndim:]]
    # a non-numeric tail (attributes.json swept up by a short glob, stray
    # files) extracts "" -> null via try_cast (a plain cast ANSI-throws on
    # '' — the ndim=1 glob crash the r9 geometry net found): drop, don't
    # decode
    return df.selectExpr(*coords, "length", "content as raw", "path").where(
        "gx is not null and gy is not null and gz is not null"
    )


def decoded_blocks(
    spark: SparkSession,
    container: str,
    dataset: str,
    paths: list[str] | None = None,
) -> DataFrame:
    """Blocks DataFrame with decoded payloads (shape_zyx + native bytes).

    The returned DF carries fuse.attach_map metadata (r15, guide §4): an
    in-package consumer (rechunk/downsample/cast fragment kernels, zprofile
    partials, the write sink) runs the decode INSIDE its own Python node,
    so the decoded voxel bytes cross the JVM<->Python boundary once instead
    of twice. Direct users of this DF (collect, foreign kernels) see the
    exact same materialized rows as before; output frames stay
    byte-bounded (udfbatch) — the input batch is bounded in ENCODED bytes
    (arrow.maxBytesPerBatch), so one frame per input batch would scale
    with the codec ratio. check_block_shape runs per block on every path."""
    from n5_dask_spark.sources.n5 import fuse

    attrs = read_attributes(container, dataset)
    log_codec("read", container, dataset, attrs)
    raw_df = scan_block_files(
        spark, container, dataset, attrs.ndim, paths=paths, grid_shape=attrs.grid_shape
    )
    data_type, compression = attrs.data_type, dict(attrs.compression)

    def blocks_fn(batches: Iterator[pd.DataFrame]) -> Iterator[tuple]:
        for pdf in batches:
            for r, p, gx, gy, gz in zip(
                pdf["raw"], pdf["path"], pdf["gx"], pdf["gy"], pdf["gz"]
            ):
                a = check_block_shape(
                    decode_block_at(bytes(r), data_type, compression, p),
                    (int(gx), int(gy), int(gz)),
                    attrs,
                    p,
                )
                yield (int(gx), int(gy), int(gz), a)

    out = raw_df.mapInPandas(fuse.emit_blocks_kernel(blocks_fn), schema=BLOCK_SCHEMA)
    return fuse.attach_map(out, raw_df, blocks_fn)


def block_stats(spark: SparkSession, container: str, dataset: str) -> DataFrame:
    """Per-block stats — decode and reduce inside the UDF; only scalars leave."""
    attrs = read_attributes(container, dataset)
    log_codec("read", container, dataset, attrs)
    raw_df = scan_block_files(
        spark, container, dataset, attrs.ndim, grid_shape=attrs.grid_shape
    )
    data_type, compression = attrs.data_type, dict(attrs.compression)

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for gx, gy, gz, raw, p in zip(
                pdf["gx"], pdf["gy"], pdf["gz"], pdf["raw"], pdf["path"]
            ):
                a = check_block_shape(
                    decode_block_at(bytes(raw), data_type, compression, p),
                    (int(gx), int(gy), int(gz)),
                    attrs,
                    p,
                )
                rows.append(
                    (
                        int(gx),
                        int(gy),
                        int(gz),
                        int(a.size),
                        float(a.min()),
                        float(a.max()),
                        float(a.sum(dtype="f8")),
                        float(a.mean(dtype="f8")),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in STATS_SCHEMA.fields])

    return raw_df.mapInPandas(stats, schema=STATS_SCHEMA)


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
            arr = check_block_shape(
                decode_block_at(raw, attrs.data_type, attrs.compression, path),
                grid,
                attrs,
                path,
            )
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
