"""N5 dataset scan as a Spark DataFrame of blocks, and driver-side region
reads (SURVEY.md §2.A S2/S4/T2).

Design (§1.5): one row per block, grid coordinates as ordinary columns —
Catalyst filters on (gx, gy, gz) replace dask's task culling.

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
    DatasetAttributes,
    fence_log,
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
    (``getCondition`` in Spark 4, ``getErrorClass`` before it) — stable
    across releases and locales — and falls back to message sniffing only
    when the running Spark doesn't expose one."""
    try:
        from pyspark.errors import AnalysisException

        if isinstance(exc, AnalysisException):
            get = getattr(exc, "getCondition", None) or getattr(exc, "getErrorClass", None)
            cond = get() if get is not None else None
            if cond is not None:
                return cond == "PATH_NOT_FOUND"
    except ImportError:  # very old PySpark without pyspark.errors
        pass
    return "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc)


def _has_uri_scheme(path: str) -> bool:
    """True for hdfs://... s3a://... file:... etc — paths the driver cannot
    meaningfully os.path.exists."""
    head = path.split("/", 1)[0]
    return head.endswith(":") and len(head) > 1


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


def _walk_audit_local(root: str, ndim: int, pat: re.Pattern) -> Iterator[tuple[list[str], str, str, int]]:
    """(dir_coords, filename, full_path, size) for every scan-visible block
    file under a LOCAL dataset root — os.walk + os.stat, no JVM round-trips
    (~9 us/block measured on an 8,192-block dataset)."""
    for dirpath, _dirnames, filenames in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        depth = 0 if rel == "." else rel.count(os.sep) + 1
        if depth != ndim - 1:
            continue  # block files sit exactly ndim levels deep
        dir_coords = [] if rel == "." else rel.split(os.sep)
        # only scan-visible paths are audited: a numeric filename under a
        # NON-numeric directory segment (dataset/foo/0/1) is dropped by the
        # scan's coordinate filter, so neither its emptiness nor its
        # coordinates can corrupt a read (r10 advice: the empty check
        # previously hard-failed on such never-read files)
        if not all(c.isdigit() for c in dir_coords):
            continue
        for fn in filenames:
            if pat.match(fn):
                full = os.path.join(dirpath, fn)
                yield dir_coords, fn, full, os.path.getsize(full)


def _walk_audit_hadoop(
    spark: SparkSession, root: str, ndim: int, pat: re.Pattern
) -> Iterator[tuple[list[str], str, str, int]]:
    """Same contract as _walk_audit_local for URI-scheme roots (file:,
    hdfs:, s3a:, ...), via the Hadoop FileSystem API — the exact listing
    machinery Spark's own binaryFile source uses, so any scheme the scan
    can read, the audit can audit (closes the r10 verdict's object-store
    asymmetry: an object-store partial put IS the torn-write scenario the
    zero-byte guard exists for). One recursive listFiles call; lengths ride
    along in the FileStatus, so no per-file stat RPCs."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(root)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return  # fully-sparse dataset: legal N5, nothing to audit
    prefix = fs.makeQualified(jpath).toString().rstrip("/") + "/"
    files = fs.listFiles(jpath, True)
    while files.hasNext():
        st = files.next()
        full = st.getPath().toString()
        if not full.startswith(prefix):
            continue
        parts = full[len(prefix):].split("/")
        dir_coords, fn = parts[:-1], parts[-1]
        if len(dir_coords) != ndim - 1:
            continue
        if not all(c.isdigit() for c in dir_coords):
            continue
        if pat.match(fn):
            yield dir_coords, fn, full, int(st.getLen())


def _path_exists(path: str, spark: SparkSession | None) -> bool:
    """Existence check that follows the path's scheme: os.stat for local
    paths, the Hadoop FileSystem for URI-scheme paths (spark required)."""
    if spark is None:
        return os.path.exists(path)
    jvm = spark._jvm
    jp = jvm.org.apache.hadoop.fs.Path(path)
    return bool(jp.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jp))


def _stat_paths_hadoop(
    spark: SparkSession, paths: list[str]
) -> Iterator[tuple[str, int]]:
    """(path, size) for each EXISTING path of an explicit URI-scheme block
    list; absent paths are skipped (legal N5 sparseness — fill-value). One
    getFileStatus RPC per overlapping block, the same order of round-trips
    binaryFile's own listing pays for the same path list."""
    jvm = spark._jvm
    fs = None
    for p in paths:
        jp = jvm.org.apache.hadoop.fs.Path(p)
        if fs is None:
            fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
        try:
            yield p, int(fs.getFileStatus(jp).getLen())
        except Exception as exc:  # py4j wraps java.io.FileNotFoundException
            if "FileNotFoundException" not in str(
                getattr(exc, "java_exception", exc)
            ) and "FileNotFoundException" not in str(exc):
                raise


def _reject_empty_block_files(
    container: str,
    dataset: str,
    ndim: int,
    paths: list[str] | None,
    grid_shape: list[int] | None = None,
    spark: SparkSession | None = None,
) -> None:
    """Zero-byte-block + stale-block integrity guard (r10 probe finds;
    extended to URI-scheme containers in r11).

    When ``grid_shape`` is given (glob-branch callers that know the
    dataset attributes), the same walk ALSO refuses block files whose
    grid coordinates fall OUTSIDE the current grid: N5 leaves old block
    files behind when a dataset is overwritten in place with smaller
    dimensions (the classic N5 footgun), and the glob scan would read
    them as data — probe-measured: a 16x16x8 volume shrunk to 8x8x4
    still block_stats'ed all 8 old blocks, 7 of them stale. Out-of-grid
    files mean the IN-grid cells may be stale too (an in-place overwrite
    does not clear absent cells), so this refuses loudly instead of
    silently filtering. Explicit-path callers enumerate from grid math
    and are immune by construction.

    Spark's binaryFile source silently DROPS zero-length files from its
    listing (verified empirically on both the glob and explicit-path
    branches), which makes a zero-byte block file indistinguishable from a
    legally ABSENT sparse block: the scan would read that populated grid
    cell as fill-value zeros with no error — silent wrong data. A
    zero-byte file is never valid N5 (the block header alone is >= 4
    bytes); it is the signature of a torn external writer (crash between
    open and write, object-store partial put, disk-full truncation — our
    own sinks are immune via temp+rename). Truncated and garbage blocks
    already fail loudly in decode_block; this closes the one silent lane.

    Driver-side audit, EVERY scheme: local containers walk os.walk/os.stat
    (measured 75 ms for an 8,192-block dataset, ~9 us/block, linear);
    URI-scheme containers (file:, hdfs:, s3a:, ...) walk the Hadoop
    FileSystem API — one recursive listFiles whose FileStatus lengths ride
    along, the same listing Spark's own binaryFile source performs, so the
    refusal semantics are scheme-independent (r10 verdict item 1: an
    object-store partial put is precisely the torn write the zero-byte
    guard exists for, and was previously a silent fill-value read for
    s3a:// datasets). Operators of datasets whose listing itself is the
    bottleneck (many millions of block files, where Spark's own
    driver-side file index pays the same linear cost) can set
    N5DS_SKIP_SCAN_AUDIT=1 to trade this integrity audit for listing
    time — corruption then surfaces only via decode errors (loud) and
    the zero-byte lane reverts to silent fill-value reads (the documented
    risk this guard exists to close). Region reads (``read_region``) list
    nothing and never come here: their marker and zero-byte refusals
    always run."""
    if os.environ.get("N5DS_SKIP_SCAN_AUDIT"):
        return
    is_uri = _has_uri_scheme(container)
    if is_uri and spark is None:
        # no session to reach a remote filesystem through (library misuse;
        # every in-package caller passes its session)
        return
    # write-session marker (r11 reader-during-write probe): a dataset
    # being written — or abandoned mid-write by a dead writer — must not
    # read as a silent partial snapshot (written blocks as data, unwritten
    # cells as legal sparse fill-value zeros)
    from n5_dask_spark.sources.n5.metadata import INCOMPLETE_MARKER

    marker = (
        container.rstrip("/") + "/" + dataset + "/" + INCOMPLETE_MARKER
        if is_uri
        else os.path.join(container, dataset, INCOMPLETE_MARKER)
    )
    if _path_exists(marker, spark if is_uri else None):
        if fence_log.isEnabledFor(logging.DEBUG):
            fence_log.debug("scan of %s/%s refused: marker %s", container, dataset, marker)
        raise ValueError(
            f"dataset {os.path.join(container, dataset)} carries the "
            f"write-session marker {marker} — a sink job is writing it "
            "right now, or a writer died mid-job leaving it incomplete; "
            "reading it would return a silent partial snapshot (written "
            "blocks as data, unwritten cells as fill-value zeros). Wait "
            "for the writer, or if it is known dead, re-create the "
            "dataset (or delete the marker to accept partial contents)."
        )
    stale: list[str] = []
    empties: list[str] = []
    if paths is not None:
        stats = (
            _stat_paths_hadoop(spark, paths)
            if is_uri
            else (
                (p, os.path.getsize(p)) for p in paths if os.path.exists(p)
            )
        )
        empties = [p for p, size in stats if size == 0]
    else:
        root = container.rstrip("/") + "/" + dataset if is_uri else os.path.join(container, dataset)
        pat = re.compile(r"^\d+$")
        walk = (
            _walk_audit_hadoop(spark, root, ndim, pat)
            if is_uri
            else _walk_audit_local(root, ndim, pat)
        )
        for dir_coords, fn, full, size in walk:
            if size == 0:
                empties.append(full)
            elif grid_shape is not None and any(
                int(c) >= g for c, g in zip([*dir_coords, fn], grid_shape)
            ):
                stale.append(full)
    if stale:
        raise ValueError(
            f"stale block file(s) outside the {grid_shape} grid of "
            f"{os.path.join(container, dataset)}: {sorted(stale)[:5]}"
            f"{' ...' if len(stale) > 5 else ''} — N5 leaves old blocks "
            "behind when a dataset is overwritten in place with smaller "
            "dimensions, and the in-grid cells may be stale too. "
            "Re-create the dataset directory fresh instead of overwriting."
        )
    if empties:
        raise ValueError(
            f"zero-byte block file(s) in {os.path.join(container, dataset)}: "
            f"{sorted(empties)[:5]}{' ...' if len(empties) > 5 else ''} — "
            "not valid N5 (a block header is at least 4 bytes) and Spark's "
            "binaryFile listing silently drops empty files, so these "
            "populated grid cells would otherwise read as fill-value zeros. "
            "Likely a torn external writer; re-write the affected blocks."
        )


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
    if _has_uri_scheme(path):
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
    containers through fsio (no Hadoop FS needed, so it also covers
    emulated and pyarrow-only schemes). ``reader`` names the refused read
    in the fence log."""
    from n5_dask_spark.sources.n5.metadata import INCOMPLETE_MARKER

    if _has_uri_scheme(container):
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


def scan_block_files(
    spark: SparkSession,
    container: str,
    dataset: str,
    ndim: int = 3,
    paths: list[str] | None = None,
    grid_shape: list[int] | None = None,
) -> DataFrame:
    """Raw block-file scan: (gx, gy, gz, length, raw) via binaryFile.

    ``paths`` restricts the scan to an explicit block-file list (region
    pruning: only overlapping files are ever listed or read); with
    ignoreMissingFiles a file sparsified between enumeration and read
    degrades to fill-value instead of failing the job.

    A fully-sparse dataset (attributes.json, zero block files) is legal N5
    and scans as an EMPTY DataFrame, not an error.

    The output ALWAYS carries all three coordinate columns — for
    ndim < 3 the missing ones are constant 0 — so downstream block
    operators (decoded_blocks, block_stats, rechunk) are ndim-agnostic.
    Non-block files the glob can sweep up (ndim=1's '*' matches the
    dataset's own attributes.json) are dropped by the numeric-path
    filter rather than decoded as blocks."""
    tune_session(spark)
    _reject_empty_block_files(container, dataset, ndim, paths, grid_shape, spark=spark)
    glob = "/".join(["*"] * ndim)

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

    if paths is not None:
        reader = spark.read.format("binaryFile").option("ignoreMissingFiles", "true")
        try:
            df = reader.load([escape_hadoop_glob(p) for p in paths])
        except Exception as exc:
            if not _is_missing_path(exc):
                raise
            # A block file vanished between enumeration and load()
            # RESOLUTION (ignoreMissingFiles only covers disappearance
            # after listing). Retry with the survivors — degrading the
            # whole list to an empty scan here would read a populated
            # region as silent zeros. URI-scheme paths are stat'ed through
            # the Hadoop FileSystem (r11; pre-r11 this refused loudly
            # because os.path.exists would test every URI False and read a
            # populated region as silent zeros).
            if any(_has_uri_scheme(p) for p in paths):
                alive = [p for p, _size in _stat_paths_hadoop(spark, paths)]
            else:
                alive = [p for p in paths if os.path.exists(p)]
            if not alive:
                return _empty()  # fully sparsified: legal fill-value read
            df = reader.load([escape_hadoop_glob(p) for p in alive])  # a second racing delete fails loudly
    else:
        try:
            # ignoreMissingFiles here too: a block sparsified between the
            # glob listing and the task read degrades to fill-value (the
            # documented sparse contract) instead of failing the whole job
            df = (
                spark.read.format("binaryFile")
                .option("ignoreMissingFiles", "true")
                .load(os.path.join(escape_hadoop_glob(os.path.join(container, dataset)), glob))
            )
        except Exception as exc:  # binaryFile raises when the glob matches nothing
            if not _is_missing_path(exc):
                raise
            return _empty()
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
        spark, container, dataset, attrs.ndim, paths=paths,
        grid_shape=None if paths is not None else attrs.grid_shape,
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
