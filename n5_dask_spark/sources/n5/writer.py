"""N5 dataset sinks (SURVEY.md §2.A K1/K2/K5).

Spark-first shape: a grid-enumeration DataFrame (T11) is the spine; each
task owns exactly one output block (the contention-free `lock=False`
discipline of /root/reference/src/tif_to_n5.py:58 holds BY CONSTRUCTION —
every producer emits one row per grid cell). Every block goes through
one sink (``block_sink``: encode, ``metadata.atomic_publish``, chaos hook)
and every block write job ends in one guard (``commit_dataset_write``),
for ``write_blocks`` and the format("n5") sink alike. Publishing is
atomic, so task retries can't corrupt blocks — the write-atomicity
concern flagged in SURVEY.md §7.

The reference's manual Z-slab serialization loop
(/root/reference/src/tif_to_n5.py:31-58) disappears: Spark executes
partition-at-a-time, which bounds memory natively.

Unlike the reference's write_n5_block — a no-op because it assigns into a
transposed copy (/root/reference/src/n5_utils.py:30-33, SURVEY.md §1.4) —
write_region really writes.
"""

from __future__ import annotations

import itertools
import logging
import os
import tempfile
import uuid
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from n5_dask_spark.session import tune_session
from n5_dask_spark.sources.n5.codec import data_type_of, encode_block, np_dtype
from n5_dask_spark.sources.n5.fuse import (
    BLOCK_COLUMNS,
    BLOCK_SCHEMA_DDL,
    BlockPipeline,
    consume_block_rows,
    decode_block_rows,
)
from n5_dask_spark.sources.n5.metadata import (
    INCOMPLETE_MARKER,
    DatasetAttributes,
    atomic_publish,
    fence_log,
    is_uri,
    read_attributes,
    read_raw_attributes,
    write_attributes,
)


def claim_dataset_write(container: str, dataset: str) -> str:
    """Claim the dataset's write session; returns the marker path.

    r11 reader-during-write probe: every block file is atomic, but the
    DATASET is not — a scan concurrent with a sink job read the
    already-written blocks as data and the not-yet-written cells as legal
    sparse fill-value zeros, a silent partial snapshot with zero errors
    (probe-frozen mid-write state, pinned in test_n5.py). The marker makes
    the job window visible: readers refuse while it exists, a writer crash
    leaves it behind (loud forever instead of silent once — the N5 analog
    of a missing _SUCCESS file), and the O_EXCL create refuses a SECOND
    concurrent writer on the same dataset up front (two sinks interleaving
    one dataset is last-writer-wins chaos; within-job duplicates were
    already guarded). Spark's own task retries never re-enter here — the
    claim is driver-side, once per sink job."""
    if is_uri(container):
        # URI-scheme container (r13, lifting the local-only refusal): the
        # marker claim uses fsio's write-then-read-back fence — object
        # stores have no O_EXCL; see fsio.claim_marker_uri for the
        # exactly-one-proceeds argument and the consistency contract
        from n5_dask_spark.sources.n5 import fsio

        dest = f"{container.rstrip('/')}/{dataset}" if dataset else container.rstrip("/")
        return fsio.claim_marker_uri(f"{dest}/{INCOMPLETE_MARKER}")
    path = os.path.join(container, dataset, INCOMPLETE_MARKER)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        if fence_log.isEnabledFor(logging.DEBUG):
            fence_log.debug("claim of %s refused: marker exists", path)
        raise RuntimeError(
            f"refusing to write {os.path.join(container, dataset)}: "
            f"write-session marker {path} already exists — either another "
            "writer is mid-job on this dataset (concurrent same-dataset "
            "writers are refused up front) or a previous writer died "
            "leaving the dataset incomplete. If the previous writer is "
            "known dead, delete the marker; the dataset may be partially "
            "written — prefer re-creating it from source."
        ) from None
    with os.fdopen(fd, "w") as f:
        f.write(f"writer pid {os.getpid()}\n")
    if fence_log.isEnabledFor(logging.DEBUG):
        fence_log.debug("claimed %s", path)
    return path


def release_dataset_write(marker: str) -> None:
    """Release a claim: the dataset is complete and visible to readers."""
    if fence_log.isEnabledFor(logging.DEBUG):
        fence_log.debug("released %s", marker)
    if is_uri(marker):
        from n5_dask_spark.sources.n5 import fsio

        fsio.delete_file(marker)  # idempotent: absent is a no-op
        return
    try:
        os.unlink(marker)
    except FileNotFoundError:
        pass  # already released (idempotent)


# Chaos hook (r10 fault-injection net). At 100 TB an executor WILL die
# mid-write; the sinks' claim is that task retries over atomic
# temp-file+rename writes leave the output byte-identical to a clean run.
# That claim is proven, not assumed: when this env var names a directory,
# the FIRST attempt of every sink task drops a marker file there and dies
# AFTER its current batch's files hit disk — a lost-executor-mid-write
# simulation — and retried attempts (> 0) run clean. The marker files let
# the test assert the injection really fired. Production cost: one
# os.environ.get per written block. tests/test_fault_injection.py drives
# this under a retry-enabled master (local[N,maxFailures]).
# The sinks run the hook after every written block, so a task owning more
# than one block dies with only part of them on disk.
_FAULT_ENV = "N5DS_INJECT_WRITE_FAULT_DIR"


def _maybe_inject_fault() -> None:
    fault_dir = os.environ.get(_FAULT_ENV)
    if not fault_dir:
        return
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx is not None and ctx.attemptNumber() == 0:
        marker = os.path.join(
            fault_dir, f"p{ctx.partitionId()}-a{ctx.attemptNumber()}-{uuid.uuid4().hex}"
        )
        with open(marker, "w"):
            pass
        raise RuntimeError(
            "injected write fault: first-attempt task death mid-write "
            f"(partition {ctx.partitionId()})"
        )


def block_sink(container: str, dataset: str, attrs: DatasetAttributes):
    """The one block writer: ``sink(gx, gy, gz, arr)`` encodes the zyx
    block, publishes it at its grid cell's path (:func:`atomic_publish`),
    runs the chaos hook and yields the written ``(gx, gy, gz)``.

    It is a ``block_rows`` function, so ``write_blocks`` fuses it into the
    producer's Python node, and the format("n5") sink calls it per row.
    Both hand what it yields to :func:`commit_dataset_write`. Block paths
    are ``ndim`` levels deep: for ndim < 3 the padding coordinates are
    yielded but name no directory."""
    data_type, compression = attrs.data_type, dict(attrs.compression)
    ndim = attrs.ndim

    def sink(gx: int, gy: int, gz: int, arr: np.ndarray) -> Iterator[tuple]:
        coords = (int(gx), int(gy), int(gz))
        atomic_publish(
            os.path.join(container, dataset, *map(str, coords[:ndim])),
            encode_block(arr, data_type, compression),
        )
        _maybe_inject_fault()  # chaos hook: this block's file is on disk
        yield coords

    return sink


def commit_dataset_write(
    marker: str, coords: np.ndarray | list[tuple[int, int, int]], attrs: DatasetAttributes
) -> None:
    """Guard a finished block write, then release its marker.

    ``coords`` holds the ``(gx, gy, gz)`` rows every :func:`block_sink`
    of the job yielded. Two writes of one path key (``coords[:, :ndim]``:
    for a 2-D dataset rows differing only in gz name one file) mean two
    producers raced for a cell with last-writer-wins contents, and more
    writes than grid cells mean the producer wrote outside the grid. Either
    raises and leaves the marker, so the dataset stays loud as
    incomplete."""
    keys = np.asarray(coords, dtype=np.int64).reshape(-1, 3)[:, : attrs.ndim]
    written, cells = len(keys), len(np.unique(keys, axis=0))
    if written != cells:
        raise RuntimeError(
            f"duplicate block producers: {written} writes covered only "
            f"{cells} distinct grid cells — last-writer-wins contents would "
            "be nondeterministic"
        )
    if written > attrs.n_blocks:
        raise RuntimeError(f"wrote {written} blocks for a {attrs.n_blocks}-block grid")
    release_dataset_write(marker)


def grid_df(spark: SparkSession, attrs: DatasetAttributes) -> DataFrame:
    """Grid-enumeration DataFrame (T11): one row per output block. Built with
    spark.range over the linearized grid so enumeration itself distributes."""
    gx, gy, gz = attrs.grid_shape + [1] * (3 - attrs.ndim)
    n = gx * gy * gz
    return (
        spark.range(n)
        .select(
            (F.col("id") % gx).cast("int").alias("gx"),
            ((F.col("id") / gx).cast("long") % gy).cast("int").alias("gy"),
            (F.col("id") / (gx * gy)).cast("int").alias("gz"),
        )
    )


def write_blocks(
    blocks: BlockPipeline | DataFrame,
    container: str,
    dataset: str,
    attrs: DatasetAttributes,
) -> None:
    """Sink blocks (a pipeline, or a DataFrame of gx, gy, gz, shape_zyx,
    data native bytes) into the dataset.

    One output file per block. Single-writer-per-block holds by BLOCK
    uniqueness: every producer (rechunk/export_region's grouped assembler,
    grid enumeration, write_region's edge merge) emits exactly one block
    per grid cell, and atomic_publish makes even a retried duplicate a full
    overwrite, never an interleave. The sink therefore does NOT re-shuffle
    on the grid key — the old unconditional repartition moved every block
    byte through a second exchange in every rechunk->write pipeline purely
    to rebalance. Instead encode+write fuses INTO the producer's own
    Python node (guide §4): into a grouped pipeline's post-shuffle
    assembler (applyInArrow; block bytes never re-cross the JVM<->Python
    boundary after the fragment shuffle) or into a map pipeline's
    decode/slice kernel (decode+encode+write is one node). Write
    parallelism is the producer's partitioning (groupBy shuffle output,
    spark.range splits, createDataFrame slices — all wide). A caller that
    hands a single-partition blocks DF serializes its writes; all current
    producers are wide by construction.

    The uniqueness contract is GUARDED, not assumed: the sink emits the
    grid coords it wrote (3 ints per block — negligible next to the block
    bytes), its own action collects them to the driver as Arrow
    (``toArrow``), and :func:`commit_dataset_write` compares the write
    count against the number of distinct path keys (coords[:ndim]). The
    check adds no Spark stage or job to the write and holds 12 bytes per
    written block on the driver. A producer emitting the same cell from
    two partitions (nondeterministic last-writer-wins contents) fails
    loudly instead of shipping whichever write landed second. For grouped
    producers the guard is trivially green (groupBy keys are unique by
    construction); for every other producer it is the real check.

    The whole job (metadata + blocks + guards) runs under the dataset's
    write-session marker (claim_dataset_write): concurrent readers refuse
    a mid-write dataset instead of silently reading a partial snapshot,
    and a failed job leaves the marker so the incomplete dataset stays
    loud. The marker is released only after the duplicate-producer guard
    passes — a guard failure means nondeterministic contents, which is
    exactly an incomplete dataset."""
    marker = claim_dataset_write(container, dataset)
    write_attributes(container, dataset, attrs)
    written = consume_block_rows(
        blocks, np_dtype(attrs.data_type), block_sink(container, dataset, attrs),
        ["gx", "gy", "gz"], "gx int, gy int, gz int",
    ).toArrow()
    coords = np.column_stack([written.column(c).to_numpy() for c in ("gx", "gy", "gz")])
    commit_dataset_write(marker, coords, attrs)


def write_array(
    spark: SparkSession,
    arr_xyz: np.ndarray,
    container: str,
    dataset: str,
    block_size: list[int],
    compression: dict[str, Any] | None = None,
    data_type: str | None = None,
    extra_attrs: dict[str, Any] | None = None,
) -> DatasetAttributes:
    """Store a driver-side xyz-ordered array as an N5 dataset.

    The array is broadcast; each task slices its own blocks out. (For data
    already in a DataFrame — TIFF import, rechunk output — use write_blocks;
    this path is for test goldens and small driver-side volumes.)"""
    tune_session(spark)
    arr_zyx = np.ascontiguousarray(arr_xyz.transpose(tuple(range(arr_xyz.ndim - 1, -1, -1))))
    data_type = data_type or data_type_of(arr_zyx.dtype)
    attrs = DatasetAttributes(
        data_type=data_type,
        dimensions=[int(d) for d in arr_xyz.shape],
        block_size=[int(b) for b in block_size],
        compression=compression or {"type": "raw"},
        extra=dict(extra_attrs or {}),
    )
    # metadata lands inside write_blocks' marker window — writing it here
    # too would expose the new attributes BEFORE the session is claimed
    # (a torn-visibility gap the r11 marker exists to close)
    bcast = spark.sparkContext.broadcast(arr_zyx)
    bs_xyz = list(attrs.block_size)
    dt = np_dtype(data_type)
    ndim = attrs.ndim

    def blocks_fn(batches: Iterator[pd.DataFrame]) -> Iterator[tuple]:
        # byte-bounded output framing is fuse/udfbatch's — THE worst-case
        # lane of the r11 Arrow probe: input rows are ~12-byte grid coords,
        # so Spark's input-side byte bound admits ~10k of them per batch,
        # and one output frame per input batch would hold 10k x block_size
        # bytes (unbounded by ANY input-side knob; 1.3 TB at 512-cube uint8)
        vol = bcast.value
        for pdf in batches:
            for gx, gy, gz in zip(pdf["gx"], pdf["gy"], pdf["gz"]):
                grid = (int(gx), int(gy), int(gz))[:ndim]
                sel = tuple(
                    slice(g * b, min((g + 1) * b, d))
                    for g, b, d in zip(grid[::-1], bs_xyz[::-1], vol.shape)
                )
                block = np.ascontiguousarray(vol[sel]).astype(dt)
                # pad grid coords to the fixed 3-column schema for ndim < 3
                g3 = list(grid) + [0] * (3 - ndim)
                yield (g3[0], g3[1], g3[2], block)

    # write_blocks runs slice+encode+write as ONE Python node (guide §4):
    # the block bytes never cross the boundary at all (they are born
    # executor-side from the broadcast volume)
    write_blocks(
        BlockPipeline(lambda: grid_df(spark, attrs), blocks_fn), container, dataset, attrs
    )
    return attrs


def write_region(
    spark: SparkSession,
    container: str,
    dataset: str,
    region_xyz: np.ndarray,
    start_xyz: list[int],
) -> None:
    """Write an xyz-ordered array into an existing dataset at start_xyz.

    Correct replacement for the reference's no-op write_n5_block
    (src/n5_utils.py:21-33). Blocks fully covered by the region are sliced
    straight from it; partially covered edge blocks are read-modify-written
    one at a time on the driver through ``reader.read_block_file`` (absent
    means zeros), with no Spark job, so the edge reads hold one block
    beside the caller's region. Only the block write runs distributed."""
    from n5_dask_spark.sources.n5.reader import decode_cell, read_block_file

    attrs = read_attributes(container, dataset)
    end_xyz = [s + d for s, d in zip(start_xyz, region_xyz.shape)]
    if len(start_xyz) != attrs.ndim or region_xyz.ndim != attrs.ndim:
        raise ValueError(
            f"region is {region_xyz.ndim}-D at a {len(start_xyz)}-D start; "
            f"dataset is {attrs.ndim}-D"
        )
    # out-of-bounds voxels would otherwise be SILENTLY dropped (b1 clamps
    # to the dataset dims) or, fully past the dims, emit a zero-extent
    # block file outside the legal grid
    if any(s < 0 for s in start_xyz) or any(
        e > d for e, d in zip(end_xyz, attrs.dimensions)
    ):
        raise ValueError(
            f"region [{start_xyz}, {end_xyz}) is outside the dataset "
            f"dimensions {attrs.dimensions}"
        )
    bs = attrs.block_size
    dt = np_dtype(attrs.data_type)
    ndim = attrs.ndim
    rows = []

    def emit(grid: tuple, block_xyz: np.ndarray) -> None:
        block = np.ascontiguousarray(
            block_xyz.transpose(tuple(range(block_xyz.ndim - 1, -1, -1)))
        ).astype(dt)
        rows.append((*(list(grid) + [0] * (3 - ndim)), list(block.shape), block.tobytes()))

    edges = []  # (grid, b0, b1, region_sel, block_sel)
    for grid in itertools.product(
        *[range(s // b, (e - 1) // b + 1) for s, e, b in zip(start_xyz, end_xyz, bs)]
    ):
        b0 = [g * b for g, b in zip(grid, bs)]
        b1 = [min((g + 1) * b, d) for g, b, d in zip(grid, bs, attrs.dimensions)]
        lo = [max(a, s) for a, s in zip(b0, start_xyz)]
        hi = [min(a, e) for a, e in zip(b1, end_xyz)]
        region_sel = tuple(slice(l - s, h - s) for l, h, s in zip(lo, hi, start_xyz))
        if lo == b0 and hi == b1:  # fully covered: no read needed
            emit(grid, np.ascontiguousarray(region_xyz[region_sel]))
        else:  # edge block: needs the stored bytes merged in
            block_sel = tuple(slice(l - a, h - a) for l, h, a in zip(lo, hi, b0))
            edges.append((grid, b0, b1, region_sel, block_sel))

    for grid, b0, b1, region_sel, block_sel in edges:
        path = os.path.join(container, dataset, *map(str, grid))
        raw = read_block_file(path)
        if raw is None:  # sparse: absent block file means zeros
            block_xyz = np.zeros([h - l for l, h in zip(b0, b1)], dtype=dt)
        else:
            arr_zyx = decode_cell(raw, grid, attrs, path)
            block_xyz = np.array(
                arr_zyx.transpose(tuple(range(arr_zyx.ndim - 1, -1, -1))), dtype=dt
            )
        block_xyz[block_sel] = region_xyz[region_sel]
        emit(tuple(grid), block_xyz)

    pdf = pd.DataFrame(rows, columns=BLOCK_COLUMNS)
    blocks = BlockPipeline(
        lambda: spark.createDataFrame(pdf, schema=BLOCK_SCHEMA_DDL), decode_block_rows(dt)
    )
    write_blocks(blocks, container, dataset, attrs)


def create_from_template(
    template_container: str,
    template_dataset: str,
    out_container: str,
    out_dataset: str,
    compression: str | dict[str, Any] = "same",
    data_type: str = "same",
) -> DatasetAttributes:
    """CREATE TABLE LIKE for N5 (reference create_dataset,
    /root/reference/src/create_n5.py:7-37 — minus the hardcoded '/s0' quirk,
    SURVEY.md §1.4)."""
    t = read_attributes(template_container, template_dataset)
    if compression == "same":
        comp = dict(t.compression)
    elif isinstance(compression, str):
        comp = {"type": compression}
    else:
        comp = dict(compression)
    extra = {
        k: v
        for k, v in read_raw_attributes(template_container, template_dataset).items()
        if k not in ("dataType", "dimensions", "blockSize", "compression")
    }
    attrs = DatasetAttributes(
        data_type=t.data_type if data_type == "same" else data_type,
        dimensions=list(t.dimensions),
        block_size=list(t.block_size),
        compression=comp,
        extra=extra,
    )
    write_attributes(out_container, out_dataset, attrs)
    return attrs


def temp_container(prefix: str = "n5ds") -> str:
    return os.path.join(tempfile.gettempdir(), f"{prefix}-{uuid.uuid4().hex[:8]}.n5")
