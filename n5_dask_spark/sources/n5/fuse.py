"""Block pipelines as explicit values (optimization guide §4).

Every Python node in a Spark plan pays a full Arrow round trip of its
input and output bytes, and building one costs the driver a py4j-analysed
DataFrame. The block pipelines chain such steps back to back — decode ->
fragment, decode -> reduce -> fragment, assemble -> sink — so this module
describes a pipeline as a small immutable value and builds Spark nodes
only in the terminal that runs them:

- ``reader.Scan`` (``scan_block_files``, ``tiff.tif_series_scan``): the
  :class:`~n5_dask_spark.sources.n5.reader.ScanPlan` of one listing plus
  the split ids (``spark.range``) a consumer maps its kernel over.
- :class:`BlockPipeline`: a source, the composed block-local stages and,
  for a grouped pipeline, the key columns its assembler groups on.

  - MAP: ``source()`` builds the frame the first Python node reads
    (scan split ids, grid cells, block rows) and ``read(batches)`` turns
    its pandas batches into blocks ``(gx, gy, gz, np.ndarray)``.
  - GROUPED: ``source()`` builds the fragments frame, ``key_cols`` are
    the target-cell columns, and ``read(key, table)`` assembles one
    cell's shuffled fragments into a block.

  Block-local transforms (cast, windowed mean) append to ``stages``, so
  decode -> cast -> reduce -> fragment is ONE map node, and assemble ->
  stats / assemble -> encode+write is ONE node after the shuffle.

Producers (``decoded_blocks``, ``transform_blocks``, ``rechunk``,
``downsample``, ``cast_blocks``, the ``write_array`` and TIFF slice
sources, ``export_region``) build no Spark node at all. Terminals build
exactly one DataFrame per Python node that runs: :func:`consume_block_rows`
and its callers (``writer.write_blocks``, ``reader.block_stats``, the
``n5ops`` kernels), and the ``tiffops`` kernels over a ``reader.Scan``. ``.to_df()`` is the one explicit materialization
into standard (gx, gy, gz, shape_zyx, data) rows.

Every terminal also accepts a plain blocks DataFrame (a ``.to_df()``
frame, a persisted frame, a foreign frame, or one changed by a DataFrame
op). It is consumed unfused: one extra crossing, same rows, and a
persisted frame is read from its cache. Each materialization is counted
once in :data:`MATERIALIZATIONS`, keyed by reason — ``"to_df"`` at
``.to_df()``, ``"persisted"`` and ``"plain"`` when such a frame is
consumed — and logged at DEBUG on the ``n5_dask_spark.sources.n5``
logger with its reason (a persisted frame is logged as persisted, also
when it came from ``.to_df()``). A ``.to_df()`` frame is counted once, at
``.to_df()``: a weak set of those frames, keyed by object identity, tells
the consumer not to count it again. The set is for counting only and
never steers execution. Tests read and ``clear()`` the counter; a fused
pipeline adds nothing to it.

Grouped nodes run on ``applyInArrow``: the assembler reads its fragments
straight from the Arrow columns (``pa.Scalar`` keys read with
``.as_py()``), and the rows it returns are packed into record batches of
at most ``udfbatch.out_batch_bytes()`` payload bytes
(``udfbatch.bounded_batches``). PySpark picks the grouped-Arrow eval type
from the kernel's type hints, and under ``from __future__ import
annotations`` those hints are strings it cannot resolve:
``GroupedData.applyInArrow`` then raises ``UnboundLocalError: eval_type``
(PySpark 4.1). Grouped kernels therefore carry no annotations, which
selects the (key, table) -> table form.

Map nodes stay ``mapInPandas``: each reads a few split ids or grid cells
per task and yields byte-bounded pandas frames
(``udfbatch.bounded_frames``); moving them to ``mapInArrow`` rewrites
every map kernel and is its own measured step.

Every per-block integrity guard lives inside the composed ``read`` and
``stages``, so fused and unfused plans run the same per-block checks: an
N5 block is decoded by ``reader.decode_cell`` (codec errors name the
file, a block larger than its grid cell is refused) and a TIFF slice by
the series source's kernel (shape and dtype probes). The write sink is
``writer.block_sink``, a ``block_rows`` function like any other.
"""

from __future__ import annotations

import functools
import logging
import weakref
from collections import Counter
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, replace

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from n5_dask_spark.udfbatch import bounded_batches, bounded_frames

BLOCK_COLUMNS = ["gx", "gy", "gz", "shape_zyx", "data"]
BLOCK_SCHEMA_DDL = "gx int, gy int, gz int, shape_zyx array<int>, data binary"

log = logging.getLogger("n5_dask_spark.sources.n5")

# Block: (gx, gy, gz, np.ndarray in zyx order)
# map read:      Iterator[pd.DataFrame] -> Iterator[Block]
# grouped read:  (key tuple of pa.Scalar, pa.Table) -> Block
# stage:         (gx, gy, gz, arr) -> Block

MATERIALIZATIONS: Counter[str] = Counter()
"""Materialized block frames by reason: "to_df", "persisted", "plain"."""

_TO_DF_FRAMES: weakref.WeakSet = weakref.WeakSet()
"""Frames returned by ``.to_df()``, keyed by identity so that consuming
one is not counted a second time. Counting only: nothing reads it to
choose what runs."""


@dataclass(frozen=True)
class BlockPipeline:
    """A block pipeline that has built no Spark node yet (module doc)."""

    source: Callable[[], DataFrame]
    read: Callable
    stages: tuple[Callable, ...] = ()
    key_cols: tuple[str, ...] | None = None

    def to_df(self) -> DataFrame:
        """Materialize to standard block rows: the one explicit exit from
        a pipeline, counted and logged."""
        df = consume_block_rows(
            self, None, _block_row, BLOCK_COLUMNS, BLOCK_SCHEMA_DDL,
            row_bytes=lambda r: len(r[4]),
        )
        count_materialization("to_df", "blocks pipeline materialized by .to_df()")
        _TO_DF_FRAMES.add(df)
        return df


def count_materialization(reason: str, message: str) -> None:
    """Count one materialization under ``reason`` and log ``message``."""
    MATERIALIZATIONS[reason] += 1
    if log.isEnabledFor(logging.DEBUG):
        log.debug("%s", message)


def _block_row(gx, gy, gz, arr: np.ndarray) -> Iterator[tuple]:
    yield (gx, gy, gz, list(arr.shape), arr.tobytes())


def decode_block_rows(dt: np.dtype):
    """Map read over standard (gx, gy, gz, shape_zyx, data) rows."""

    def blocks(batches: Iterator[pd.DataFrame]) -> Iterator[tuple]:
        for pdf in batches:
            for gx, gy, gz, shape, data in zip(
                pdf["gx"], pdf["gy"], pdf["gz"], pdf["shape_zyx"], pdf["data"]
            ):
                yield (
                    int(gx),
                    int(gy),
                    int(gz),
                    np.frombuffer(bytes(data), dtype=dt).reshape(list(shape)),
                )

    return blocks


def pipeline_of(blocks: BlockPipeline | DataFrame, dt: np.dtype) -> BlockPipeline:
    """``blocks`` as a pipeline. A plain DataFrame becomes a map source
    over its rows — consumed unfused, counted and logged with its reason."""
    if isinstance(blocks, BlockPipeline):
        return blocks
    from_to_df = blocks in _TO_DF_FRAMES
    if blocks.is_cached:
        reason, why = "persisted", "the frame is persisted"
    elif from_to_df:
        reason, why = "to_df", "the frame came from .to_df()"
    else:
        reason, why = "plain", (
            "the frame is not a block pipeline "
            "(a foreign frame, or one changed by a DataFrame op)"
        )
    message = "blocks frame consumed unfused (materialized rows): " + why
    if from_to_df:  # already counted once, at .to_df()
        if log.isEnabledFor(logging.DEBUG):
            log.debug("%s", message)
    else:
        count_materialization(reason, message)
    return BlockPipeline(lambda: blocks, decode_block_rows(dt))


def transform_blocks(
    blocks: BlockPipeline | DataFrame, dt: np.dtype, block_map
) -> BlockPipeline:
    """Compose the block-local ``block_map(gx, gy, gz, arr) -> (gx, gy,
    gz, arr')`` into the pipeline: no node of its own."""
    p = pipeline_of(blocks, dt)
    return replace(p, stages=(*p.stages, block_map))


@functools.lru_cache(maxsize=64)
def schema_struct(ddl: str) -> StructType:
    """``ddl`` parsed once per process. Parsing goes through the JVM
    (py4j), and the terminals pass the same few constant strings on every
    call; the parsed ``StructType`` depends on the string alone."""
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(ddl)


def grouped_kernel(assemble, stages, block_rows, schema: pa.Schema, row_bytes):
    """The applyInArrow kernel of a grouped terminal: assemble one cell,
    run the stages, and return ``block_rows``' rows as byte-bounded
    record batches. Unannotated on purpose (module doc)."""

    def one_group(key, table):
        blk = assemble(key, table)
        for stage in stages:
            blk = stage(*blk)
        return pa.Table.from_batches(
            list(bounded_batches(block_rows(*blk), schema, row_bytes)), schema=schema
        )

    return one_group


def consume_block_rows(
    blocks: BlockPipeline | DataFrame,
    dt: np.dtype | None,
    block_rows: Callable[..., Iterable[tuple]],
    columns: list[str],
    schema: str,
    row_bytes: Callable[[tuple], int] | None = None,
) -> DataFrame:
    """Terminal consumer: ONE Python node emitting
    ``block_rows(gx, gy, gz, arr)`` rows for every block of ``blocks``.

    A map pipeline runs as a mapInPandas over its source, a grouped one as
    an applyInArrow over its fragments, and a plain DataFrame as a
    mapInPandas over its rows. Output is byte-bounded on both kinds of
    node (``row_bytes`` gives a row's payload; 64 bytes per row when
    omitted): pandas frames on the map side, Arrow record batches of at
    most the budget on the grouped side. Row order per partition/group is
    the block iteration order. ``schema`` is a DDL string, parsed once per
    process (:func:`schema_struct`)."""
    rb = row_bytes if row_bytes is not None else (lambda r: 64)
    p = pipeline_of(blocks, dt)
    read, stages = p.read, p.stages
    struct = schema_struct(schema)
    if p.key_cols is not None:
        from pyspark.sql.pandas.types import to_arrow_schema

        kernel = grouped_kernel(read, stages, block_rows, to_arrow_schema(struct), rb)
        return p.source().groupBy(*p.key_cols).applyInArrow(kernel, schema=struct)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def rows():
            for blk in read(batches):
                for stage in stages:
                    blk = stage(*blk)
                yield from block_rows(*blk)

        yield from bounded_frames(rows(), columns, rb)

    return p.source().mapInPandas(kernel, schema=struct)
