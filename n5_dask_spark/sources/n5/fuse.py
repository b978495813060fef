"""Python-boundary fusion for block pipelines (optimization guide §4).

Every mapInPandas/applyInPandas stage pays a full Arrow round-trip of its
input AND output bytes (JVM row format <-> Arrow columnar, both directions,
per node). The block pipelines chain such stages back to back inside one
Spark stage — decode -> fragment, decode -> reduce -> fragment,
assemble -> sink — so before r15 every decoded voxel byte crossed the
JVM<->Python boundary once per chained node: two to three full columnar
serialize/deserialize passes where one suffices. At 100 TB that is the
largest constant factor on every N5/TIFF read and write pipeline
(r14 verdict, top next-round item).

This module fuses adjacent Python nodes WITHOUT changing any public
signature or any declared query's rows. A blocks DataFrame
(gx, gy, gz, shape_zyx, data) built by this package carries fusion
metadata as a plain Python attribute on the DataFrame object (the same
immutable-plan contract catalog.widen's width memo relies on):

- MAP source (``attach_map``): ``(upstream_df, blocks_fn)`` where
  ``blocks_fn(batches)`` turns the upstream's raw Arrow batches into an
  iterator of decoded blocks ``(gx, gy, gz, np.ndarray)``. Composable:
  block-local transforms (cast, windowed mean) wrap ``blocks_fn`` and
  re-attach, so decode -> cast -> reduce -> fragment is ONE Python node.
- GROUPED source (``attach_grouped``): ``(frags_df, key_cols,
  assemble_fn)`` where ``assemble_fn(key, pdf)`` reassembles one target
  cell's shuffled fragments into ``(gx, gy, gz, np.ndarray)``. Consumers
  fuse into the applyInPandas node that rides the fragment exchange, so
  assemble -> stats / assemble -> encode+write is ONE Python node after
  the shuffle.

Consumers normalize through :func:`source_of`: when no metadata is
present (a caller-constructed blocks DF, a checkpointed frame, any
DataFrame transformation applied in between) or the frame is persisted
(``persist()`` returns the SAME object, metadata included, and fusing
would bypass the cache and recompute from the files) they fall back to
consuming the materialized blocks DF exactly as before — same rows, same
order, one extra crossing. Each fallback logs its reason at DEBUG on
the ``n5_dask_spark.sources.n5`` logger. Fusion only ever removes
boundary crossings; the materialized DataFrame each helper returns is
byte-identical either way (pinned by the oracle gate and the Arrow-batch
invariance nets, which prove batch boundaries don't leak into results).

Every per-block integrity guard (check_block_shape, codec error naming)
lives INSIDE the composed ``blocks_fn``, so fused plans run the exact
same per-block checks as unfused ones.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from n5_dask_spark.udfbatch import bounded_frames

BLOCK_COLUMNS = ["gx", "gy", "gz", "shape_zyx", "data"]
BLOCK_SCHEMA_DDL = "gx int, gy int, gz int, shape_zyx array<int>, data binary"

log = logging.getLogger("n5_dask_spark.sources.n5")

_MAP_ATTR = "_n5ds_fuse_map"
_GROUPED_ATTR = "_n5ds_fuse_grouped"

# BlocksFn: Iterator[pd.DataFrame] -> Iterator[(gx, gy, gz, np.ndarray)]
# AssembleFn: (key tuple, pd.DataFrame) -> (gx, gy, gz, np.ndarray)


def attach_map(df: DataFrame, upstream: DataFrame, blocks_fn) -> DataFrame:
    """Mark ``df`` (a materialized blocks DF) as fusable from ``upstream``."""
    setattr(df, _MAP_ATTR, (upstream, blocks_fn))
    return df


def attach_grouped(
    df: DataFrame, frags: DataFrame, key_cols: tuple[str, ...], assemble_fn
) -> DataFrame:
    """Mark ``df`` (a materialized assembled-blocks DF) as fusable from the
    pre-shuffle fragments DF via a per-group assembler."""
    setattr(df, _GROUPED_ATTR, (frags, tuple(key_cols), assemble_fn))
    return df


def _fallback_blocks_fn(dt: np.dtype):
    """Decode standard (gx,gy,gz,shape_zyx,data) batches back into blocks —
    the unfused path, identical to what every consumer kernel did inline
    before r15."""

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


def source_of(blocks_df: DataFrame, dt: np.dtype) -> tuple:
    """Normalize a blocks DF to its cheapest consumable source:
    ("map", upstream_df, blocks_fn) or ("grouped", frags_df, key_cols,
    assemble_fn). Unmarked and persisted frames fall back to ("map",
    blocks_df, standard-row decoder) — the exact pre-fusion consumption,
    which reads a persisted frame from its cache."""
    if blocks_df.is_cached:
        return _fallback(blocks_df, dt, "the frame is persisted")
    m = getattr(blocks_df, _MAP_ATTR, None)
    if m is not None:
        return ("map", m[0], m[1])
    g = getattr(blocks_df, _GROUPED_ATTR, None)
    if g is not None:
        return ("grouped", g[0], g[1], g[2])
    return _fallback(blocks_df, dt, "the frame has no fusion metadata")


def _fallback(blocks_df: DataFrame, dt: np.dtype, reason: str) -> tuple:
    """The unfused source: the materialized blocks DF, one extra crossing."""
    if log.isEnabledFor(logging.DEBUG):
        log.debug("blocks frame consumed unfused (materialized rows): %s", reason)
    return ("map", blocks_df, _fallback_blocks_fn(dt))


def emit_blocks_kernel(blocks_fn):
    """mapInPandas kernel materializing a blocks iterator to the standard
    BLOCK schema, byte-bounded (udfbatch) in the Python->JVM direction."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = (
            (gx, gy, gz, list(arr.shape), arr.tobytes())
            for gx, gy, gz, arr in blocks_fn(batches)
        )
        yield from bounded_frames(rows, BLOCK_COLUMNS, lambda r: len(r[4]))

    return kernel


def emit_block_per_group(assemble_fn):
    """applyInPandas kernel materializing one assembled block per group."""

    def one(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        gx, gy, gz, arr = assemble_fn(key, pdf)
        return pd.DataFrame(
            [(gx, gy, gz, list(arr.shape), arr.tobytes())], columns=BLOCK_COLUMNS
        )

    return one


def consume_block_rows(
    blocks_df: DataFrame,
    dt: np.dtype,
    block_rows: Callable[..., Iterable[tuple]],
    columns: list[str],
    schema: str,
    row_bytes: Callable[[tuple], int] | None = None,
) -> DataFrame:
    """Terminal consumer: ONE Python node emitting
    ``block_rows(gx, gy, gz, arr)`` rows for every block of ``blocks_df``.

    Fuses into a MAP source's upstream mapInPandas, into a GROUPED
    source's post-shuffle applyInPandas, or falls back to a mapInPandas
    over the materialized blocks DF. On the map branches output frames are
    byte-bounded when ``row_bytes`` is given (payload-carrying rows). The
    grouped branch is exempt from that 64 MB bound: it returns each
    group's rows as one frame, so its output is bounded by what one
    target block yields. Row-order per partition/group is the block
    iteration order either way."""
    rb = row_bytes if row_bytes is not None else (lambda r: 64)
    src = source_of(blocks_df, dt)
    if src[0] == "grouped":
        _, frags, key_cols, assemble_fn = src

        def one_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame(
                list(block_rows(*assemble_fn(key, pdf))), columns=columns
            )

        return frags.groupBy(*key_cols).applyInPandas(one_group, schema=schema)

    _, upstream, blocks_fn = src

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = (row for blk in blocks_fn(batches) for row in block_rows(*blk))
        yield from bounded_frames(rows, columns, rb)

    return upstream.mapInPandas(kernel, schema=schema)


def transform_blocks(blocks_df: DataFrame, dt: np.dtype, block_map) -> DataFrame:
    """Block-local transform ``block_map(gx, gy, gz, arr) -> (gx, gy, gz,
    arr')`` composed INTO the source: the returned DF materializes to
    standard BLOCK rows (usable exactly like before) and carries composed
    fusion metadata so a downstream consumer still pays one Python node."""
    src = source_of(blocks_df, dt)
    if src[0] == "grouped":
        _, frags, key_cols, assemble_fn = src

        def new_asm(key: tuple, pdf: pd.DataFrame) -> tuple:
            return block_map(*assemble_fn(key, pdf))

        out = frags.groupBy(*key_cols).applyInPandas(
            emit_block_per_group(new_asm), schema=BLOCK_SCHEMA_DDL
        )
        return attach_grouped(out, frags, key_cols, new_asm)

    _, upstream, blocks_fn = src

    def new_fn(batches: Iterator[pd.DataFrame]) -> Iterator[tuple]:
        for blk in blocks_fn(batches):
            yield block_map(*blk)

    out = upstream.mapInPandas(emit_blocks_kernel(new_fn), schema=BLOCK_SCHEMA_DDL)
    return attach_map(out, upstream, new_fn)
