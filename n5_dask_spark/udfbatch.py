"""Byte-bounded output framing for wide-row mapInPandas kernels.

The r11 Arrow-memory probe (third probe direction, VERDICT r10 #6): Spark
bounds the JVM->Python direction of a mapInPandas exchange by BYTES
(``spark.sql.execution.arrow.maxBytesPerBatch``, 64 MB default in Spark 4.1,
pinned in session.DEFAULT_CONFS) — but the Python->JVM direction has no such
bound: each pandas frame the kernel YIELDS becomes exactly one output
ArrowRecordBatch (pyspark/sql/pandas/serializers.py — the byte-aware output
slicer exists only for transformWithState). A kernel that accumulates one
frame per INPUT batch therefore emits output batches of
``64 MB x expansion_ratio``:

- block decode: compressed -> native voxels, ratio is the codec ratio
  (gzip'd sparse microscopy volumes routinely exceed 100x -> multi-GB
  batches, worker OOM or Arrow's 2 GiB-per-BinaryType-column offset limit);
- volume slicing (write_volume's make_blocks): input rows are ~12-byte grid
  coords, so ~10k rows arrive per input batch and the yielded frame holds
  10k x block_size bytes — at the reference-default 512-cube blocks
  (/root/reference/src/tif_to_n5.py:37) that is unbounded by ANY input-side
  knob;
- dtype cast: up to 8x widening (uint8 -> float64).

Fix: stream rows through :func:`bounded_frames`, which starts a new output
frame before the row that would take it past a budget (default: the same
64 MB as the input bound, env-tunable). Peak kernel memory becomes
``input_batch + budget + one_row`` instead of ``input_batch x ratio``.
Correctness is batch-boundary independent by construction (the full-registry
3-row / 7-row Arrow-batch invariance nets prove the consumers don't care),
so the budget only moves memory, never values; tests/test_udfbatch.py pins
both properties.

Grouped Arrow kernels (``applyInArrow``) return a table whose record
batches Spark ships one by one; :func:`bounded_batches` packs their rows
under the same budget and the same cut rule (:func:`_packed`).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
import pyarrow as pa

# Mirrors spark.sql.execution.arrow.maxBytesPerBatch's 64 MB default so both
# directions of every wide-row exchange carry the same bound.
DEFAULT_OUT_BATCH_BYTES = 64 * 1024 * 1024


def out_batch_bytes() -> int:
    """Output-frame byte budget: SPARK_GRAFT_UDF_OUT_BATCH_BYTES or 64 MB.

    Read per kernel invocation (executor-side), so tests and constrained
    deployments can shrink it without rebuilding plans.
    """
    raw = os.environ.get("SPARK_GRAFT_UDF_OUT_BATCH_BYTES", "")
    try:
        v = int(raw)
    except ValueError:
        v = 0
    return v if v > 0 else DEFAULT_OUT_BATCH_BYTES


def _packed(
    rows: Iterable[tuple], row_bytes: Callable[[tuple], int], budget: int | None = None
) -> Iterator[list[tuple]]:
    """Cut ``rows`` into runs of at most ``budget`` payload bytes (default
    :func:`out_batch_bytes`), ``row_bytes`` giving one row's payload. A run
    is cut before the row that would pass the budget, so a single row
    larger than the budget ships as its own 1-row run (maxBytesPerBatch's
    one-oversized-record semantics). ``rows`` is consumed lazily; row order
    is preserved; an empty input yields nothing."""
    if budget is None:
        budget = out_batch_bytes()
    buf: list[tuple] = []
    acc = 0
    for row in rows:
        n = row_bytes(row)
        if buf and acc + n > budget:
            yield buf
            buf, acc = [], 0
        buf.append(row)
        acc += n
    if buf:
        yield buf


def bounded_frames(
    rows: Iterable[tuple],
    columns: list[str],
    row_bytes: Callable[[tuple], int],
    budget: int | None = None,
) -> Iterator[pd.DataFrame]:
    """Pack row tuples into pandas frames of at most ``budget`` payload
    bytes (:func:`_packed`)."""
    for buf in _packed(rows, row_bytes, budget):
        yield pd.DataFrame(buf, columns=columns)


def bounded_batches(
    rows: Iterable[tuple], schema: pa.Schema, row_bytes: Callable[[tuple], int]
) -> Iterator[pa.RecordBatch]:
    """Pack row tuples into Arrow record batches of ``schema`` holding at
    most :func:`out_batch_bytes` payload bytes each (:func:`_packed`)."""
    for buf in _packed(rows, row_bytes):
        yield _record_batch(buf, schema)


def _record_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(zip(*rows), schema)],
        schema=schema,
    )
