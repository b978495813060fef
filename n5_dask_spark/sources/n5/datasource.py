"""Spark 4 Python DataSource for N5 (SURVEY.md §2.A S2 — the
`spark.dataSource.register` path the survey recommends as the idiomatic
Spark-4 alternative to a file-source+UDF scan).

Usage:
    register_n5_source(spark)
    df = (spark.read.format("n5")
          .option("path", "/data/container.n5")
          .option("dataset", "mri/c0/s0")
          .option("start", "0,0,0").option("end", "64,64,27")   # optional region
          .load())
    # -> gx, gy, gz, shape_zyx (zyx dims), data (native-endian zyx bytes)

Partition planning runs in Spark's planner process and packs block files
into scan tasks with Spark's own file-split rule (:class:`ScanSplit`,
:func:`plan_splits`), the split plan the glob block scan and the TIFF
series scan run too, so both N5 scan paths run the same tasks over the
same files. When a region is given only OVERLAPPING blocks are planned —
source-level partition pruning, so a 1-block region of a petabyte
container plans exactly one task. The
block files come from ``reader.list_blocks``, the listing and fence the
glob scan uses: mid-write, non-canonical, stale and zero-byte datasets are
refused at planning with the glob scan's messages.

The planner process has no active session, so ``register_n5_source``
resolves the parallelism and the file-source confs on the driver and
registers them with the source. A bare
``spark.dataSource.register(N5DataSource)`` falls back to
``$SPARK_GRAFT_CPUS`` (else 32) and Spark's default split confs.
"""

from __future__ import annotations

import logging
import os
import re
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StructField,
    StructType,
)


log = logging.getLogger("n5_dask_spark.sources.n5")

_FALLBACK_PARALLELISM = 32


@dataclass(frozen=True)
class ScanSplit:
    """The inputs of Spark's file-source split rule (FilePartition):

        maxSplitBytes = min(maxPartitionBytes,
                            max(openCostInBytes, totalCost / parallelism))

    where ``totalCost`` sums every file's size plus the open cost. Defaults
    are Spark's; ``source`` records where ``parallelism`` came from
    (registration, env or default) for the plan log."""

    parallelism: int
    max_partition_bytes: int = 128 << 20
    open_cost_bytes: int = 4 << 20
    source: str = "default"

    def max_split_bytes(self, total_cost: int) -> int:
        return min(
            self.max_partition_bytes,
            max(self.open_cost_bytes, total_cost // self.parallelism),
        )

    @classmethod
    def from_env(cls) -> "ScanSplit":
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
        if cpus.isdigit() and int(cpus) > 0:
            return cls(int(cpus), source="env")
        return cls(_FALLBACK_PARALLELISM, source="default")

    @classmethod
    def from_session(cls, spark) -> "ScanSplit":
        """Resolved on the driver the way Spark's file scans resolve it:
        ``spark.sql.files.minPartitionNum``, else the leaf-node default
        parallelism (``spark.sql.leafNodeDefaultParallelism``, else
        ``sc.defaultParallelism``).

        Read afresh on every call, so a conf set between two scans plans
        the second one, at one py4j round trip per conf read: the byte
        strings are parsed here (:func:`byte_string_as_bytes`), not by
        ``JavaUtils`` through the JVM view, whose package walk alone cost
        seven reflection calls per scan."""
        conf = spark.conf
        par = conf.get("spark.sql.files.minPartitionNum", None) or conf.get(
            "spark.sql.leafNodeDefaultParallelism", None
        )
        return cls(
            int(par) if par else int(spark.sparkContext.defaultParallelism),
            byte_string_as_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128MB")),
            byte_string_as_bytes(conf.get("spark.sql.files.openCostInBytes", "4MB")),
            source="registration",
        )


_BYTE_SUFFIXES = {
    "b": 0, "k": 10, "kb": 10, "m": 20, "mb": 20, "g": 30, "gb": 30,
    "t": 40, "tb": 40, "p": 50, "pb": 50,
}
_BYTE_STRING = re.compile(r"([0-9]+)([a-z]+)?")


def byte_string_as_bytes(text: str) -> int:
    """A Spark byte-size string (``134217728``, ``128m``, ``4MB``) in
    bytes, by the rule of Spark's ``JavaUtils.byteStringAsBytes``: an
    integer with an optional binary-unit suffix, case-insensitive; a bare
    number is bytes. Fractions and unknown suffixes raise."""
    m = _BYTE_STRING.fullmatch(text.strip().lower())
    if m is None or (m.group(2) is not None and m.group(2) not in _BYTE_SUFFIXES):
        raise ValueError(f"cannot parse byte string {text!r}: want an integer with an "
                         f"optional suffix in {sorted(_BYTE_SUFFIXES)}")
    return int(m.group(1)) << _BYTE_SUFFIXES[m.group(2) or "b"]


def plan_splits(files: Sequence[tuple], split: ScanSplit) -> list[list[tuple]]:
    """Spark's file-split rule over ``(path, key, size)`` files, filled
    next-fit in listing order (contiguous runs keep directory locality): a
    split closes when the next file would push it past ``maxSplitBytes``,
    and each file costs its size plus the open cost. Up to ``parallelism``
    equal-sized files, the open cost alone keeps one file per split.

    The one split plan of every scan: format("n5") partitions, the glob
    block scan and the TIFF series scan all run these splits, one task
    each. Returns the input tuples grouped by split."""
    open_cost = split.open_cost_bytes
    total = sum(size for _p, _k, size in files) + open_cost * len(files)
    max_split = split.max_split_bytes(total)
    runs: list[list[tuple]] = []
    run: list[tuple] = []
    run_cost = 0
    for file in files:
        size = file[2]
        if run and run_cost + size > max_split:
            runs.append(run)
            run, run_cost = [], 0
        run.append(file)
        run_cost += size + open_cost
    if run:
        runs.append(run)
    return runs


class N5BlockPartition(InputPartition):
    """One scan task's worth of block files: a contiguous run in grid
    order, sized by :class:`ScanSplit` (a task per block file would be
    millions of tiny tasks at real container sizes, each paying the
    Python DataSource's per-task worker round-trip)."""

    def __init__(self, blocks: list[tuple[str, tuple[int, ...]]]):
        self.blocks = blocks


class N5DataSource(DataSource):
    """Reads an N5 dataset as one row per block.

    ``split`` is set on the class that ``register_n5_source`` registers;
    None (a bare registration) resolves it from the planner's environment."""

    split: ScanSplit | None = None

    @classmethod
    def name(cls) -> str:
        return "n5"

    def schema(self) -> StructType:
        return StructType(
            [
                StructField("gx", IntegerType()),
                StructField("gy", IntegerType()),
                StructField("gz", IntegerType()),
                StructField("shape_zyx", ArrayType(IntegerType())),
                StructField("data", BinaryType()),
            ]
        )

    def reader(self, schema: StructType) -> "N5Reader":
        return N5Reader(self.options, self.split)

    def writer(self, schema: StructType, overwrite: bool) -> "N5Writer":
        return N5Writer(self.options, [f.name for f in schema.fields])


class N5Reader(DataSourceReader):
    def __init__(self, options: dict, split: ScanSplit | None = None):
        self.container = options.get("path")
        self.dataset = options.get("dataset")
        if not self.container or not self.dataset:
            raise ValueError("n5 source requires .option('path', ...) and .option('dataset', ...)")
        self.start = options.get("start")
        self.end = options.get("end")
        self._attrs = None
        self.split = split if split is not None else ScanSplit.from_env()

    def _get_attrs(self):
        # memoized: partitions() fills it on the driver (and it pickles to
        # executors with the reader); without this, read() re-opened and
        # re-parsed the same attributes.json once per block partition —
        # a per-task metadata round-trip on network filesystems
        if self._attrs is None:
            from n5_dask_spark.sources.n5.metadata import read_attributes

            self._attrs = read_attributes(self.container, self.dataset)
        return self._attrs

    def partitions(self) -> Sequence[N5BlockPartition]:
        """The block files packed by :func:`plan_splits`, the split plan the
        glob scan runs too.

        The block files come from ``reader.list_blocks``, the listing and
        fence the glob scan uses too: a mid-write, stale or zero-byte
        dataset is refused here, before any task runs."""
        from n5_dask_spark.sources.n5.reader import list_blocks, overlapping_blocks

        attrs = self._get_attrs()
        grids = None
        if self.start and self.end:
            grids = overlapping_blocks(
                attrs,
                [int(x) for x in self.start.split(",")],
                [int(x) for x in self.end.split(",")],
            )
        blocks = list_blocks(
            self.container, self.dataset, attrs.ndim, attrs.grid_shape, grids,
            "format('n5') scan",
        )
        parts = [
            N5BlockPartition([(path, grid) for path, grid, _size in run])
            for run in plan_splits(blocks, self.split)
        ]
        if log.isEnabledFor(logging.DEBUG):
            total_bytes = sum(size for _p, _g, size in blocks)
            log.debug(
                "format('n5') plan %s/%s: %d blocks, %d bytes, maxSplitBytes=%d "
                "-> %d partitions (parallelism %d from %s), codec %s",
                self.container, self.dataset, len(blocks), total_bytes,
                self.split.max_split_bytes(total_bytes + self.split.open_cost_bytes * len(blocks)),
                len(parts), self.split.parallelism, self.split.source,
                attrs.compression,
            )
        return parts

    def read(self, partition: N5BlockPartition) -> Iterator[tuple]:
        from n5_dask_spark.sources.n5.reader import decode_cell, read_block_file

        attrs = self._get_attrs()
        for path, grid in partition.blocks:
            raw = read_block_file(path)
            if raw is None:
                continue  # block sparsified after planning -> fill-value (no row)
            arr = decode_cell(raw, grid, attrs, path)
            g = list(grid) + [0] * (3 - len(grid))
            yield (g[0], g[1], g[2], list(arr.shape), arr.tobytes())


@dataclass
class N5CommitMessage(WriterCommitMessage):
    """The ``(gx, gy, gz)`` of every block one write task published."""

    coords: list[tuple[int, int, int]]


class N5Writer(DataSourceWriter):
    """Sink for a blocks DataFrame (gx, gy, gz, shape_zyx, data) via
    ``df.write.format("n5")``. The dataset's attributes.json must exist
    (created via metadata.write_attributes / writer.create_from_template).

    It is ``writer.write_blocks`` over rows: the driver reads the
    attributes and claims the write-session marker once, here; each task
    runs ``writer.block_sink`` per row (encode, atomic publish, chaos hook)
    and returns the coordinates it wrote; :meth:`commit` runs the same
    duplicate-producer and grid-size guard (``writer.commit_dataset_write``)
    and releases the marker only if it passes. A failed or refused job
    leaves the marker, so the incomplete dataset stays loud."""

    REQUIRED = ("gx", "gy", "gz", "shape_zyx", "data")

    def __init__(self, options: dict, columns: list[str]):
        from n5_dask_spark.sources.n5.metadata import read_attributes
        from n5_dask_spark.sources.n5.writer import claim_dataset_write

        self.container = options.get("path")
        self.dataset = options.get("dataset")
        if not self.container or not self.dataset:
            raise ValueError("n5 sink requires .option('path', ...) and .option('dataset', ...)")
        missing = [c for c in self.REQUIRED if c not in columns]
        if missing:
            raise ValueError(f"n5 sink input is missing columns {missing}; need {self.REQUIRED}")
        # __init__ runs on the driver once per write job; tasks get this
        # instance by pickle, attributes and marker included
        self.attrs = read_attributes(self.container, self.dataset)
        self._marker = claim_dataset_write(self.container, self.dataset)

    def write(self, rows) -> N5CommitMessage:
        import numpy as np

        from n5_dask_spark.sources.n5.codec import np_dtype
        from n5_dask_spark.sources.n5.writer import block_sink

        sink = block_sink(self.container, self.dataset, self.attrs)
        dt = np_dtype(self.attrs.data_type)
        coords = []
        for row in rows:
            arr = np.frombuffer(bytes(row["data"]), dtype=dt).reshape(list(row["shape_zyx"]))
            coords.extend(sink(row["gx"], row["gy"], row["gz"], arr))
        return N5CommitMessage(coords)

    def commit(self, messages) -> None:
        from n5_dask_spark.sources.n5.writer import commit_dataset_write

        coords = [c for m in messages for c in m.coords]
        commit_dataset_write(self._marker, coords, self.attrs)

    def abort(self, messages) -> None:
        # leave the marker: the dataset is incomplete and must stay loud
        pass


def register_n5_source(spark) -> type[N5DataSource]:
    """Register format("n5") with the split inputs resolved on this driver.

    The class is built here so that it pickles by value: its ``split``
    reaches the planner process, which has no session to ask. Confs are
    read at registration; register again after changing them."""
    from n5_dask_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)

    class RegisteredN5DataSource(N5DataSource):
        split = ScanSplit.from_session(spark)

    spark.dataSource.register(RegisteredN5DataSource)
    return RegisteredN5DataSource
