"""Spark 4 Python DataSource for N5 (SURVEY.md §2.A S2 — the
`spark.dataSource.register` path the survey recommends as the idiomatic
Spark-4 alternative to a binaryFile+UDF scan).

Usage:
    register_n5_source(spark)
    df = (spark.read.format("n5")
          .option("path", "/data/container.n5")
          .option("dataset", "mri/c0/s0")
          .option("start", "0,0,0").option("end", "64,64,27")   # optional region
          .load())
    # -> gx, gy, gz, shape_zyx (zyx dims), data (native-endian zyx bytes)

Partition planning runs in Spark's planner process and packs block files
into scan tasks with Spark's own file-split rule (the one the binaryFile
glob scan gets from the JVM, see :class:`ScanSplit`), so both scan paths
run the same number of tasks over the same files. When a region is given
only OVERLAPPING blocks are planned — source-level partition pruning, so
a 1-block region of a petabyte container plans exactly one task.

The planner process has no active session, so ``register_n5_source``
resolves the parallelism and the file-source confs on the driver and
registers them with the source. A bare
``spark.dataSource.register(N5DataSource)`` falls back to
``$SPARK_GRAFT_CPUS`` (else 32) and Spark's default split confs.
"""

from __future__ import annotations

import logging
import os
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
        ``sc.defaultParallelism``)."""
        conf = spark.conf
        par = conf.get("spark.sql.files.minPartitionNum", None) or conf.get(
            "spark.sql.leafNodeDefaultParallelism", None
        )
        to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
        return cls(
            int(par) if par else int(spark.sparkContext.defaultParallelism),
            int(to_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128MB"))),
            int(to_bytes(conf.get("spark.sql.files.openCostInBytes", "4MB"))),
            source="registration",
        )


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

    def _refuse_mid_write(self) -> None:
        """Refuse a dataset carrying the write-session marker (r14 probe
        find: this path planned 7 of 8 blocks of a mid-write dataset and
        returned them as a SILENT partial snapshot — the exact lane the
        r11 marker guard closed for the binaryFile-glob and explicit-path
        scans, reader.py:261, which this DataSource never routes through).
        Runs driver-side once per plan; fsio serves URI containers (no
        Hadoop FS needed, so it also covers emulated/pyarrow-only schemes)."""
        from n5_dask_spark.sources.n5.metadata import INCOMPLETE_MARKER, _is_uri

        if _is_uri(self.container):
            from n5_dask_spark.sources.n5 import fsio

            marker = f"{self.container.rstrip('/')}/{self.dataset}/{INCOMPLETE_MARKER}"
            present = fsio.exists(marker)
        else:
            marker = os.path.join(self.container, self.dataset, INCOMPLETE_MARKER)
            present = os.path.exists(marker)
        if present:
            raise ValueError(
                f"dataset {self.container}/{self.dataset} carries the "
                f"write-session marker {marker} — a sink job is writing it "
                "right now, or a writer died mid-job leaving it incomplete; "
                "reading it would return a silent partial snapshot (written "
                "blocks as data, unwritten cells as fill-value zeros). Wait "
                "for the writer, or if it is known dead, re-create the "
                "dataset (or delete the marker to accept partial contents)."
            )

    def _present_blocks(self) -> list[tuple[str, tuple[int, ...], int]]:
        """(path, grid, size) of every planned block file that exists, in
        grid order; sparse datasets skip absent blocks."""
        from n5_dask_spark.sources.n5.metadata import _is_uri
        from n5_dask_spark.sources.n5.reader import overlapping_blocks

        attrs = self._get_attrs()
        if self.start and self.end:
            grids = overlapping_blocks(
                attrs,
                [int(x) for x in self.start.split(",")],
                [int(x) for x in self.end.split(",")],
            )
        else:
            import itertools

            grids = list(itertools.product(*[range(n) for n in attrs.grid_shape]))
        blocks = []
        if not _is_uri(self.container):
            for g in grids:
                path = os.path.join(self.container, self.dataset, *map(str, g))
                try:
                    blocks.append((path, tuple(g), os.stat(path).st_size))
                except (FileNotFoundError, NotADirectoryError):
                    pass
            return blocks
        from n5_dask_spark.sources.n5 import fsio

        # one LIST of the dataset prefix instead of a sequential stat
        # round-trip per grid cell — on an object store a large grid
        # otherwise turns planning into O(n_blocks) network calls. Falls
        # back to per-key probes only if the filesystem cannot list.
        sizes = fsio.list_file_sizes(f"{self.container}/{self.dataset}")
        for g in grids:
            path = "/".join([self.container, self.dataset, *map(str, g)])
            if sizes is not None:
                size = sizes.get("/".join(map(str, g)))
            else:
                size = fsio.file_size(path)
            if size is not None:
                blocks.append((path, tuple(g), size))
        return blocks

    def partitions(self) -> Sequence[N5BlockPartition]:
        """Spark's file-split rule over the block files, filled next-fit in
        grid order (contiguous runs keep directory locality): a task closes
        when the next block would push it past ``maxSplitBytes``, and each
        block costs its size plus the open cost. Up to ``parallelism``
        equal-sized blocks, the open cost alone keeps one block per task."""
        self._refuse_mid_write()
        blocks = self._present_blocks()
        open_cost = self.split.open_cost_bytes
        total_bytes = sum(size for _p, _g, size in blocks)
        max_split = self.split.max_split_bytes(total_bytes + open_cost * len(blocks))
        parts: list[N5BlockPartition] = []
        run: list[tuple[str, tuple[int, ...]]] = []
        run_cost = 0
        for path, grid, size in blocks:
            if run and run_cost + size > max_split:
                parts.append(N5BlockPartition(run))
                run, run_cost = [], 0
            run.append((path, grid))
            run_cost += size + open_cost
        if run:
            parts.append(N5BlockPartition(run))
        if log.isEnabledFor(logging.DEBUG):
            log.debug(
                "format('n5') plan %s/%s: %d blocks, %d bytes, maxSplitBytes=%d "
                "-> %d partitions (parallelism %d from %s)",
                self.container, self.dataset, len(blocks), total_bytes, max_split,
                len(parts), self.split.parallelism, self.split.source,
            )
        return parts

    def read(self, partition: N5BlockPartition) -> Iterator[tuple]:
        from n5_dask_spark.sources.n5.codec import decode_block_at
        from n5_dask_spark.sources.n5.metadata import _is_uri
        from n5_dask_spark.sources.n5.reader import check_block_shape

        attrs = self._get_attrs()
        for path, grid in partition.blocks:
            if _is_uri(path):
                from n5_dask_spark.sources.n5 import fsio

                raw = fsio.read_file(path)
                if raw is None:
                    continue  # block sparsified after planning -> fill-value (no row)
            else:
                try:
                    with open(path, "rb") as f:
                        raw = f.read()
                except FileNotFoundError:
                    continue  # block sparsified after planning -> fill-value (no row)
            arr = check_block_shape(
                decode_block_at(raw, attrs.data_type, attrs.compression, path),
                grid,
                attrs,
                path,
            )
            g = list(grid) + [0] * (3 - len(grid))
            yield (g[0], g[1], g[2], list(arr.shape), arr.tobytes())


class N5Writer(DataSourceWriter):
    """Sink for a blocks DataFrame (gx, gy, gz, shape_zyx, data) via
    ``df.write.format("n5")``. The dataset's attributes.json must exist
    (created via metadata.write_attributes / writer.create_from_template) —
    the writer is data-plane only; each task writes its rows' block files
    atomically (temp + rename, same retry-idempotence as writer.write_blocks).
    """

    REQUIRED = ("gx", "gy", "gz", "shape_zyx", "data")

    def __init__(self, options: dict, columns: list[str]):
        self.container = options.get("path")
        self.dataset = options.get("dataset")
        if not self.container or not self.dataset:
            raise ValueError("n5 sink requires .option('path', ...) and .option('dataset', ...)")
        missing = [c for c in self.REQUIRED if c not in columns]
        if missing:
            raise ValueError(f"n5 sink input is missing columns {missing}; need {self.REQUIRED}")
        self.columns = list(columns)
        # write-session marker (r11): __init__ runs driver-side exactly
        # once per write job (executors get this instance by pickle, which
        # does not re-run __init__), so the claim/commit pair brackets the
        # whole job like writer.write_blocks' marker does
        from n5_dask_spark.sources.n5.writer import claim_dataset_write

        self._marker = claim_dataset_write(self.container, self.dataset)

    def commit(self, messages) -> None:
        from n5_dask_spark.sources.n5.writer import release_dataset_write

        release_dataset_write(self._marker)

    def abort(self, messages) -> None:
        # leave the marker: the dataset is incomplete and must stay loud
        pass

    def write(self, rows) -> WriterCommitMessage:
        import numpy as np

        from n5_dask_spark.sources.n5.codec import encode_block, np_dtype
        from n5_dask_spark.sources.n5.metadata import _is_uri, read_attributes
        from n5_dask_spark.sources.n5.writer import _atomic_write

        # URI containers (r13 write lift): attributes read falls back to
        # fsio (no active session in a write task) and blocks publish
        # through the per-scheme commit protocol — same dispatch as
        # writer.write_blocks' sink
        container_is_uri = _is_uri(self.container)
        if container_is_uri:
            from n5_dask_spark.sources.n5 import fsio
        attrs = read_attributes(self.container, self.dataset)
        dt = np_dtype(attrs.data_type)
        idx = {c: i for i, c in enumerate(self.columns)}
        n = 0
        for row in rows:
            shape = list(row[idx["shape_zyx"]])
            arr = np.frombuffer(bytes(row[idx["data"]]), dtype=dt).reshape(shape)
            coords = tuple(int(row[idx[c]]) for c in ("gx", "gy", "gz")[: attrs.ndim])
            payload = encode_block(arr, attrs.data_type, dict(attrs.compression))
            if container_is_uri:
                fsio.publish_file(
                    "/".join([self.container, self.dataset, *map(str, coords)]), payload
                )
            else:
                _atomic_write(
                    os.path.join(self.container, self.dataset, *map(str, coords)), payload
                )
            n += 1
        return WriterCommitMessage()


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
