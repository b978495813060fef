"""The workloads. Each builds its inputs from the seed in ``setup``
and hands out one cycle of ops at a time; an op is a timed call into the
package plus an untimed check against an independent truth."""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from perfbench import checks, inputs

# n5_read: one volume stored three times. 3.75 x 3.25 x 1.5 blocks: ragged
# edges on every axis; 4*4*2 = 32 blocks, 30 of them present, more than the
# DataSource packing target of 4 tasks per core on 4 cores
READ_DIMS_XYZ = [120, 104, 48]
READ_BLOCK = [32, 32, 32]
READ_CODECS = {"gzip": {"type": "gzip"}, "raw": {"type": "raw"}, "lz4": {"type": "lz4"}}
READ_ABSENT = 2  # blocks deleted after writing (sparse N5)
READ_REGIONS = 6  # region reads per cycle
RECHUNK_BLOCK = [64, 64, 16]

# n5_write: TIFF series -> N5 (gzip, 64^3) -> pyramid -> TIFF series
WRITE_DIMS_XYZ = [160, 160, 80]  # 2.5 x 2.5 x 1.25 blocks
WRITE_BLOCK = [64, 64, 64]


@dataclass
class Op:
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]  # None when the output is correct
    voxel_bytes: int  # uncompressed data bytes the op delivers or stores


class Workload:
    name = ""
    vol: np.ndarray  # the seeded (z, y, x) volume, set by setup

    def __init__(self, spark, tmp: str, seed: int):
        self.spark, self.tmp, self.seed = spark, tmp, seed

    def setup(self) -> None:
        raise NotImplementedError

    def cycle(self, k: int) -> list[Op]:
        raise NotImplementedError

    def warm_ops(self) -> list[Op]:
        """The set-up's warm-up: every op once."""
        return self.cycle(0)

    def end_cycle(self, k: int) -> dict:
        """Untimed housekeeping after cycle ``k``; returns what was written
        (files_written, bytes_written, stored_bytes_ratio)."""
        raise NotImplementedError


# ---------------------------------------------------------------------------


class N5Read(Workload):
    name = "n5_read"

    def setup(self) -> None:
        from n5_dask_spark.sources.n5.datasource import register_n5_source
        from n5_dask_spark.sources.n5.writer import write_array

        register_n5_source(self.spark)
        x, y, z = READ_DIMS_XYZ
        vol = inputs.make_volume(self.seed, (z, y, x))
        grid = [-(-d // b) for d, b in zip(READ_DIMS_XYZ, READ_BLOCK)]
        cells = [(gx, gy, gz) for gz in range(grid[2]) for gy in range(grid[1]) for gx in range(grid[0])]
        rng = np.random.default_rng([self.seed, 4])
        self.absent = [cells[i] for i in sorted(rng.choice(len(cells), READ_ABSENT, replace=False))]
        self.present = [c for c in cells if c not in self.absent]
        self.container = os.path.join(self.tmp, "read.n5")
        self.datasets = list(READ_CODECS)
        for ds, comp in READ_CODECS.items():
            write_array(self.spark, vol.transpose(2, 1, 0), self.container, ds, READ_BLOCK, comp)
            for g in self.absent:
                os.remove(os.path.join(self.container, ds, *map(str, g)))
        # a sparse dataset reads its absent blocks as zeros
        bx, by, bz = READ_BLOCK
        for gx, gy, gz in self.absent:
            vol[gz * bz:(gz + 1) * bz, gy * by:(gy + 1) * by, gx * bx:(gx + 1) * bx] = 0
        self.vol = vol
        self.stats_truth = checks.block_stats_truth(vol, READ_BLOCK, self.present)
        self.rechunk_truth = self._rechunk_truth()
        self.regions = inputs.make_regions(self.seed, READ_DIMS_XYZ, READ_BLOCK, READ_REGIONS)
        self.voxel_bytes = sum(int(np.prod(self._block_dims(g))) * 2 for g in self.present)
        files, size = checks.dir_bytes(self.container)
        self.written = {"files_written": files, "bytes_written": size,
                        "stored_bytes_ratio": size / (len(READ_CODECS) * self.voxel_bytes)}

    def _block_dims(self, g) -> list[int]:
        return [min(b, d - i * b) for i, b, d in zip(g, READ_BLOCK, READ_DIMS_XYZ)]

    def _rechunk_truth(self) -> dict:
        # a target block exists when at least one present source block
        # overlaps it; absent blocks read as zeros
        tb = RECHUNK_BLOCK
        grid = [-(-d // b) for d, b in zip(READ_DIMS_XYZ, tb)]
        present = set()
        for g in self.present:
            lo = [i * b for i, b in zip(g, READ_BLOCK)]
            hi = [min(l + b, d) - 1 for l, b, d in zip(lo, READ_BLOCK, READ_DIMS_XYZ)]
            for tx in range(lo[0] // tb[0], hi[0] // tb[0] + 1):
                for ty in range(lo[1] // tb[1], hi[1] // tb[1] + 1):
                    for tz in range(lo[2] // tb[2], hi[2] // tb[2] + 1):
                        present.add((tx, ty, tz))
        assert all(t[i] < grid[i] for t in present for i in range(3))
        return checks.block_stats_truth(self.vol, tb, sorted(present))

    def cycle(self, k: int) -> list[Op]:
        """Every full-dataset op on every codec, and each region read once
        with the codecs taking turns; the seed shuffles the order."""
        codecs = list(READ_CODECS)
        ops = [make(ds) for ds in codecs
               for make in (self._stats_glob, self._stats_datasource, self._rechunk_stats)]
        ops += [self._region(codecs[j % 3], s, e) for j, (s, e) in enumerate(self.regions)]
        order = np.random.default_rng([self.seed, 200, k]).permutation(len(ops))
        return [ops[i] for i in order]

    def warm_ops(self) -> list[Op]:
        """Each op kind once: the codec changes only the Python-side decode."""
        ops, kinds = [], set()
        for op in self.cycle(0):
            if op.name.split(".")[0] not in kinds:
                kinds.add(op.name.split(".")[0])
                ops.append(op)
        return ops

    def _stats_glob(self, ds: str) -> Op:
        from n5_dask_spark.sources.n5.reader import block_stats

        def run():
            return [tuple(r)[:7] for r in block_stats(self.spark, self.container, ds).collect()]

        return Op(f"stats_glob.{ds}", run, lambda rows: checks.stats_match(rows, self.stats_truth),
                  self.voxel_bytes)

    def _stats_datasource(self, ds: str) -> Op:
        from perfbench.kernels import STATS_DDL, datasource_block_stats

        def run():
            df = (self.spark.read.format("n5").option("path", self.container)
                  .option("dataset", ds).load())
            return [tuple(r) for r in df.mapInPandas(datasource_block_stats, STATS_DDL).collect()]

        return Op(f"stats_datasource.{ds}", run, lambda rows: checks.stats_match(rows, self.stats_truth),
                  self.voxel_bytes)

    def _rechunk_stats(self, ds: str) -> Op:
        from n5_dask_spark.sources.n5 import fuse
        from n5_dask_spark.sources.n5.metadata import read_attributes
        from n5_dask_spark.sources.n5.reader import decoded_blocks
        from n5_dask_spark.sources.n5.transforms import rechunk
        from perfbench.kernels import STATS_COLS, STATS_DDL

        def stats_rows(gx, gy, gz, a):
            yield (int(gx), int(gy), int(gz), int(a.size), float(a.min()), float(a.max()),
                   float(a.sum(dtype="f8")))

        def run():
            attrs = read_attributes(self.container, ds)
            out, _ = rechunk(decoded_blocks(self.spark, self.container, ds), attrs, RECHUNK_BLOCK)
            df = fuse.consume_block_rows(out, np.dtype("uint16"), stats_rows, STATS_COLS, STATS_DDL)
            return [tuple(r) for r in df.collect()]

        return Op(f"rechunk_stats.{ds}", run, lambda rows: checks.stats_match(rows, self.rechunk_truth),
                  self.voxel_bytes)

    def _region(self, ds: str, start: list[int], end: list[int]) -> Op:
        from n5_dask_spark.sources.n5.reader import read_region

        want = checks.region_truth(self.vol, start, end)

        def check(got):
            if got.shape != want.shape or got.dtype != want.dtype:
                return f"region {start}..{end}: {got.shape} {got.dtype} != {want.shape} {want.dtype}"
            return None if np.array_equal(got, want) else f"region {start}..{end}: voxels differ"

        return Op(f"region.{ds}", lambda: read_region(self.spark, self.container, ds, start, end),
                  check, want.nbytes)

    def end_cycle(self, k: int) -> dict:
        """Reads write nothing: report what the set-up wrote."""
        return dict(self.written)

    def region_amplification(self) -> float:
        """Decoded voxel bytes per returned voxel byte over the region list."""
        decoded = returned = 0
        absent = set(self.absent)
        for s, e in self.regions:
            returned += int(np.prod([b - a for a, b in zip(s, e)]))
            rng = [range(a // b, (c - 1) // b + 1) for a, c, b in zip(s, e, READ_BLOCK)]
            for gx in rng[0]:
                for gy in rng[1]:
                    for gz in rng[2]:
                        if (gx, gy, gz) not in absent:
                            decoded += int(np.prod(self._block_dims((gx, gy, gz))))
        return decoded / returned


# ---------------------------------------------------------------------------


class N5Write(Workload):
    name = "n5_write"

    def setup(self) -> None:
        x, y, z = WRITE_DIMS_XYZ
        self.vol = inputs.make_volume(self.seed, (z, y, x))
        self.tif_dir = os.path.join(self.tmp, "tif_in")
        inputs.write_tiff_series(self.vol, self.tif_dir)
        self.levels = checks.pyramid_truth(self.vol, WRITE_BLOCK)
        self.level_bytes = sum(lv.nbytes for lv in self.levels)

    def _paths(self, k: int) -> tuple[str, str]:
        return os.path.join(self.tmp, f"out{k}.n5"), os.path.join(self.tmp, f"tif_out{k}")

    def cycle(self, k: int) -> list[Op]:
        from n5_dask_spark.sources.n5.transforms import build_multiscale
        from n5_dask_spark.sources.tiff import n5_to_tif_series, tif_series_to_n5

        container, out_dir = self._paths(k)
        sp = self.spark

        def check_import(_attrs):
            got = checks.read_n5(container, "vol/s0")
            return None if np.array_equal(got, self.vol) else "imported volume differs"

        def check_pyramid(written):
            if written != [f"s{i}" for i in range(len(self.levels) + 1)]:
                return f"levels {written}"
            for i, want in enumerate(self.levels, 1):
                got = checks.read_n5(container, f"vol/s{i}")
                if got.shape != want.shape or int(got.sum(dtype="i8")) != int(want.sum(dtype="i8")):
                    return f"s{i} sum {int(got.sum(dtype='i8'))} != {int(want.sum(dtype='i8'))}"
                if not np.array_equal(got, want):
                    return f"s{i} voxels differ"
            return None

        def check_export(n):
            if n != self.vol.shape[0]:
                return f"{n} slices exported"
            for zi in range(self.vol.shape[0]):
                with open(os.path.join(out_dir, f"slice{zi:05d}.tif"), "rb") as f:
                    if not np.array_equal(inputs.decode_tiff_u16(f.read()), self.vol[zi]):
                        return f"slice {zi} differs"
            return None

        return [
            Op("tif_series_to_n5",
               lambda: tif_series_to_n5(sp, self.tif_dir, container, "vol/s0", WRITE_BLOCK, {"type": "gzip"}),
               check_import, self.vol.nbytes),
            Op("build_multiscale", lambda: build_multiscale(sp, container, "vol"),
               check_pyramid, self.level_bytes),
            Op("n5_to_tif_series", lambda: n5_to_tif_series(sp, container, "vol/s0", out_dir),
               check_export, self.vol.nbytes),
        ]

    def end_cycle(self, k: int) -> dict:
        container, out_dir = self._paths(k)
        files, size = checks.dir_bytes(container) if os.path.isdir(container) else (0, 0)
        ratio = size / (self.vol.nbytes + self.level_bytes)
        shutil.rmtree(container, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
        return {"files_written": files, "bytes_written": size, "stored_bytes_ratio": ratio}


WORKLOADS = {w.name: w for w in (N5Read, N5Write)}
