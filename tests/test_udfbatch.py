"""r11 Arrow wide-row memory probe + the byte-bounded output framing net.

Three layers:
1. Unit: udfbatch.bounded_frames packs rows into ~budget-byte frames,
   preserves order, ships oversized single rows as 1-row frames.
2. Input-side probe: spark.sql.execution.arrow.maxBytesPerBatch (pinned in
   session.DEFAULT_CONFS) really byte-bounds the JVM->Python direction of
   mapInPandas — rows-per-input-batch shrinks when the conf does. This is
   the lane Spark closes for us; the test pins that it stays closed and
   stays runtime-settable (tune_session re-applies it on driver sessions).
3. Output-side end-to-end (subprocess: the budget env var must be in the
   executor python worker's environment, which is captured at JVM start):
   with SPARK_GRAFT_UDF_OUT_BATCH_BYTES=4096 every wide-row kernel
   (make_blocks, decode, fragment, cast, reduce) emits dozens of tiny
   frames instead of one per input batch — and a write -> rechunk ->
   downsample -> read pipeline stays byte-identical to numpy. Framing must
   move memory, never values.
"""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from n5_dask_spark.udfbatch import bounded_frames, out_batch_bytes

REPO = str(pathlib.Path(__file__).resolve().parent.parent)


def _payload_rows(sizes):
    return [(i, bytes(s)) for i, s in enumerate(sizes)]


def test_bounded_frames_packs_to_budget():
    rows = _payload_rows([10] * 10)  # 100 payload bytes
    frames = list(bounded_frames(iter(rows), ["i", "data"], lambda r: len(r[1]), budget=30))
    # cut before a row would pass the budget: 3 rows/frame (30 bytes), last
    # frame the remainder
    assert [len(f) for f in frames] == [3, 3, 3, 1]
    # order preserved, nothing dropped
    cat = pd.concat(frames, ignore_index=True)
    assert list(cat["i"]) == list(range(10))
    assert all(len(b) == 10 for b in cat["data"])


def test_bounded_frames_oversized_row_ships_alone():
    rows = _payload_rows([5, 1000, 5])
    frames = list(bounded_frames(iter(rows), ["i", "data"], lambda r: len(r[1]), budget=100))
    # row 1 would take row 0's frame past the budget, so it ships alone and
    # row 2 starts the tail frame: no frame ever holds an oversized row
    # beside another row
    assert [len(f) for f in frames] == [1, 1, 1]
    assert list(pd.concat(frames)["i"]) == [0, 1, 2]


def test_bounded_frames_empty_input_yields_nothing():
    assert list(bounded_frames(iter([]), ["i", "data"], lambda r: 0)) == []


def test_out_batch_bytes_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_UDF_OUT_BATCH_BYTES", raising=False)
    assert out_batch_bytes() == 64 * 1024 * 1024
    monkeypatch.setenv("SPARK_GRAFT_UDF_OUT_BATCH_BYTES", "4096")
    assert out_batch_bytes() == 4096
    # junk and non-positive fall back to the default, never crash a worker
    monkeypatch.setenv("SPARK_GRAFT_UDF_OUT_BATCH_BYTES", "lots")
    assert out_batch_bytes() == 64 * 1024 * 1024
    monkeypatch.setenv("SPARK_GRAFT_UDF_OUT_BATCH_BYTES", "-1")
    assert out_batch_bytes() == 64 * 1024 * 1024


def test_fragment_kernel_framing_is_value_invariant(monkeypatch):
    """The (fused, r15) decode+fragment kernel under a tiny budget: more
    frames, same rows. Driver-side direct call, so the env monkeypatch
    reaches it. Composed exactly as fuse.consume_block_rows composes a
    plain blocks frame: standard-row decode -> per-block fragment rows ->
    bounded output framing."""
    from n5_dask_spark.sources.n5 import fuse
    from n5_dask_spark.sources.n5.transforms import FRAGMENT_COLUMNS, _fragment_rows_fn
    from n5_dask_spark.udfbatch import bounded_frames

    arr = np.arange(64, dtype=np.uint8).reshape(4, 4, 4)
    pdf = pd.DataFrame(
        [(0, 0, 0, [4, 4, 4], arr.tobytes())],
        columns=["gx", "gy", "gz", "shape_zyx", "data"],
    )
    block_frags = _fragment_rows_fn(3, [4, 4, 4], [0, 0, 0], [4, 4, 4], [2, 2, 2])
    blocks_fn = fuse.decode_block_rows(np.dtype("uint8"))

    def kernel(batches):
        rows = (row for blk in blocks_fn(batches) for row in block_frags(*blk))
        yield from bounded_frames(rows, FRAGMENT_COLUMNS, lambda r: len(r[5]))

    monkeypatch.setenv("SPARK_GRAFT_UDF_OUT_BATCH_BYTES", str(1 << 30))
    one = list(kernel(iter([pdf.copy()])))
    assert len(one) == 1 and len(one[0]) == 8  # 8 fragments of 8 bytes

    monkeypatch.setenv("SPARK_GRAFT_UDF_OUT_BATCH_BYTES", "16")
    many = list(kernel(iter([pdf.copy()])))
    assert len(many) == 4  # 8 bytes/row, at most 16 bytes -> 2 rows/frame
    pd.testing.assert_frame_equal(
        pd.concat(many, ignore_index=True), one[0].reset_index(drop=True)
    )


def test_grouped_kernel_output_is_byte_bounded(monkeypatch):
    """The post-shuffle applyInArrow kernel returns its rows as record
    batches of at most out_batch_bytes() payload bytes each: a tiny budget
    gives several batches, none past it, and the same rows. Driver-side
    direct call on one target cell whose two fragments arrive as two
    Arrow chunks; the consumer re-fragments the assembled block."""
    import pyarrow as pa

    from n5_dask_spark.sources.n5 import fuse
    from n5_dask_spark.sources.n5.metadata import DatasetAttributes
    from n5_dask_spark.sources.n5.transforms import _assemble_block_fn, _fragment_rows_fn

    arr = np.arange(64, dtype=np.uint8).reshape(4, 4, 4)  # zyx
    schema = pa.schema([
        ("tgx", pa.int32()), ("tgy", pa.int32()), ("tgz", pa.int32()),
        ("off_zyx", pa.list_(pa.int32())), ("shape_zyx", pa.list_(pa.int32())),
        ("data", pa.binary()),
    ])
    halves = [
        pa.RecordBatch.from_pylist(
            [dict(tgx=0, tgy=0, tgz=0, off_zyx=[z, 0, 0], shape_zyx=[2, 4, 4],
                  data=arr[z:z + 2].tobytes())],
            schema=schema,
        )
        for z in (0, 2)
    ]
    table = pa.Table.from_batches(halves)
    assemble = _assemble_block_fn(
        DatasetAttributes("uint8", [4, 4, 4], [4, 4, 4], {"type": "raw"}), np.dtype("uint8")
    )
    refrag = _fragment_rows_fn(3, [4, 4, 4], [0, 0, 0], [4, 4, 4], [2, 2, 2])
    kernel = fuse.grouped_kernel(assemble, (), refrag, schema, lambda r: len(r[5]))
    key = tuple(pa.scalar(0, pa.int32()) for _ in range(3))

    monkeypatch.setenv("SPARK_GRAFT_UDF_OUT_BATCH_BYTES", "20")
    small = kernel(key, table).to_batches()
    assert len(small) > 1
    assert all(sum(len(d) for d in b.column("data").to_pylist()) <= 20 for b in small)

    monkeypatch.delenv("SPARK_GRAFT_UDF_OUT_BATCH_BYTES")
    whole = kernel(key, table).to_batches()
    assert len(whole) == 1 and whole[0].num_rows == 8  # 8 fragments of 8 bytes
    assert [r for b in small for r in b.to_pylist()] == whole[0].to_pylist()
    out = np.zeros_like(arr)
    for r in whole[0].to_pylist():
        sel = tuple(slice(2 * t + o, 2 * t + o + s) for t, o, s in zip(
            (r["tgz"], r["tgy"], r["tgx"]), r["off_zyx"], r["shape_zyx"]))
        out[sel] = np.frombuffer(r["data"], np.uint8).reshape(r["shape_zyx"])
    np.testing.assert_array_equal(out, arr)


def test_input_side_byte_bound_active(spark):
    """maxBytesPerBatch bounds JVM->Python mapInPandas input batches by
    BYTES: 256 KB rows under a 1 MB bound arrive <= ~4-5 per batch."""
    from pyspark.sql import functions as F

    def count_batches(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    df = (
        spark.range(32, numPartitions=1)
        .select(F.encode(F.rpad(F.lit("x"), 256 * 1024, "x"), "utf-8").alias("payload"))
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxBytesPerBatch", str(1024 * 1024))
        sizes = [r.n for r in df.mapInPandas(count_batches, "n long").collect()]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxBytesPerBatch", old)
    assert sum(sizes) == 32
    # 1 MB / 256 KB = 4 rows; allow slack for arrow buffer accounting, but
    # the 32-row single frame the records-only bound would admit must split
    assert len(sizes) >= 4
    assert max(sizes) <= 8


def test_default_confs_pin_the_input_bound(spark):
    from n5_dask_spark.session import DEFAULT_CONFS

    assert DEFAULT_CONFS["spark.sql.execution.arrow.maxBytesPerBatch"] == str(64 * 1024 * 1024)
    assert spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch").rstrip("b") == str(
        64 * 1024 * 1024
    )


def test_shuffle_partitions_scale_adaptive(monkeypatch):
    """r14: the shuffle width derives from the deployment, not a constant.

    Local harness core counts (<= 32) keep the historical 32 — the
    driver's bench and its lower-core scaling runs stay comparable —
    while a larger deployment gets at least one reduce slot per core and
    SPARK_GRAFT_SHUFFLE_PARTITIONS overrides everything. AQE partition
    coalescing (pinned on in DEFAULT_CONFS) owns the downward direction."""
    from n5_dask_spark.session import _default_shuffle_partitions

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    for cpus, want in (("32", "32"), ("8", "32"), ("1", "32"), ("128", "128")):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
        assert _default_shuffle_partitions() == want
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _default_shuffle_partitions() == "32"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")  # local[*]: no numeric signal
    assert _default_shuffle_partitions() == "32"
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4096")
    assert _default_shuffle_partitions() == "4096"
    # r15 (ADVICE): a garbage/zero override must fall through to the
    # derived default instead of propagating into the session conf
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "128")
    for bad in ("0", "-4", "lots", "1.5", ""):
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", bad)
        assert _default_shuffle_partitions() == "128"


_PIPELINE = r"""
import sys, numpy as np
sys.path.insert(0, %(repo)r)
from n5_dask_spark.session import get_spark
from n5_dask_spark.sources.n5.writer import write_array, temp_container
from n5_dask_spark.sources.n5.reader import read_full, read_attributes
from n5_dask_spark.sources.n5.transforms import rechunk, downsample
from n5_dask_spark.sources.n5.reader import decoded_blocks
from n5_dask_spark.sources.n5.writer import write_blocks
from n5_dask_spark.sources.n5.metadata import DatasetAttributes

spark = get_spark("udfbatch-e2e", cpus=4)
spark.sparkContext.setLogLevel("ERROR")
rng = np.random.default_rng(11)
vol = rng.integers(0, 60000, size=(16, 16, 16), dtype=np.uint16)  # xyz
c = temp_container("udfbatch")

# make_blocks under the 4 KB budget: 16^3 uint16 = 8 KB blocks at (5,5,5)
# -> 250-byte rows, dozens of frames
write_array(spark, vol, c, "s0", block_size=[5, 5, 5],
            compression={"type": "gzip"})
back = read_full(spark, c, "s0")
assert np.array_equal(back, vol), "write/read under tiny output budget"

# decode + fragment + assemble under the budget: rechunk to (3,3,3)
blocks = decoded_blocks(spark, c, "s0")
attrs = read_attributes(c, "s0")
re_blocks, re_attrs = rechunk(blocks, attrs, [3, 3, 3])
write_blocks(re_blocks, c, "s1", re_attrs)
assert np.array_equal(read_full(spark, c, "s1"), vol), "rechunk roundtrip"

# reduce_block lane: downsample 2x then compare against numpy (xyz order;
# symmetric 2x windows partition the same voxels in any axis order)
d_blocks, d_attrs = downsample(decoded_blocks(spark, c, "s1"),
                               read_attributes(c, "s1"), (2, 2, 2))
write_blocks(d_blocks, c, "s2", d_attrs)
got = read_full(spark, c, "s2")
want = vol.astype("f8").reshape(8, 2, 8, 2, 8, 2).mean(axis=(1, 3, 5)).astype(np.uint16)
assert np.array_equal(got, want), "downsample values"
print("OK")
"""


def test_pipeline_value_invariant_under_tiny_output_budget(tmp_path):
    env = dict(os.environ)
    env["SPARK_GRAFT_UDF_OUT_BATCH_BYTES"] = "4096"
    env.pop("SPARK_GRAFT_CPUS", None)
    proc = subprocess.run(
        [sys.executable, "-c", _PIPELINE % {"repo": REPO}],
        capture_output=True,
        text=True,
        env=env,
        cwd=str(tmp_path),
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "OK" in proc.stdout


def test_bloom_threshold_overrides_env_gated(monkeypatch):
    """r15 (guide §3.2): runtime Bloom-filter thresholds are production
    knobs — EMPTY by default (local bench plans unchanged), populated
    only from the env."""
    from n5_dask_spark.session import _bloom_threshold_overrides

    monkeypatch.delenv("SPARK_GRAFT_BLOOM_CREATION_THRESHOLD", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_BLOOM_APPLICATION_THRESHOLD", raising=False)
    assert _bloom_threshold_overrides() == {}
    monkeypatch.setenv("SPARK_GRAFT_BLOOM_CREATION_THRESHOLD", "512m")
    monkeypatch.setenv("SPARK_GRAFT_BLOOM_APPLICATION_THRESHOLD", "1g")
    assert _bloom_threshold_overrides() == {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "512m",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1g",
    }
