"""Write-path fault-injection net (r10, VERDICT r9 item 5).

At 100 TB an executor WILL die mid-write; the sinks' at-scale claim is
that Spark task retries over atomic temp-file+rename writes leave the
output byte-identical to a clean run (metadata.py `atomic_publish`,
tiff.py `write_tiff`). This proves it instead of assuming it: the
`N5DS_INJECT_WRITE_FAULT_DIR` chaos hook makes the FIRST attempt of
every sink task die AFTER its current batch's files hit disk (a
lost-executor-mid-write simulation, marker-file audited), and the job
must still produce exactly the ground-truth bytes.

Runs in a subprocess because task retries need a retry-enabled master
(`local[4,3]`) and `spark.task.maxFailures` is fixed at session
creation — the shared session fixture runs `local[8]` where any task
failure kills the job.
"""

import os
import pathlib
import subprocess
import sys

REPO = str(pathlib.Path(__file__).resolve().parent.parent)

_SCRIPT = r"""
import glob
import os
import pathlib
import sys
import tempfile
import time

fault_dir = tempfile.mkdtemp(prefix="n5ds-fault-markers-")
# set BEFORE the JVM exists: local-mode Python workers inherit the JVM's
# env, which inherits this process's env at gateway launch
os.environ["N5DS_INJECT_WRITE_FAULT_DIR"] = fault_dir
os.environ["TZ"] = "America/New_York"
time.tzset()

import numpy as np
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4,3]")  # 4 threads, maxFailures=3
    .appName("n5ds-fault-injection")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from n5_dask_spark.sources.n5.reader import read_full
from n5_dask_spark.sources.n5.writer import temp_container, write_array
from n5_dask_spark.sources.tiff import n5_to_tif_series, read_tiff, tif_series_to_n5

rng = np.random.default_rng(7)
arr = rng.integers(0, 256, size=(40, 33, 9)).astype(np.uint8)

# --- leg 1: N5 block sink (write_blocks via write_array) under injected
# first-attempt task deaths. 3x3x3 grid -> 27 blocks across tasks.
container = temp_container("n5ds-fault")
write_array(spark, arr, container, "img/s0", [16, 16, 4], compression={"type": "gzip"})
markers_after_write = len(os.listdir(fault_dir))
assert markers_after_write > 0, "write-leg injection never fired"
back = read_full(spark, container, "img/s0")
assert np.array_equal(back, arr), "retried N5 write is not value-identical"
litter = list(pathlib.Path(container).rglob(".inprogress-*"))
assert not litter, f"temp-file litter after retries: {litter}"
block_files = [
    p for p in pathlib.Path(container, "img/s0").rglob("*")
    if p.is_file() and p.name != "attributes.json"
]
assert len(block_files) == 27, f"{len(block_files)} block files for a 27-block grid"

# --- leg 2: TIFF series sink (n5_to_tif_series) under the same injection.
out_dir = tempfile.mkdtemp(prefix="n5ds-fault-tif-")
n = n5_to_tif_series(spark, container, "img/s0", out_dir)
assert n == 9, n
markers_after_export = len(os.listdir(fault_dir))
assert markers_after_export > markers_after_write, "export-leg injection never fired"
files = sorted(glob.glob(os.path.join(out_dir, "*.tif")))
assert len(files) == 9, files
for z, f in enumerate(files):
    assert np.array_equal(read_tiff(f), arr[:, :, z].T), f"slice {z} differs"

# --- leg 3: full import pipeline (tif_series_to_n5: scan -> rechunk ->
# write_blocks) under injection, closing the roundtrip.
c2 = temp_container("n5ds-fault-rt")
tif_series_to_n5(spark, out_dir, c2, "rt/s0", [16, 16, 4], compression={"type": "gzip"})
assert np.array_equal(read_full(spark, c2, "rt/s0"), arr), "retried import differs"

# --- leg 4 (r13, write-path URI lift): the same N5 sink + TIFF export
# through "file:" URI containers, exercising the fsio per-scheme commit
# protocol (pyarrow.fs temp+move) instead of the os-based local path.
# Injection still fires per task; retries must leave bytes identical and
# zero .inprogress litter on the URI branch too.
markers_before_uri = len(os.listdir(fault_dir))
uri_local = temp_container("n5ds-fault-uri")
uri = "file:" + uri_local
write_array(spark, arr, uri, "img/s0", [16, 16, 4], compression={"type": "gzip"})
assert len(os.listdir(fault_dir)) > markers_before_uri, "URI-leg injection never fired"
assert np.array_equal(read_full(spark, uri, "img/s0"), arr), "URI write not value-identical"
litter = list(pathlib.Path(uri_local).rglob(".inprogress-*"))
assert not litter, f"URI-branch temp litter after retries: {litter}"
assert not (pathlib.Path(uri_local) / "img/s0/.n5ds-incomplete").exists(), "URI marker leaked"
uri_tif_local = tempfile.mkdtemp(prefix="n5ds-fault-uritif-")
n = n5_to_tif_series(spark, uri, "img/s0", "file:" + uri_tif_local)
assert n == 9, n
for z, f in enumerate(sorted(glob.glob(os.path.join(uri_tif_local, "*.tif")))):
    assert np.array_equal(read_tiff(f), arr[:, :, z].T), f"URI slice {z} differs"

# --- leg 5: the format("n5") DataSource sink, copying the leg-1 dataset
# under the same injection. Its tasks run the same block sink as
# write_blocks, so the hook fires there too, and the retried copy must be
# byte-identical to its source with the marker released.
from n5_dask_spark.sources.n5.datasource import register_n5_source
from n5_dask_spark.sources.n5.metadata import read_attributes, write_attributes

register_n5_source(spark)
markers_before_ds = len(os.listdir(fault_dir))
c3 = temp_container("n5ds-fault-ds")
write_attributes(c3, "img/s0", read_attributes(container, "img/s0"))
(
    spark.read.format("n5").option("path", container).option("dataset", "img/s0").load()
    .write.format("n5").option("path", c3).option("dataset", "img/s0")
    .mode("append").save()
)
assert len(os.listdir(fault_dir)) > markers_before_ds, "DataSource-leg injection never fired"
src_root, out_root = pathlib.Path(container, "img/s0"), pathlib.Path(c3, "img/s0")
src_blocks = sorted(
    p.relative_to(src_root) for p in src_root.rglob("*")
    if p.is_file() and p.name != "attributes.json"
)
out_blocks = sorted(
    p.relative_to(out_root) for p in out_root.rglob("*")
    if p.is_file() and p.name != "attributes.json"
)
assert out_blocks == src_blocks, (out_blocks, src_blocks)
for rel in src_blocks:
    assert (out_root / rel).read_bytes() == (src_root / rel).read_bytes(), f"block {rel} differs"

print(
    "FAULT_INJECTION_OK",
    markers_after_write,
    markers_after_export - markers_after_write,
    len(os.listdir(fault_dir)) - markers_after_export,
)
"""


def test_metadata_writes_are_torn_read_safe(tmp_path):
    """r10 concurrency hardening: attributes.json goes through atomic
    temp+rename, so a reader racing writers (multiscale levels landing as
    separate jobs, a monitor, a racing driver retry) always parses a
    COMPLETE json — never an empty or truncated file. Before the fix a
    plain truncating open('w') exposed exactly that window."""
    import json
    import threading

    from n5_dask_spark.sources.n5.metadata import (
        DatasetAttributes,
        read_raw_attributes,
        update_raw_attributes,
        write_attributes,
    )

    container = str(tmp_path / "race.n5")
    attrs = DatasetAttributes(
        data_type="uint8", dimensions=[8, 8, 8], block_size=[4, 4, 4]
    )
    write_attributes(container, "d0", attrs)
    stop = threading.Event()
    errors = []

    def writer(i):
        n = 0
        while not stop.is_set():
            update_raw_attributes(container, "d0", {f"k{i}": n, "pad": "x" * 2000})
            n += 1

    def reader():
        while not stop.is_set():
            try:
                obj = read_raw_attributes(container, "d0")
                assert obj["dataType"] == "uint8", obj
            except (json.JSONDecodeError, AssertionError) as e:  # torn read
                errors.append(repr(e))
                return

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(3)] + [
        threading.Thread(target=reader) for _ in range(3)
    ]
    for t in threads:
        t.start()
    import time as _t

    _t.sleep(1.5)
    stop.set()
    for t in threads:
        t.join()
    assert not errors, errors
    # no temp litter left behind
    litter = list((tmp_path / "race.n5" / "d0").glob(".inprogress-*"))
    assert not litter, litter


def test_atomic_block_write_race_never_tears(tmp_path):
    """Speculative execution / racing retries can run DUPLICATE concurrent
    attempts writing the same block path. _atomic_write's contract: the
    final file is exactly ONE attempt's payload, intact — never an
    interleave — and concurrent readers only ever see a complete payload."""
    import threading

    from n5_dask_spark.sources.n5.metadata import atomic_publish as _atomic_write

    path = str(tmp_path / "b" / "0")
    payloads = [bytes([i]) * (10_000 + i) for i in range(4)]
    _atomic_write(path, payloads[0])
    stop = threading.Event()
    errors = []

    def writer(p):
        while not stop.is_set():
            _atomic_write(path, p)

    def reader():
        while not stop.is_set():
            with open(path, "rb") as f:
                data = f.read()
            if data not in payloads:  # torn or interleaved
                errors.append((len(data), data[:8]))
                return

    threads = [threading.Thread(target=writer, args=(p,)) for p in payloads] + [
        threading.Thread(target=reader) for _ in range(2)
    ]
    for t in threads:
        t.start()
    import time as _t

    _t.sleep(1.5)
    stop.set()
    for t in threads:
        t.join()
    assert not errors, errors
    with open(path, "rb") as f:
        assert f.read() in payloads
    assert not list((tmp_path / "b").glob(".inprogress-*"))


def test_concurrent_dataset_writes_same_container(spark):
    """Two jobs writing DIFFERENT datasets of one container concurrently
    (multiscale levels landing in parallel is the fleet-real shape): the
    shared root attributes.json is created under a check-then-write race
    that the r10 atomic-rename fix makes safe, and both volumes must read
    back exactly."""
    import threading

    import numpy as np

    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    c = temp_container("concurrent")
    arrs = {
        f"d{i}/s0": np.full((16, 16, 8), i + 1, np.uint8) for i in range(4)
    }
    errors = []

    def job(ds, arr):
        try:
            write_array(spark, arr, c, ds, [8, 8, 4], compression={"type": "gzip"})
        except Exception as e:  # surfaced after join
            errors.append((ds, repr(e)))

    threads = [threading.Thread(target=job, args=(ds, a)) for ds, a in arrs.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    for ds, arr in arrs.items():
        np.testing.assert_array_equal(read_full(spark, c, ds), arr)


def test_write_paths_survive_injected_task_retries():
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    env.pop("N5DS_INJECT_WRITE_FAULT_DIR", None)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-4000:]}"
    assert "FAULT_INJECTION_OK" in proc.stdout, proc.stdout


_CADENCE_SCRIPT = r"""
import os
import pathlib
import sys
import tempfile

fault_dir = tempfile.mkdtemp(prefix="n5ds-fault-markers-")
os.environ["N5DS_INJECT_WRITE_FAULT_DIR"] = fault_dir

import numpy as np
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[1]")  # one task, no retry
    .appName("n5ds-fault-cadence")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("OFF")

from n5_dask_spark.sources.n5.writer import temp_container, write_array

container = temp_container("n5ds-fault-cadence")
arr = np.arange(16 * 16 * 8, dtype=np.uint8).reshape(16, 16, 8)
try:
    write_array(spark, arr, container, "img/s0", [8, 8, 2])  # 16 blocks, one task
except Exception:
    pass
else:
    sys.exit("the injected fault never fired")
blocks = [
    p for p in pathlib.Path(container, "img/s0").rglob("*")
    if p.is_file() and p.name.isdigit()
]
print("CADENCE", len(os.listdir(fault_dir)), len(blocks))
"""


def test_map_sink_fault_fires_mid_write():
    """The fused map sink (write_array) runs the chaos hook after every
    written block: a first attempt owning 16 blocks dies with exactly one
    of them on disk, not after all of its files are written."""
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", _CADENCE_SCRIPT],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-4000:]}"
    (line,) = [ln for ln in proc.stdout.splitlines() if ln.startswith("CADENCE")]
    assert line.split()[1:] == ["1", "1"], line  # one death, one block on disk
