"""The traced run: per-layer metrics for one workload.

Times and counts are per cycle of ops (the traced cycles' totals divided
by their number); Spark's node metrics are summed over tasks. Layers a
workload does not exercise report 0; the writer figures of n5_read are
those of its set-up. Codec and TIFF kernel rates are single-thread loops
on blocks and slices of the workload's seeded volume; their MiB moved are
computed from the block geometry, not measured. The registry and catalog
figures come from a probe that builds SQL query DataFrames.

``trace.accounted_share`` is the share of the traced op wall time that
the blocking steps explain: Spark SQL executions plus the wrapped
driver-side reader and metadata calls. The rest is driver-side Python in
the package outside those calls (marker claims, attribute writes,
DataFrame construction, region stitching).
"""

from __future__ import annotations

import os
import time

import numpy as np

# name -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.worker_warm_s": ("s", "lower"),
    "registry.build_s": ("s", "lower"),
    "catalog.load_table_s": ("s", "lower"),
    "catalog.load_table_calls": ("count", "lower"),
    "sources.n5.metadata.read_attributes_s": ("s", "lower"),
    "sources.n5.metadata.read_attributes_calls": ("count", "lower"),
    "sources.n5.reader.plan_s": ("s", "lower"),
    "sources.n5.reader.blocks_listed": ("count", "lower"),
    "sources.n5.reader.region_amplification": ("ratio", "lower"),
    "sources.n5.datasource.partitions_s": ("s", "lower"),
    "sources.n5.datasource.partitions": ("count", "lower"),
    "sources.n5.datasource.blocks_per_partition": ("count", "higher"),
    **{f"sources.n5.codec.{d}_mb_per_s.{c}": ("MiB/s", "higher")
       for d in ("decode", "encode") for c in ("gzip", "raw", "lz4")},
    "sources.n5.codec.decoded_mb": ("MiB", "higher"),
    "sources.n5.codec.encoded_mb": ("MiB", "higher"),
    "sources.tiff.decode_mb_per_s": ("MiB/s", "higher"),
    "sources.tiff.encode_mb_per_s": ("MiB/s", "higher"),
    "sources.tiff.series_to_n5_s": ("s", "lower"),
    "sources.tiff.n5_to_series_s": ("s", "lower"),
    "sources.n5.transforms.multiscale_s": ("s", "lower"),
    "sources.n5.writer.files_written": ("count", "lower"),
    "sources.n5.writer.bytes_written": ("bytes", "lower"),
    "sources.n5.writer.stored_bytes_ratio": ("ratio", "lower"),
    "spark.python.boot_s": ("s", "lower"),
    "spark.python.init_s": ("s", "lower"),
    "spark.python.total_s": ("s", "lower"),
    "spark.python.bytes_sent": ("bytes", "lower"),
    "spark.python.bytes_received": ("bytes", "lower"),
    "spark.python.nodes": ("count", "lower"),
    "spark.shuffle.bytes_written": ("bytes", "lower"),
    "spark.shuffle.write_s": ("s", "lower"),
    "spark.shuffle.fetch_wait_s": ("s", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.tasks_failed": ("count", "lower"),
    "spark.executions": ("count", "lower"),
    "spark.execution_s": ("s", "lower"),
    "trace.op_wall_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.accounted_share": ("ratio", "higher"),
}
PER_LAYER_UNITS = {k: u for k, (u, _b) in PER_LAYER.items()}

CODECS = {"gzip": {"type": "gzip"}, "raw": {"type": "raw"}, "lz4": {"type": "lz4"}}

# Registry and catalog probe: the query functions of eight bench.py
# headline queries, one per operator family, build their DataFrames over
# seeded tables (nothing is executed). Neither N5 workload goes through
# these layers, so the traced run measures them directly.
SQL_QUERIES = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "window_row_number",
    "events_session_window",
    "dedup_exact",
    "knn_bruteforce_cosine",
    "text_tf_top_terms",
    "multimodal_feature_extract",
)
SQL_SF = 0.001
KERNEL_BLOCK = 32
KERNEL_MIN_S = 0.25

# span keys summed per cycle, straight from the tracer
SPAN_KEYS = {
    "sources.n5.metadata.read_attributes_s": "sources.n5.metadata.read_attributes_s",
    "sources.n5.metadata.read_attributes_calls": "sources.n5.metadata.read_attributes_calls",
    "sources.n5.reader.plan_s": "sources.n5.reader.scan_block_files_s",
    "sources.n5.reader.blocks_listed": "sources.n5.reader.scan_block_files_items",
    **{k: k for k in PER_LAYER if k.startswith("spark.")},
    "trace.op_wall_s": "wall_s",
}
# op name -> per-layer metric holding its wall time
OP_LAYERS = {
    "tif_series_to_n5": "sources.tiff.series_to_n5_s",
    "n5_to_tif_series": "sources.tiff.n5_to_series_s",
    "build_multiscale": "sources.n5.transforms.multiscale_s",
}


def kernel_blocks(vol_zyx: np.ndarray, n: int = 4) -> list[np.ndarray]:
    """The ``n`` fullest 32^3 blocks of the volume (ties by position)."""
    b = KERNEL_BLOCK
    z, y, x = (d // b for d in vol_zyx.shape)
    cand = []
    for gz in range(z):
        for gy in range(y):
            for gx in range(x):
                blk = vol_zyx[gz * b:(gz + 1) * b, gy * b:(gy + 1) * b, gx * b:(gx + 1) * b]
                cand.append((-int(np.count_nonzero(blk)), (gz, gy, gx), blk))
    cand.sort(key=lambda c: c[:2])
    return [np.ascontiguousarray(c[2]) for c in cand[:n]]


def datasource_partitions(w) -> dict:
    """N5Reader.partitions() called directly on each stored dataset."""
    from n5_dask_spark.sources.n5.datasource import N5Reader

    secs, parts, blocks = [], [], []
    for ds in getattr(w, "datasets", ()):
        reader = N5Reader({"path": w.container, "dataset": ds})
        t0 = time.perf_counter()
        p = reader.partitions()
        secs.append(time.perf_counter() - t0)
        parts.append(len(p))
        blocks.append(sum(len(x.blocks) for x in p))
    if not secs:
        return {}
    return {
        "sources.n5.datasource.partitions_s": float(np.mean(secs)),
        "sources.n5.datasource.partitions": float(np.mean(parts)),
        "sources.n5.datasource.blocks_per_partition": sum(blocks) / sum(parts),
    }


def registry_probe(spark, tmp: str, seed: int) -> dict:
    """Build each SQL_QUERIES DataFrame twice over fresh seeded tables: the
    first build loads the catalog's table plans, the second finds them
    cached. Per-build figures are the mean over both passes."""
    from perfbench import inputs
    from perfbench.spantrace import CallTimers

    from n5_dask_spark.registry import load_all

    sf_dir = os.path.join(tmp, "probe_tables")
    inputs.write_tables(inputs.make_tables(seed, SQL_SF), sf_dir)
    reg = load_all()
    timers = CallTimers([("load_table", "n5_dask_spark.catalog", "load_table", None)])
    builds = 0
    t0 = time.perf_counter()
    with timers:
        for _ in range(2):
            for name in SQL_QUERIES:
                reg[name].fn(spark, sf_dir)
                builds += 1
    build_s = time.perf_counter() - t0
    n, secs, _items = timers.calls["load_table"]
    return {
        "registry.build_s": build_s / builds,
        "catalog.load_table_s": secs / builds,
        "catalog.load_table_calls": n / builds,
    }


def traced_run(runner, seconds: float, start_s: float, warm_s: float, out_base: str):
    from perfbench import kernels
    from perfbench.loop import measured_phase
    from perfbench.spantrace import Tracer

    w = runner.w
    # half the time untraced, half traced: the difference per cycle is the
    # tracing overhead
    samples, facts = measured_phase(runner, seconds / 2, first=1)
    untraced = sum(r[1] for r in samples) / len(facts)
    tracer = Tracer(runner.spark)
    with tracer:
        _samples, facts = measured_phase(runner, seconds / 2, first=1 + len(facts), tracer=tracer)
    n = len(facts)
    spans = tracer.spans

    m = {key: 0.0 for key in PER_LAYER}
    m["session.start_s"], m["session.worker_warm_s"] = start_s, warm_s
    for metric, key in SPAN_KEYS.items():
        m[metric] = sum(s.get(key, 0.0) for s in spans) / n
    for s in spans:
        layer = OP_LAYERS.get(s["op"])
        if layer:
            m[layer] += s["wall_s"] / n
    for key in ("files_written", "bytes_written", "stored_bytes_ratio"):
        m[f"sources.n5.writer.{key}"] = float(np.mean([f[key] for f in facts]))
    if hasattr(w, "region_amplification"):
        m["sources.n5.reader.region_amplification"] = w.region_amplification()
    m.update(datasource_partitions(w))

    traced = m["trace.op_wall_s"]
    m["trace.overhead_s"] = traced - untraced
    accounted = (m["spark.execution_s"] + m["sources.n5.metadata.read_attributes_s"]
                 + m["sources.n5.reader.plan_s"])
    m["trace.accounted_share"] = accounted / traced

    slices = [np.ascontiguousarray(w.vol[z]) for z in range(0, w.vol.shape[0], 8)]
    for name, probe in (
        ("registry_probe", lambda: registry_probe(runner.spark, w.tmp, w.seed)),
        ("codec_rates", lambda: kernels.codec_rates(kernel_blocks(w.vol), CODECS, KERNEL_MIN_S)),
        ("tiff_rates", lambda: kernels.tiff_rates(slices, KERNEL_MIN_S)),
    ):
        try:
            m.update(probe())
            runner.record(name, None)
        except Exception as e:  # a wrong round trip counts as a failed op
            runner.record(name, f"{type(e).__name__}: {str(e)[:300]}")

    os.makedirs(out_base, exist_ok=True)
    tracer.write(os.path.join(out_base, f"spans-{w.name}-s{w.seed}.json"),
                 {"workload": w.name, "seed": w.seed, "cycles": n, "untraced_cycle_s": untraced,
                  "per_layer": m})
    detail = {
        "traced_cycles": n,
        "untraced_cycle_s": untraced,
        "traced_cycle_s": traced,
        "unaccounted_s": traced - accounted,
        "listener_errors": tracer.listener.errors[:3],
    }
    return m, detail
