#!/usr/bin/env python3
"""Repository benchmark: seeded n5_read and n5_write workloads.

    python3 perfbench/run.py --workload n5_read --seed 7 --seconds 15 --trace 0

Run from the repository root. One run:

1. pins the environment: local[nproc], no console progress, every
   temporary file (Spark local dirs, the JVM's tmpdir, generated inputs
   and outputs) under ``.perfbench/run-<pid>/``, which is removed at the
   end;
2. set-up (``setup_s``): starts the session, boots the Python workers,
   generates the inputs from the seed, computes the truths, then warms
   every op once;
3. measures whole cycles of ops until the timed op wall time reaches
   ``--seconds``, checking every output against its truth outside the
   timed section;
4. with ``--trace 1``, spends half of ``--seconds`` on untraced and half
   on traced cycles instead, and reports per-layer metrics (see layers.py
   and spantrace.py); the spans go to
   ``.perfbench/spans-<workload>-s<seed>.json``.

The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}`` (attempted and failed
count the warm-up ops too); the line before it holds the run environment
(cores, Python, Spark and Java versions), the set-up breakdown and the
detail: median op latency, error rate, the tail percentile used, per-op
medians and the share of CPU time the host stole during the measured phase
(a VM on a busy host runs every op slower).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The gated metrics. op_p50_s, op_tail_s and error_rate go to the detail
# line instead: over ten seeds the median op latency of n5_read spread 0.25
# (IQR/median; the median falls between op kinds), no run holds enough ops
# for a tail percentile, and a correct run has no errors (``failed`` and
# ``attempted`` carry them).
END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "voxel_mb_per_s": "MiB/s",
    "stored_bytes_ratio": "ratio",
    "peak_rss_mb": "MiB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["n5_read", "n5_write"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def pin_environment(tmp: str, nproc: int) -> None:
    """Must run before pyspark or the package is imported."""
    import tempfile

    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # the spark-submit launcher JVM: no perf-data file in the system tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import perfbench.kernels and the package from the root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)


def start_session(tmp: str, nproc: int):
    from n5_dask_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the JVM and the Python workers it started, and wait until
    every one of those processes has ended."""
    from perfbench.measure import alive, process_tree

    started = process_tree()[1:]
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in started:
        if alive(pid):
            os.kill(pid, 9)
    while any(alive(p) for p in started):
        time.sleep(0.1)


def end_to_end(runner, setup_s: float, samples: list, facts: list, rss_mb: float):
    from statistics import median

    from perfbench.measure import tail

    walls = [w for _op, w, _ok, _s in samples]
    total = sum(walls)
    ok_ops = [(op, w) for op, w, ok, _s in samples if ok]
    metrics = {
        "setup_s": setup_s,
        "ops_per_s": len(ok_ops) / total,
        "voxel_mb_per_s": sum(op.voxel_bytes for op, _w in ok_ops) / 2**20 / total,
        "stored_bytes_ratio": median([f["stored_bytes_ratio"] for f in facts]),
        "peak_rss_mb": rss_mb,
    }
    t = tail(walls)
    per_op: dict[str, list[float]] = {}
    for op, w, _ok, _s in samples:
        per_op.setdefault(op.name, []).append(w)
    detail = {
        "op_p50_s": median(walls),
        "error_rate": runner.failed / runner.attempted,
        "op_tail_s": None if t is None else {"percentile": t[0], "value": t[1], "samples_beyond": t[2]},
        "ops_measured": len(samples),
        "measured_s": total,
        "op_p50_by_name": {k: median(v) for k, v in sorted(per_op.items())},
    }
    return metrics, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "n5_dask_spark", "__init__.py")):
        print(f"perfbench: no n5_dask_spark package under {ROOT}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(base, f"run-{os.getpid()}")
    pin_environment(tmp, nproc)

    from perfbench import measure
    from perfbench.loop import Runner, measured_phase
    from perfbench.workloads import WORKLOADS

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(tmp, nproc)
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark.range(0, 4 * nproc, numPartitions=nproc).mapInPandas(lambda it: it, "id long").collect()
        warm_s = time.perf_counter() - t0
        w = WORKLOADS[args.workload](spark, tmp, args.seed)
        t0 = time.perf_counter()
        w.setup()
        inputs_s = time.perf_counter() - t0
        runner = Runner(spark, w)
        t0 = time.perf_counter()
        runner.cycle(0, ops=w.warm_ops())  # warm-up: every op once, checked
        warm_cycle_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_start
        setup_parts = {"session_start_s": start_s, "worker_warm_s": warm_s,
                       "inputs_s": inputs_s, "warm_cycle_s": warm_cycle_s}

        env = {
            "cores": nproc,
            "python": platform.python_version(),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "master": spark.sparkContext.master,
        }
        if args.trace:
            from perfbench.layers import traced_run

            metrics, detail = traced_run(runner, args.seconds, start_s, warm_s, base)
        else:
            cpu0 = measure.cpu_jiffies()
            samples, facts = measured_phase(runner, args.seconds, first=1)
            cpu1 = measure.cpu_jiffies()
            rss = measure.peak_rss_mb(measure.process_tree())
            metrics, detail = end_to_end(runner, setup_s, samples, facts, rss)
            detail["host_steal_share"] = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    from perfbench.layers import PER_LAYER_UNITS

    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "env": env, "setup": setup_parts, "detail": detail,
                      "failures": runner.failures}))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
