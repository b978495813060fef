"""The closed loop: one client runs a workload's ops one after another,
each under its own Spark job group, and checks every output."""

from __future__ import annotations

import time


class Runner:
    def __init__(self, spark, workload):
        self.spark, self.w = spark, workload
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def run_op(self, group: str, op, tracer=None) -> tuple[float, bool, dict | None]:
        sc = self.spark.sparkContext
        sc.setJobGroup(group, op.name)
        span = None
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = op.run()
                wall = time.perf_counter() - t0
            else:
                out, span = tracer.run(group, op.name, op.run)
                wall = span["wall_s"]
            err = op.check(out)
        except Exception as e:  # a failing op is an error, not a crash
            wall, err = time.perf_counter() - t0, f"{type(e).__name__}: {str(e)[:300]}"
        self.record(op.name, err)
        return wall, err is None, span

    def record(self, name: str, err: str | None) -> None:
        """Count one attempted op; ``err`` is None when its output was right."""
        self.attempted += 1
        if err is not None:
            self.failed += 1
            if len(self.failures) < 5:
                self.failures.append(f"{name}: {err}")

    def cycle(self, k: int, tracer=None, ops=None) -> tuple[list, dict]:
        """Run cycle ``k`` (or ``ops`` under its number); returns
        ([(op, wall, ok, span)], cycle facts)."""
        out = []
        for i, op in enumerate(self.w.cycle(k) if ops is None else ops):
            wall, ok, span = self.run_op(f"{self.w.name}:{k}:{i}:{op.name}", op, tracer)
            out.append((op, wall, ok, span))
        return out, self.w.end_cycle(k)


def measured_phase(runner: Runner, seconds: float, first: int, tracer=None) -> tuple[list, list]:
    """Whole cycles, numbered from ``first``, until the timed op wall time
    reaches ``seconds``; returns (samples, cycle facts)."""
    samples, facts, k, spent = [], [], first, 0.0
    while spent < seconds or not samples:
        rows, f = runner.cycle(k, tracer)
        samples += rows
        facts.append(f)
        spent += sum(r[1] for r in rows)
        k += 1
    return samples, facts
