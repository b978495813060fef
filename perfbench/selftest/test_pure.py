"""Self-tests of the benchmark's pure parts (no Spark).

    python -m pytest perfbench/selftest -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs, measure  # noqa: E402


def test_same_seed_same_volume_and_regions():
    a = inputs.make_volume(5, (24, 40, 48), n_cells=6)
    b = inputs.make_volume(5, (24, 40, 48), n_cells=6)
    assert a.dtype == np.uint16 and a.tobytes() == b.tobytes()
    assert inputs.make_regions(5, [48, 40, 24], [16, 16, 16], 6) == inputs.make_regions(
        5, [48, 40, 24], [16, 16, 16], 6
    )


def test_other_seed_other_volume_and_regions():
    a = inputs.make_volume(5, (24, 40, 48), n_cells=6)
    b = inputs.make_volume(6, (24, 40, 48), n_cells=6)
    assert a.tobytes() != b.tobytes()
    assert inputs.make_regions(5, [48, 40, 24], [16, 16, 16], 6) != inputs.make_regions(
        6, [48, 40, 24], [16, 16, 16], 6
    )


def test_tables_follow_the_seed():
    a, b, c = (inputs.make_tables(s, 0.001) for s in (1, 1, 2))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_region_geometry_does_not_depend_on_the_seed():
    dims, block = [120, 104, 48], [32, 32, 32]

    def geometry(seed):
        out = []
        for start, end in inputs.make_regions(seed, dims, block, 6):
            blocks = [(e - 1) // b - s // b + 1 for s, e, b in zip(start, end, block)]
            out.append(([e - s for s, e in zip(start, end)], blocks))
        return out

    assert geometry(1) == geometry(2) == geometry(3)


def test_regions_stay_inside_and_span_sizes():
    dims, block = [120, 104, 48], [32, 32, 32]
    regions = inputs.make_regions(9, dims, block, 6)
    for start, end in regions:
        assert all(0 <= s < e <= d for s, e, d in zip(start, end, dims))
    vols = sorted(int(np.prod([e - s for s, e in zip(*r)])) for r in regions)
    assert vols[0] < 32**3 < vols[-1]  # from sub-block to many-block


@pytest.mark.parametrize(
    "n, want",
    [
        (10, None),  # even p75 would leave fewer than 10 beyond
        (39, None),
        (40, 75.0),  # p75 leaves exactly 10 beyond
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_percentile_rule(n, want):
    lat = [float(i) for i in range(1, n + 1)]
    got = measure.tail(lat)
    if want is None:
        assert got is None
        return
    pct, value, beyond = got
    assert pct == want and beyond >= 10
    assert value in lat and sum(1 for x in lat if x > value) == beyond


def test_truth_comparison_accepts_the_true_rows_in_any_order():
    vol = inputs.make_volume(3, (20, 24, 40), n_cells=4)
    present = [(0, 0, 0), (1, 0, 0), (2, 1, 1)]
    truth = checks.block_stats_truth(vol, [16, 16, 16], present)
    rows = [(*k, *v) for k, v in reversed(list(truth.items()))]
    assert checks.stats_match(rows, truth) is None


@pytest.mark.parametrize("field", [3, 4, 5, 6])
def test_truth_comparison_rejects_a_perturbed_row(field):
    vol = inputs.make_volume(3, (20, 24, 40), n_cells=4)
    truth = checks.block_stats_truth(vol, [16, 16, 16], [(0, 0, 0), (1, 0, 0), (2, 1, 1)])
    rows = [list((*k, *v)) for k, v in truth.items()]
    rows[1][field] += 1
    assert checks.stats_match([tuple(r) for r in rows], truth) is not None


@pytest.mark.parametrize("change", ["drop", "duplicate", "move"])
def test_truth_comparison_rejects_missing_extra_or_misplaced_blocks(change):
    vol = inputs.make_volume(3, (20, 24, 40), n_cells=4)
    truth = checks.block_stats_truth(vol, [16, 16, 16], [(0, 0, 0), (1, 0, 0), (2, 1, 1)])
    rows = [(*k, *v) for k, v in truth.items()]
    rows = {"drop": rows[1:], "duplicate": rows + rows[:1],
            "move": [(9, 9, 9, *rows[0][3:])] + rows[1:]}[change]
    assert checks.stats_match(rows, truth) is not None


def test_windowed_mean_matches_a_direct_loop():
    rng = np.random.default_rng(0)
    v = rng.integers(0, 5000, (5, 7, 9)).astype(np.uint16)
    got = checks.windowed_mean(v)
    for z in range(3):
        for y in range(4):
            for x in range(5):
                w = v[2 * z:2 * z + 2, 2 * y:2 * y + 2, 2 * x:2 * x + 2].astype("f8")
                assert got[z, y, x] == np.uint16(w.mean())


def test_tiff_roundtrip():
    a = inputs.make_volume(1, (2, 30, 20), n_cells=2)[1]
    assert np.array_equal(inputs.decode_tiff_u16(inputs.encode_tiff_u16(a)), a)


def test_benchmark_json_names_the_printed_metrics():
    from perfbench.layers import PER_LAYER
    from perfbench.run import END_TO_END_UNITS
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
