"""Env-gated smoke for the N5 grid stress shape (reduced size).

Gated behind N5DS_STRESS=1 so the default gate stays fast; the full shape
(8192 blocks through rechunk + multiscale with balance assertions) runs in
``tools/stress.py`` per round.
"""

from __future__ import annotations

import importlib.util
import os

import pytest


def _stress_module():
    path = os.path.join(os.path.dirname(__file__), "..", "tools", "stress.py")
    spec = importlib.util.spec_from_file_location("n5ds_stress", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.skipif(not os.environ.get("N5DS_STRESS"), reason="set N5DS_STRESS=1 to run")
def test_n5_grid_stress_smoke(spark, tmp_path):
    stress = _stress_module()
    out = stress.n5_grid_stress(spark, str(tmp_path), dims=(256, 256, 128), bs=(32, 32, 32))
    assert out["n5_grid_blocks"] == 8 * 8 * 4
    assert out["n5_grid_partition_max_over_median"] <= 10
    assert out["n5_grid_levels"] >= 3  # 256 -> 128 -> 64 -> 32 with 32^3 thumb


@pytest.mark.skipif(not os.environ.get("N5DS_STRESS"), reason="set N5DS_STRESS=1 to run")
def test_tiff_series_stress_smoke(spark, tmp_path):
    stress = _stress_module()
    out = stress.tiff_series_stress(spark, str(tmp_path), n_z=16, wh=(96, 80))
    assert out["tiff_series_slices"] == 16  # verify leg asserts the roundtrip


@pytest.mark.skipif(not os.environ.get("N5DS_STRESS"), reason="set N5DS_STRESS=1 to run")
def test_dedup_stress_smoke(spark, tmp_path):
    stress = _stress_module()
    out = stress.dedup_stress(spark, str(tmp_path), rows=80_000)  # 20k docs
    assert out["dedup_minhash_partition_max_over_median"] <= 10
    assert out["dedup_simhash_partition_max_over_median"] <= 10
    assert out["dedup_ngram_partition_max_over_median"] <= 10
    # planted 29-of-30-token near-dup pairs recovered by every family
    assert out["minhash_pairs"] and out["ngram_pairs"] and out["simhash_pairs"]


@pytest.mark.skipif(not os.environ.get("N5DS_STRESS"), reason="set N5DS_STRESS=1 to run")
def test_streaming_stress_smoke(spark, tmp_path):
    stress = _stress_module()
    out = stress.streaming_stress(spark, str(tmp_path), rows=200_000)
    assert out["streaming_20m_batches"] >= 2
    assert out["streaming_20m_t1"] > 0 and out["streaming_20m_t2"] > 0


@pytest.mark.skipif(not os.environ.get("N5DS_STRESS"), reason="set N5DS_STRESS=1 to run")
def test_streaming_state_stress_smoke(spark, tmp_path):
    stress = _stress_module()
    out = stress.streaming_state_stress(spark, str(tmp_path), rows=320_000)
    assert out["stream_state_rows_emitted"] > 0
    # the core claim: peak state ~ one slice's windows, not the full history
    assert 0 < out["stream_state_peak_rows"] <= 4 * 60
    assert out["stream_state_total_windows"] == 16 * 60


@pytest.mark.skipif(not os.environ.get("N5DS_STRESS"), reason="set N5DS_STRESS=1 to run")
def test_streaming_join_state_stress_smoke(spark, tmp_path):
    stress = _stress_module()
    out = stress.streaming_join_state_stress(spark, str(tmp_path), rows=320_000)
    assert out["stream_join_matches"] > 0
    # peak join state ~ one micro-batch (+ watermark horizon), not history
    assert 0 < out["stream_join_peak_state_rows"] <= 2 * (320_000 // 16)


@pytest.mark.skipif(not os.environ.get("N5DS_STRESS"), reason="set N5DS_STRESS=1 to run")
def test_similarity_lsh_stress_smoke(spark, tmp_path):
    stress = _stress_module()
    out = stress.similarity_lsh_stress(spark, str(tmp_path), n_vec=50_000, n_planted=500)
    assert out["lsh_planted_recall"] >= 0.85
    assert out["lsh_candidate_fraction"] < 1e-3  # candidates ~ buckets, not n^2
    assert out["lsh_bucket_max_over_mean"] <= 50  # Poisson tail at sparse smoke scale


@pytest.mark.skipif(not os.environ.get("N5DS_STRESS"), reason="set N5DS_STRESS=1 to run")
def test_reference_default_chunk_big_block_smoke(spark, tmp_path):
    """r11 big-block probe: the REFERENCE's own default chunk size
    (tif_to_n5.py:76) is 512x512x512 — one ~134 MB block per file — so
    foreign containers at that geometry are realistic and the engine's
    own bench/stress only exercised <=128^3 (~2 MB) blocks. The full
    512^3 probe ran clean in r11 (write 16.3 s / stats 3.7 / read_full
    6.3 / rechunk 9.7 down + 12.7 up, all bit-equal; a block file is
    never split, so one block file = one fetch in the scan kernel, and
    working sets stay bounded by blocks-per-partition). This gated smoke
    pins the lane at 256^3 (~17 MB/block) to stay quick."""
    import numpy as np

    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks, read_full
    from n5_dask_spark.sources.n5.transforms import rechunk
    from n5_dask_spark.sources.n5.writer import write_blocks, write_array

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 255, (256, 256, 256), dtype=np.uint8)
    c = str(tmp_path / "big.n5")
    write_array(spark, arr, c, "d/s0", [256, 256, 256], compression={"type": "gzip", "level": 1})
    np.testing.assert_array_equal(read_full(spark, c, "d/s0"), arr)
    blocks, out_attrs = rechunk(
        decoded_blocks(spark, c, "d/s0"), read_attributes(c, "d/s0"), [64, 64, 64]
    )
    write_blocks(blocks, c, "d/s64", out_attrs)
    np.testing.assert_array_equal(read_full(spark, c, "d/s64"), arr)
    blocks2, attrs2 = rechunk(
        decoded_blocks(spark, c, "d/s64"), read_attributes(c, "d/s64"), [256, 256, 256]
    )
    write_blocks(blocks2, c, "d/sbig", attrs2)
    np.testing.assert_array_equal(read_full(spark, c, "d/sbig"), arr)
