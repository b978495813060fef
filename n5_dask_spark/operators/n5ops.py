"""N5 chunked-array operators exposed as driver-checkable queries
(SURVEY.md §2.A). These run against the reference's golden fixture
(/root/reference/data/test.n5 — read-only), independent of sf_dir, and are
deterministic. Because the fixture is pinned, every output is a constant:
each query carries a literal-VALUES DuckDB oracle (generated by
tools/gen_n5_oracles.py into n5_fixture_oracles.py) so the driver
hash-checks them; the independent witness for the captured constants is
the numpy golden suite (tests/test_n5.py, tests/test_n5_analytics.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from n5_dask_spark.operators.n5_fixture_oracles import N5_FIXTURE_ORACLES
from n5_dask_spark.registry import register

FIXTURE = "/root/reference/data/test.n5"
FIXTURE_DS = "mri/c0/s0"


@register(
    "n5_block_inventory",
    oracle=N5_FIXTURE_ORACLES["n5_block_inventory"],
    doc="S2: N5 dataset scan — one row per block file, grid coords from path.",
)
def n5_block_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    from n5_dask_spark.sources.n5.reader import scan_block_files

    return (
        scan_block_files(spark, FIXTURE, FIXTURE_DS)
        .to_df()
        .select("gx", "gy", "gz", "length")
        .orderBy("gx", "gy", "gz")
    )


@register(
    "n5_block_stats",
    oracle=N5_FIXTURE_ORACLES["n5_block_stats"],
    doc="S2+T5: per-block decode + reduce inside an Arrow-batched UDF.",
)
def n5_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from n5_dask_spark.sources.n5.reader import block_stats

    return block_stats(spark, FIXTURE, FIXTURE_DS).orderBy("gx", "gy", "gz")


@register(
    "n5_region_read",
    oracle=N5_FIXTURE_ORACLES["n5_region_read"],
    doc=(
        "S4/T2: random-access region read with driver-side block pruning; "
        "returns per-z-slice sums of the region as rows."
    ),
)
def n5_region_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from n5_dask_spark.sources.n5.reader import read_region

    reg = read_region(spark, FIXTURE, FIXTURE_DS, [100, 100, 5], [150, 160, 20])  # xyz
    rows = [
        (z + 5, float(reg[:, :, z].sum(dtype="f8")), int(reg[:, :, z].max()))
        for z in range(reg.shape[2])
    ]
    return spark.createDataFrame(rows, "z int, slice_sum double, slice_max int")


@register(
    "n5_rechunk_stats",
    oracle=N5_FIXTURE_ORACLES["n5_rechunk_stats"],
    doc=(
        "T1: rechunk the fixture 128^3 -> 64^3 via the fragment shuffle and "
        "return per-target-block stats (content-preservation check: total "
        "sum equals the 128^3 total)."
    ),
)
def n5_rechunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from n5_dask_spark.sources.n5 import fuse
    from n5_dask_spark.sources.n5.codec import np_dtype
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.transforms import rechunk

    attrs = read_attributes(FIXTURE, FIXTURE_DS)
    out_blocks, out_attrs = rechunk(decoded_blocks(spark, FIXTURE, FIXTURE_DS), attrs, [64, 64, 64])

    # stats fuse into the rechunk assembler's post-shuffle Python node
    # (r15, guide §4): the assembled block bytes never re-cross the boundary
    def stats_rows(gx: int, gy: int, gz: int, a: np.ndarray):
        yield (int(gx), int(gy), int(gz), int(a.size), float(a.sum(dtype="f8")))

    return (
        fuse.consume_block_rows(
            out_blocks, np_dtype(out_attrs.data_type), stats_rows,
            ["gx", "gy", "gz", "n_elems", "vsum"],
            "gx int, gy int, gz int, n_elems long, vsum double",
        )
        .orderBy("gx", "gy", "gz")
    )


@register(
    "n5_intensity_histogram",
    oracle=N5_FIXTURE_ORACLES["n5_intensity_histogram"],
    doc=(
        "Voxel-level analytics over the chunked array: per-block partial "
        "histograms (numpy bincount inside the UDF) -> groupBy(bin) merge. "
        "No voxel ever becomes a row; the shuffle carries n_bins rows per "
        "block — the scale-correct shape for 100 TB volumes."
    ),
)
def n5_intensity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from n5_dask_spark.sources.n5 import fuse
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks

    data_type = read_attributes(FIXTURE, FIXTURE_DS).data_type
    if data_type != "uint8":
        raise ValueError(f"histogram binning (>>4, 16 bins) assumes uint8, got {data_type}")
    n_bins = 16  # uint8 -> 16 bins of width 16

    def hist_rows(gx: int, gy: int, gz: int, a: np.ndarray):
        counts = np.bincount(a.ravel() >> 4, minlength=n_bins)
        for b in np.flatnonzero(counts):
            yield (int(b), int(counts[b]))

    return (
        fuse.consume_block_rows(
            decoded_blocks(spark, FIXTURE, FIXTURE_DS), None, hist_rows,
            ["bin", "n_voxels"], "bin int, n_voxels long",
        )
        .groupBy("bin")
        .agg(F.sum("n_voxels").alias("n_voxels"))
        .orderBy("bin")
    )


@register(
    "n5_zprofile",
    oracle=N5_FIXTURE_ORACLES["n5_zprofile"],
    doc=(
        "Per-z-slice mean intensity: per-block partial (sum, count) by "
        "global z -> merge -> exact mean. The array->relational bridge: "
        "slice statistics as ordinary rows."
    ),
)
def n5_zprofile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from n5_dask_spark.sources.n5 import fuse
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks

    bz = read_attributes(FIXTURE, FIXTURE_DS).block_size[2]

    def z_rows(gx: int, gy: int, gz: int, a: np.ndarray):
        sums = a.sum(axis=(1, 2), dtype="f8")  # f8: exact for ints, no truncation for floats
        n = a.shape[1] * a.shape[2]
        for dz in range(a.shape[0]):
            yield (gz * bz + dz, float(sums[dz]), n)

    return (
        fuse.consume_block_rows(
            decoded_blocks(spark, FIXTURE, FIXTURE_DS), None, z_rows,
            ["z", "vsum", "n"], "z int, vsum double, n long",
        )
        .groupBy("z")
        .agg((F.sum("vsum") / F.sum("n")).alias("mean_intensity"), F.sum("n").alias("n_voxels"))
        .orderBy("z")
    )


@register(
    "n5_downsample_stats",
    oracle=N5_FIXTURE_ORACLES["n5_downsample_stats"],
    doc=(
        "T7: one windowed-mean downsample level (factors 2,2,2; block-local, "
        "no shuffle for the reduction) — per-block stats of s1."
    ),
)
def n5_downsample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from n5_dask_spark.sources.n5 import fuse
    from n5_dask_spark.sources.n5.codec import np_dtype
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.transforms import downsample

    attrs = read_attributes(FIXTURE, FIXTURE_DS)
    out_blocks, out_attrs = downsample(decoded_blocks(spark, FIXTURE, FIXTURE_DS), attrs, [2, 2, 2])

    # stats fuse into downsample's final rechunk assembler (r15, guide §4)
    def stats_rows(gx: int, gy: int, gz: int, a: np.ndarray):
        # shape as a flat string: the driver canonicalizer sorts result
        # columns through pandas, which cannot factorize array cells
        shape_s = "x".join(str(d) for d in a.shape)
        yield (
            int(gx), int(gy), int(gz), shape_s,
            float(a.mean(dtype="f8")), float(a.sum(dtype="f8")),
        )

    return (
        fuse.consume_block_rows(
            out_blocks, np_dtype(out_attrs.data_type), stats_rows,
            ["gx", "gy", "gz", "shape_zyx", "vmean", "vsum"],
            "gx int, gy int, gz int, shape_zyx string, vmean double, vsum double",
        )
        .orderBy("gx", "gy", "gz")
    )
