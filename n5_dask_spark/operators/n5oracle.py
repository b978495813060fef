"""Hash-checked N5 array queries (SURVEY.md §2.A, driver-verifiable).

The fixture-based ``n5_*`` queries in ``n5ops.py`` are rows-only checks
(the fixture bytes have no SQL twin). These queries close that gap: the
voxel values are a deterministic function of the parquet ``documents``
table (md5 of the linear voxel index + the document's lang), so DuckDB can
compute the exact expected statistics WITHOUT ever seeing an N5 byte —
while the Spark side routes the same values through the full chunked-array
engine: grid assembly -> codec encode -> block files on disk -> scan ->
codec decode -> distributed aggregation (plus rechunk / downsample
variants). A single flipped byte anywhere in the write/read path fails the
driver's value-hash.

Volume layout (shared by Spark and the oracles): VOL^3 voxels, linear
index i -> x = i % VOL, y = (i / VOL) % VOL, z = i / VOL^2; voxel value =
first two hex nibbles of md5(i ':' lang(doc i % n_docs)) -> uint8.

Reference parity: write path mirrors tif_to_n5.py's grid write (SURVEY
§2.A K1/K2/T11), rechunk mirrors dask rechunk semantics (T1), downsample
is the windowed mean of n5_multiscale.py:63-136 (T7).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from n5_dask_spark.catalog import load_tables
from n5_dask_spark.registry import register

VOL = 32  # volume is VOL^3 voxels
BLOCK = 16  # base chunking BLOCK^3 -> a 2x2x2 block grid
N_VOX = VOL * VOL * VOL

# value = (nibble1 * 16 + nibble2) of md5(i ':' lang) — identical expression
# on both engines (instr/strpos are both 1-based).
_SPARK_VAL = (
    "CAST((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substring(h, 2, 1)) - 1) AS INT)"
)

_DUCK_VOX = f"""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    grid AS (SELECT CAST(range AS BIGINT) AS i FROM range({N_VOX})),
    vox AS (
      SELECT g.i,
             CAST(g.i % {VOL} AS INT) AS x,
             CAST((g.i // {VOL}) % {VOL} AS INT) AS y,
             CAST(g.i // {VOL * VOL} AS INT) AS z,
             CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS INT) AS val
      FROM (
        SELECT g.i, md5(CAST(g.i AS VARCHAR) || ':' || d.lang) AS h
        FROM grid g CROSS JOIN n
        JOIN documents d ON d.doc_id = g.i % n.n_docs
      ) g
    )
"""


class EmptyCorpusRefusal(ValueError):
    """The documented loud refusal for an EMPTY documents table — its own
    type so the ``--empty`` boundary gate can recognize the contract by
    identity instead of substring-matching exception text (r13 ADVICE low:
    matching the words 'is empty' would have counted an unrelated
    Spark/Arrow 'empty buffer' error as an expected refusal)."""


def _voxels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, x, y, z, val) — fully distributed; no window, no collect."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # driver scalars (table cardinality), not data — one tiny aggregate job
    card = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.count("doc_id").alias("n_nonnull_ids"),
        F.count("lang").alias("n_lang"),
    ).collect()[0]
    n_docs = card["n"]
    if n_docs != card["n_nonnull_ids"]:
        # NULL doc_ids never match `doc_id = i % n_docs`, silently dropping
        # their voxels — and countDistinct below ignores NULLs, so without
        # this check a NULL-id corpus would trip the DUPLICATE branch with a
        # misleading message (r10 ADVICE item).
        raise ValueError(
            "n5/tiff/ome fixture queries derive voxel values by joining "
            "on doc_id = i % n_docs; the documents table at this sf_dir "
            f"has NULL doc_ids ({n_docs - card['n_nonnull_ids']} of {n_docs})"
        )
    if n_docs != card["n_lang"]:
        # md5(i ':' NULL) is NULL -> NaN voxels -> numpy astype(uint8)
        # produces PLATFORM GARBAGE silently (NULL-text probe: the OME
        # build hash-flipped and tiffops warned 'invalid value in cast').
        raise ValueError(
            "n5/tiff/ome fixture queries derive voxel values from "
            "md5(i ':' lang); the documents table at this sf_dir has "
            f"NULL lang rows ({n_docs - card['n_lang']} of {n_docs})"
        )
    if n_docs != card["n_ids"]:
        # `JOIN documents ON doc_id = i % n_docs` fans out per duplicate:
        # every voxel with a duplicated id maps to SEVERAL lang values and
        # the engines resolve the ambiguity differently (duplicate-PK
        # probe: the whole fixture family hash-flipped silently). Same
        # footing as the empty-corpus lane below — refuse loudly at the
        # one shared derivation point.
        raise ValueError(
            "n5/tiff/ome fixture queries derive voxel values by joining "
            "on doc_id = i % n_docs; the documents table at this sf_dir "
            f"has duplicate doc_ids ({n_docs} rows, {card['n_ids']} ids)"
        )
    if n_docs == 0:
        # i % 0 is undefined, so an EMPTY corpus has no defined volume.
        # Left unguarded the engines diverge SILENTLY: DuckDB's `% 0 ->
        # NULL` empties every oracle, while the Spark paths variously
        # short-circuit to 0 rows (AQE empty-side), emit an all-zeros
        # volume (the OME page build), or crash in a worker — three
        # different wrong answers. Refuse loudly instead, for the whole
        # corpus-derived fixture family in its one shared derivation
        # point (r9 empty-corpus probe, pinned in test_oracle_parity).
        raise EmptyCorpusRefusal(
            "n5/tiff/ome fixture queries derive voxel values from the "
            "documents table (val = md5(i ':' lang(doc i % n_docs))); "
            "the documents table at this sf_dir is empty"
        )
    g = spark.range(N_VOX).select(
        F.col("id").alias("i"),
        (F.col("id") % VOL).cast("int").alias("x"),
        F.expr(f"CAST((id div {VOL}) % {VOL} AS INT)").alias("y"),
        F.expr(f"CAST(id div {VOL * VOL} AS INT)").alias("z"),
        (F.col("id") % n_docs).alias("doc_id"),
    )
    vox = g.join(docs.select("doc_id", "lang"), "doc_id")
    h = F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("lang")))
    return vox.withColumn("h", h).select("i", "x", "y", "z", F.expr(_SPARK_VAL).alias("val"))


_BUILT: set[tuple[str, str]] = set()


def _build_container(
    spark: SparkSession,
    sf_dir: str,
    tag: str = "base",
    reuse: bool = False,
    compression: dict | None = None,
    uri: bool = False,
) -> tuple[str, str]:
    """Assemble the voxel DataFrame into BLOCK^3 chunks and write a fresh
    gzip-compressed N5 container; returns (container, dataset).

    ``tag`` (the calling query) keys the container path so concurrent
    invocations of DIFFERENT queries never race one another's
    rmtree/scan; the pid key isolates concurrent PROCESSES running the
    SAME query (B's rmtree during A's lazy scan would otherwise read as
    silently-short output under ignoreMissingFiles — the race tiffops'
    _series_root documents); a same-process retry is idempotent.
    ``reuse=True`` skips the rebuild when this process already built the
    container — ONLY for callers whose container is input staging (the
    write path itself is their operator under test otherwise).

    Distributed end to end: voxels are hash-shuffled to their block cell
    (applyInPandas assembles each chunk exactly once) and each write task
    owns its block files — the same single-writer-per-block discipline as
    the TIFF import path."""
    from n5_dask_spark.sources.n5.metadata import DatasetAttributes
    from n5_dask_spark.sources.n5.writer import write_blocks

    local = os.path.join(
        tempfile.gettempdir(),
        f"n5ds-oracle-{tag}-{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
        f"-p{os.getpid()}.n5",
    )
    # uri=True routes the WHOLE pipeline through the scheme-dispatched
    # surface (r13 write lift): sink commits via fsio's per-scheme
    # protocol, scans/metadata via the r11 Hadoop-FS read path. file: is
    # the executable scheme here; the code path is the object-store one.
    container = f"file:{local}" if uri else local
    dataset = "vol/s0"
    if reuse and (tag, sf_dir) in _BUILT and os.path.isdir(os.path.join(local, dataset)):
        return container, dataset
    shutil.rmtree(local, ignore_errors=True)
    attrs = DatasetAttributes(
        data_type="uint8",
        dimensions=[VOL, VOL, VOL],
        block_size=[BLOCK, BLOCK, BLOCK],
        compression=compression or {"type": "gzip"},
    )

    def assemble(key: tuple, pdf: pd.DataFrame) -> tuple:
        gx, gy, gz = (int(k) for k in key)
        arr = np.zeros((BLOCK, BLOCK, BLOCK), dtype=np.uint8)  # zyx
        zz = pdf["z"].to_numpy() - gz * BLOCK
        yy = pdf["y"].to_numpy() - gy * BLOCK
        xx = pdf["x"].to_numpy() - gx * BLOCK
        arr[zz, yy, xx] = pdf["val"].to_numpy().astype(np.uint8)
        return (gx, gy, gz, arr)

    from n5_dask_spark.sources.n5 import fuse

    vox = _voxels(spark, sf_dir)
    keyed = (
        vox.withColumn("gx", F.expr(f"CAST(x div {BLOCK} AS INT)"))
        .withColumn("gy", F.expr(f"CAST(y div {BLOCK} AS INT)"))
        .withColumn("gz", F.expr(f"CAST(z div {BLOCK} AS INT)"))
    )
    blocks = keyed.groupBy("gx", "gy", "gz").applyInPandas(
        fuse.emit_block_per_group(assemble),
        schema="gx int, gy int, gz int, shape_zyx array<int>, data binary",
    )
    # write_blocks fuses encode+write into this assembler (r15, guide §4):
    # the assembled block bytes never cross the Python boundary at all
    fuse.attach_grouped(blocks, keyed, ("gx", "gy", "gz"), assemble)
    write_blocks(blocks, container, dataset, attrs)
    _BUILT.add((tag, sf_dir))
    return container, dataset


def _zprofile(blocks: DataFrame, data_type: str, block_z: int) -> DataFrame:
    """Per-z-slice (sum, count) from a decoded blocks DF: per-block partials
    inside Arrow batches, merged by one groupBy — voxels never become rows.
    Consumed through fuse.consume_block_rows (r15, guide §4): the partial
    runs inside the decode (or post-rechunk assembler) Python node, so the
    decoded voxel bytes cross the JVM<->Python boundary once."""
    from n5_dask_spark.sources.n5 import fuse
    from n5_dask_spark.sources.n5.codec import np_dtype

    def prof_rows(gx: int, gy: int, gz: int, a: np.ndarray) -> Iterator[tuple]:
        sums = a.sum(axis=(1, 2), dtype="i8")
        n_vox = a.shape[1] * a.shape[2]
        for dz in range(a.shape[0]):
            yield (int(gz) * block_z + dz, int(sums[dz]), n_vox)

    return (
        fuse.consume_block_rows(
            blocks, np_dtype(data_type), prof_rows,
            ["z", "zsum", "n_vox"], "z int, zsum long, n_vox long",
        )
        .groupBy("z")
        .agg(F.sum("zsum").alias("zsum"), F.sum("n_vox").cast("bigint").alias("n_vox"))
        .orderBy("z")
    )


@register(
    "n5_roundtrip_zprofile",
    oracle=_DUCK_VOX
    + """
    SELECT z, CAST(SUM(val) AS BIGINT) AS zsum, COUNT(*) AS n_vox
    FROM vox GROUP BY z ORDER BY z
    """,
    doc=(
        "S2/K1/K2/T11 hash-checked end to end: documents-derived voxels -> "
        "block assembly -> gzip N5 write -> block scan -> decode -> per-z "
        "profile. The oracle computes the same profile straight from the "
        "parquet table; any codec or write/read defect flips the hash."
    ),
)
def n5_roundtrip_zprofile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from n5_dask_spark.sources.n5.reader import decoded_blocks

    container, dataset = _build_container(spark, sf_dir, "roundtrip")
    return _zprofile(decoded_blocks(spark, container, dataset), "uint8", BLOCK)


@register(
    "n5_rechunk_blocksums",
    oracle=_DUCK_VOX
    + """
    SELECT CAST(x // 8 AS INT) AS tgx, CAST(y // 8 AS INT) AS tgy,
           CAST(z // 8 AS INT) AS tgz,
           COUNT(*) AS n_elems, CAST(SUM(val) AS BIGINT) AS bsum
    FROM vox GROUP BY tgx, tgy, tgz ORDER BY tgx, tgy, tgz
    """,
    doc=(
        "T1 hash-checked: 16^3 -> 8^3 rechunk (fragment explode -> hash "
        "shuffle on target cell -> reassemble), then per-target-block sums. "
        "The oracle derives each target block's sum from voxel coordinates; "
        "any fragment offset/overlap error flips the hash."
    ),
)
def n5_rechunk_blocksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.transforms import rechunk

    container, dataset = _build_container(spark, sf_dir, "rechunk")
    attrs = read_attributes(container, dataset)
    out_blocks, _ = rechunk(decoded_blocks(spark, container, dataset), attrs, [8, 8, 8])

    # sums fuse into the rechunk assembler's post-shuffle Python node
    # (r15, guide §4): the assembled block bytes never re-cross the boundary
    from n5_dask_spark.sources.n5 import fuse

    def sum_rows(gx: int, gy: int, gz: int, a: np.ndarray):
        yield (int(gx), int(gy), int(gz), int(a.size), int(a.sum(dtype="i8")))

    return (
        fuse.consume_block_rows(
            out_blocks, np.dtype("uint8"), sum_rows,
            ["tgx", "tgy", "tgz", "n_elems", "bsum"],
            "tgx int, tgy int, tgz int, n_elems long, bsum long",
        )
        .orderBy("tgx", "tgy", "tgz")
    )


@register(
    "n5_downsample_zprofile",
    oracle=_DUCK_VOX
    + """
    , ds AS (
      SELECT CAST(z // 2 AS INT) AS dz,
             CAST(FLOOR(SUM(val) / 8.0) AS INT) AS dval
      FROM vox GROUP BY x // 2, y // 2, CAST(z // 2 AS INT)
    )
    SELECT dz AS z, CAST(SUM(dval) AS BIGINT) AS zsum, COUNT(*) AS n_vox
    FROM ds GROUP BY dz ORDER BY z
    """,
    doc=(
        "T7 hash-checked: one windowed-mean downsample level (factors "
        "2,2,2; full windows -> the sequential per-axis mean equals "
        "sum/8 exactly in f8, truncated to uint8 = FLOOR) -> per-z profile "
        "of the reduced volume. Oracle computes each 2x2x2 window straight "
        "from the voxel values."
    ),
)
def n5_downsample_zprofile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.transforms import downsample

    container, dataset = _build_container(spark, sf_dir, "downsample")
    attrs = read_attributes(container, dataset)
    out_blocks, out_attrs = downsample(decoded_blocks(spark, container, dataset), attrs, [2, 2, 2])
    return _zprofile(out_blocks, out_attrs.data_type, out_attrs.block_size[2])


@register(
    "n5_multiscale_levels",
    oracle=_DUCK_VOX
    + """
    , ds1 AS (
      SELECT CAST(x // 2 AS INT) AS x, CAST(y // 2 AS INT) AS y, CAST(z // 2 AS INT) AS z,
             CAST(FLOOR(SUM(val) / 8.0) AS INT) AS val
      FROM vox GROUP BY 1, 2, 3
    ), ds2 AS (
      SELECT CAST(x // 2 AS INT) AS x, CAST(y // 2 AS INT) AS y, CAST(z // 2 AS INT) AS z,
             CAST(FLOOR(SUM(val) / 8.0) AS INT) AS val
      FROM ds1 GROUP BY 1, 2, 3
    )
    SELECT * FROM (
      SELECT 0 AS level, 32 AS dim_x, 32 AS dim_y, 32 AS dim_z, CAST('1.0' AS DOUBLE) AS ds_factor,
             CAST(SUM(val) AS BIGINT) AS total_sum, COUNT(*) AS n_vox FROM vox
      UNION ALL
      SELECT 1, 16, 16, 16, CAST('2.0' AS DOUBLE), CAST(SUM(val) AS BIGINT), COUNT(*) FROM ds1
      UNION ALL
      SELECT 2, 8, 8, 8, CAST('4.0' AS DOUBLE), CAST(SUM(val) AS BIGINT), COUNT(*) FROM ds2
    ) ORDER BY level
    """,
    doc=(
        "T7+T8+T9 hash-checked: build_multiscale pyramid (s0 32^3 -> s1 "
        "16^3 -> s2 8^3, thumbnail cutoff 8^3) over the documents-derived "
        "container; per level the query re-reads the WRITTEN dataset and "
        "emits dims + downsamplingFactors FROM THE STORED METADATA plus "
        "distributed voxel sums. The oracle nests the FLOOR(SUM/8) "
        "windowed mean twice — any defect in the pyramid loop, cutoff, "
        "metadata stamping or codec flips the hash."
    ),
)
def n5_multiscale_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.transforms import build_multiscale

    container, _ = _build_container(spark, sf_dir, "multiscale")
    levels = build_multiscale(spark, container, "vol", (2, 2, 2), thumbnail_size_xyz=[8, 8, 8])

    from n5_dask_spark.sources.n5 import fuse

    # sums fuse into the per-level decode node (r15, guide §4)
    def sum_rows(gx: int, gy: int, gz: int, a: np.ndarray):
        yield (int(a.sum(dtype="i8")), int(a.size))

    per_level = []
    for i, lv in enumerate(levels):
        attrs = read_attributes(container, f"vol/{lv}")
        factor = float(attrs.extra.get("downsamplingFactors", [1.0])[0])
        agg = (
            fuse.consume_block_rows(
                decoded_blocks(spark, container, f"vol/{lv}"),
                np.dtype("uint8"), sum_rows, ["bsum", "n"], "bsum long, n long",
            )
            .agg(F.sum("bsum").alias("total_sum"), F.sum("n").alias("n_vox"))
            .select(
                F.lit(i).alias("level"),
                F.lit(attrs.dimensions[0]).alias("dim_x"),
                F.lit(attrs.dimensions[1]).alias("dim_y"),
                F.lit(attrs.dimensions[2]).alias("dim_z"),
                F.lit(factor).alias("ds_factor"),
                "total_sum",
                F.col("n_vox").cast("bigint").alias("n_vox"),
            )
        )
        per_level.append(agg)
    out = per_level[0]
    for df in per_level[1:]:
        out = out.unionByName(df)
    return out.orderBy("level")


@register(
    "n5_roundtrip_lz4",
    oracle=_DUCK_VOX
    + """
    SELECT z, CAST(SUM(val) AS BIGINT) AS zsum, COUNT(*) AS n_vox,
           'lz4' AS codec
    FROM vox GROUP BY z ORDER BY z
    """,
    doc=(
        "T10 hash-checked through the lz4-java LZ4Block framing "
        "(sources/n5/lz4.py, the pure-Python twin of the reference's "
        "numcodecs lz4 entry, tif_to_n5.py:82): same write->scan->profile "
        "pipeline as n5_roundtrip_zprofile but every block encodes and "
        "decodes through the lz4 codec; the codec name is surfaced from "
        "the container's stored attributes.json. Any framing/checksum "
        "defect flips the hash — gzip is no longer the only "
        "driver-verified codec."
    ),
)
def n5_roundtrip_lz4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks

    container, dataset = _build_container(
        spark, sf_dir, "lz4", compression={"type": "lz4", "blockSize": 65536}
    )
    codec = read_attributes(container, dataset).compression["type"]
    return _zprofile(decoded_blocks(spark, container, dataset), "uint8", BLOCK).select(
        "z", "zsum", "n_vox", F.lit(codec).alias("codec")
    )


@register(
    "n5_roundtrip_uri",
    oracle=_DUCK_VOX
    + """
    SELECT z, CAST(SUM(val) AS BIGINT) AS zsum, COUNT(*) AS n_vox,
           'file' AS scheme
    FROM vox GROUP BY z ORDER BY z
    """,
    doc=(
        "K1/K2 through a URI-SCHEME container (r13 write-path lift, "
        "sources/n5/fsio.py): the same write->scan->profile pipeline as "
        "n5_roundtrip_zprofile, but the container address is a file: URI, "
        "so the sink commits through the scheme-dispatched pyarrow.fs "
        "protocol (temp-key PUT + atomic move on rename-capable stores; "
        "direct atomic PUT on object stores), the write-session marker is "
        "claimed via the write-then-read-back fence instead of O_EXCL, "
        "and metadata publishes through the same fsio path — while the "
        "read side exercises the r11 Hadoop-FS URI scan. The surfaced "
        "scheme column comes from the container string actually used. "
        "Reference parity: zarr's N5Store writes wherever fsspec points "
        "it (tif_to_n5.py:29)."
    ),
)
def n5_roundtrip_uri(spark: SparkSession, sf_dir: str) -> DataFrame:
    from n5_dask_spark.sources.n5.reader import decoded_blocks

    container, dataset = _build_container(spark, sf_dir, "uri", uri=True)
    scheme = container.split(":", 1)[0]
    return _zprofile(decoded_blocks(spark, container, dataset), "uint8", BLOCK).select(
        "z", "zsum", "n_vox", F.lit(scheme).alias("scheme")
    )


@register(
    "n5_roundtrip_blosc",
    oracle=_DUCK_VOX
    + """
    SELECT z, CAST(SUM(val) AS BIGINT) AS zsum, COUNT(*) AS n_vox,
           'blosc' AS codec
    FROM vox GROUP BY z ORDER BY z
    """,
    doc=(
        "T10 hash-checked through the pure-Python Blosc1 container "
        "(sources/n5/blosc.py; the reference's numcodecs blosc entry, "
        "tif_to_n5.py:82): same write->scan->profile pipeline as "
        "n5_roundtrip_zprofile but every block encodes and decodes "
        "through blosc (cname=lz4; lz4 internal blocks reuse the "
        "spec-vector-tested raw codec in lz4.py) with typesize=2 so the "
        "byte-shuffle filter is EXERCISED on the uint8 payload — "
        "typesize is a filter width, not a dtype claim, and the chunk "
        "header self-describes it. Any header/offset-table/shuffle "
        "defect flips the hash."
    ),
)
def n5_roundtrip_blosc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks

    container, dataset = _build_container(
        spark,
        sf_dir,
        "blosc",
        compression={"type": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "typesize": 2},
    )
    codec = read_attributes(container, dataset).compression["type"]
    return _zprofile(decoded_blocks(spark, container, dataset), "uint8", BLOCK).select(
        "z", "zsum", "n_vox", F.lit(codec).alias("codec")
    )


@register(
    "n5_roundtrip_blosc_zstd",
    oracle=_DUCK_VOX
    + """
    SELECT z, CAST(SUM(val) AS BIGINT) AS zsum, COUNT(*) AS n_vox,
           'blosc' AS codec, 'zstd' AS cname
    FROM vox GROUP BY z ORDER BY z
    """,
    doc=(
        "T10 hash-checked through the two round-6 blosc legs together "
        "(sources/n5/blosc.py): same write->scan->profile pipeline as "
        "n5_roundtrip_blosc but cname=zstd (real libzstd via pyarrow's "
        "bundled codec — the gated leg that closes the last internal-"
        "codec gap; the reference accepts any numcodecs cname, "
        "tif_to_n5.py:89-92) with shuffle=2 so the bit-shuffle bit-plane "
        "transpose is exercised end to end. Any zstd framing or bit-"
        "shuffle defect flips the hash."
    ),
)
def n5_roundtrip_blosc_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks

    container, dataset = _build_container(
        spark,
        sf_dir,
        "blosczstd",
        compression={"type": "blosc", "cname": "zstd", "clevel": 5, "shuffle": 2, "typesize": 2},
    )
    attrs = read_attributes(container, dataset).compression
    return _zprofile(decoded_blocks(spark, container, dataset), "uint8", BLOCK).select(
        "z",
        "zsum",
        "n_vox",
        F.lit(attrs["type"]).alias("codec"),
        F.lit(attrs["cname"]).alias("cname"),
    )


@register(
    "n5_datasource_zprofile",
    oracle=_DUCK_VOX
    + """
    SELECT z, CAST(SUM(val) AS BIGINT) AS zsum, COUNT(*) AS n_vox
    FROM vox GROUP BY z ORDER BY z
    """,
    doc=(
        "S2 via the Spark 4 Python DataSource API, hash-checked: the same "
        "container as n5_roundtrip_zprofile read through "
        "spark.read.format('n5') (block files packed by Spark's file-split "
        "rule, codec decode inside the source) instead of the binaryFile "
        "path, then "
        "the identical per-z profile. Proves the registered DataSource "
        "returns byte-identical blocks."
    ),
)
def n5_datasource_zprofile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from n5_dask_spark.sources.n5.datasource import register_n5_source

    container, dataset = _build_container(spark, sf_dir, "datasource")
    register_n5_source(spark)
    blocks = (
        spark.read.format("n5").option("path", container).option("dataset", dataset).load()
    )
    return _zprofile(blocks, "uint8", BLOCK)


@register(
    "n5_template_copy_zprofile",
    oracle=_DUCK_VOX
    + """
    SELECT z, CAST(SUM(val) AS BIGINT) AS zsum, COUNT(*) AS n_vox,
           'xz' AS codec
    FROM vox GROUP BY z ORDER BY z
    """,
    doc=(
        "K5 hash-checked: create_from_template clones the base dataset's "
        "shape/chunking/metadata into a new dataset with the codec swapped "
        "to xz, the SAME blocks are re-encoded through the cloned "
        "attributes, and the copy is scanned back for the per-z profile "
        "(codec name surfaced from the COPY's stored attributes.json). A "
        "template-propagation or re-encode defect flips the hash."
    ),
)
def n5_template_copy_zprofile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.writer import create_from_template, write_blocks

    container, dataset = _build_container(spark, sf_dir, "template")
    copy_ds = "vol/copy"
    attrs = create_from_template(container, dataset, container, copy_ds, compression="xz")
    write_blocks(decoded_blocks(spark, container, dataset), container, copy_ds, attrs)
    codec = read_attributes(container, copy_ds).compression["type"]
    return _zprofile(decoded_blocks(spark, container, copy_ds), "uint8", BLOCK).select(
        "z", "zsum", "n_vox", F.lit(codec).alias("codec")
    )


@register(
    "n5_datasource_write_zprofile",
    oracle=_DUCK_VOX
    + """
    SELECT z, CAST(SUM(val) AS BIGINT) AS zsum, COUNT(*) AS n_vox
    FROM vox GROUP BY z ORDER BY z
    """,
    doc=(
        "K1/K2 via the Spark 4 Python DataSource WRITE path, hash-checked: "
        "the staged container's blocks are re-written into a fresh dataset "
        "through df.write.format('n5') (per-task atomic block files, codec "
        "encode inside the sink), then scanned back through format('n5') "
        "for the per-z profile. Any sink-side encode/placement defect "
        "flips the hash."
    ),
)
def n5_datasource_write_zprofile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from n5_dask_spark.sources.n5.datasource import register_n5_source
    from n5_dask_spark.sources.n5.writer import create_from_template

    container, dataset = _build_container(spark, sf_dir, "dswrite", reuse=True)
    register_n5_source(spark)
    out_ds = "vol/dscopy"
    create_from_template(container, dataset, container, out_ds, compression="gzip")
    blocks = (
        spark.read.format("n5").option("path", container).option("dataset", dataset).load()
    )
    (
        blocks.write.format("n5")
        .option("path", container)
        .option("dataset", out_ds)
        .mode("append")
        .save()
    )
    back = spark.read.format("n5").option("path", container).option("dataset", out_ds).load()
    return _zprofile(back, "uint8", BLOCK)


@register(
    "n5_region_export_zprofile",
    oracle=_DUCK_VOX
    + """
    SELECT z - 3 AS z, CAST(SUM(val) AS BIGINT) AS zsum, COUNT(*) AS n_vox
    FROM vox
    WHERE x >= 5 AND x < 27 AND y >= 2 AND y < 30 AND z >= 3 AND z < 21
    GROUP BY z ORDER BY z
    """,
    doc=(
        "S4/T2 at scale, hash-checked: the region [5,27)x[2,30)x[3,21) is "
        "exported DISTRIBUTED (export_region: pruned block scan -> one "
        "fragment shuffle -> per-task block writes; the driver never holds "
        "the region) into a new origin-rebased 8^3-chunked dataset, then "
        "the EXPORTED container is scanned back for its per-z profile. The "
        "oracle filters the same region straight from the parquet-derived "
        "voxels; any pruning, offset or reassembly defect flips the hash."
    ),
)
def n5_region_export_zprofile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.transforms import export_region

    container, dataset = _build_container(spark, sf_dir, "regionexp", reuse=True)
    out = container[: -len(".n5")] + "-roi.n5"
    shutil.rmtree(out, ignore_errors=True)
    export_region(
        spark, container, dataset, [5, 2, 3], [27, 30, 21], out, "roi/s0", block_size=[8, 8, 8]
    )
    return _zprofile(decoded_blocks(spark, out, "roi/s0"), "uint8", 8)
