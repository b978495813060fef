"""Table catalog over the driver's parquet testdata.

At 100 TB these reads are unchanged: ``spark.read.parquet`` gives splittable
columnar scans with predicate pushdown and column pruning; the catalog layer
only maps names to paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from n5_dask_spark.session import tune_session

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # r14 optimization (guide §1.2 driver work / §6 metastore argument):
    # cache the constructed LAZY DataFrame per (session, sf_dir, table),
    # one level up from the schema cache. Even with the schema handed in,
    # `spark.read.schema(s).parquet(path)` costs a DataFrameReader py4j
    # round-trip + relation resolution (~20-60 ms measured) on EVERY query
    # construction — q5 loads six tables per run. A DataFrame is an
    # immutable logical plan, so reuse is free: every execution still
    # scans the parquet fresh (this caches no data and no results — the
    # exact same immutability contract the schema cache already relies
    # on). Keyed on the session OBJECT (dies with it, so a stopped
    # session can never leak stale plans into its successor).
    #
    # CONTRACT (r15, VERDICT/ADVICE): the cached plan freezes the parquet
    # FILE LISTING at first resolution (InMemoryFileIndex), not just the
    # schema — file CONTENTS are re-read per execution, the file SET is
    # not re-listed. This assumes sf_dir is immutable for the session's
    # lifetime, which every in-repo caller satisfies: no registered query
    # writes into its sf_dir (all writes go to tempdirs; pinned by the
    # suite-wide tests/conftest.py::sf_dir_immutable_guard, which snapshots
    # the testdata dirs around the full oracle-parity sweep). A flow that
    # regenerates sf_dir mid-session must call invalidate_table_cache
    # (or use a fresh session/sf_dir).
    cache = _plan_cache(spark)
    key = (sf_dir, name)
    hit = cache.get(key)
    if hit is not None:
        return hit
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # events.ts has shipped as both parquet TIMESTAMP(NANOS) — which
        # Spark's vectorized reader rejects outright — and TIMESTAMP(MICROS).
        # Enable nanos-as-int64 fallback, then adapt to whatever the file
        # actually holds: int64 nanos get truncated to microseconds (the
        # same truncation DuckDB applies); native timestamps just normalize
        # to TIMESTAMP_NTZ (identity under the UTC session tz).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        df = _read_cached(spark, sf_dir, name)
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn(
                "ts",
                F.expr("CAST(timestamp_micros(CAST(ts DIV 1000 AS BIGINT)) AS TIMESTAMP_NTZ)"),
            )
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    else:
        df = _read_cached(spark, sf_dir, name)
    cache[key] = df
    return df


def invalidate_table_cache(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Drop cached table plans (and schemas) so a REGENERATED sf_dir is
    re-listed and re-inferred on next load. ``sf_dir=None`` drops all.

    Closes the one trap in the load_table plan cache (see its contract
    comment): a base-table directory whose FILE SET changes mid-session
    would otherwise serve the frozen listing captured at first load."""
    for cache in (_plan_cache(spark), _schema_cache(spark)):
        for k in [k for k in cache if sf_dir is None or k[0] == sf_dir]:
            del cache[k]


def _plan_cache(spark: SparkSession) -> dict[tuple[str, str], DataFrame]:
    return spark.__dict__.setdefault("_n5ds_df_cache", {})


def _schema_cache(spark: SparkSession) -> dict[tuple[str, str], object]:
    """Inferred parquet schemas per (sf_dir, table), kept on the session
    like the plan cache. Schema inference re-reads file footers on EVERY
    spark.read call (~0.1-0.2 s per table on local testdata; a
    listing+footer round-trip per query on a real cluster), so the first
    inference is handed to later readers — the trick a production job
    gets by reading through a metastore table instead of bare paths."""
    return spark.__dict__.setdefault("_n5ds_schema_cache", {})


def _read_cached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    cache = _schema_cache(spark)
    key = (sf_dir, name)
    schema = cache.get(key)
    if schema is None:
        df = spark.read.parquet(table_path(sf_dir, name))
        cache[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(table_path(sf_dir, name))


def widen(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across all cores for CPU-heavy per-row work.

    A small parquet table arrives as one input split, which would serialize
    expensive projections (tokenize / shingle / decode UDFs) onto a single
    core — so the local testdata needs a fan-out before the heavy stage.
    But an UNCONDITIONAL repartition is a scale bug: on a real cluster the
    scan already yields >= parallelism splits, and the repartition would be
    a full shuffle of raw text/binary payloads that can even SHRINK a
    many-split scan down to core count. Repartition only when the scan is
    actually narrower than the cluster (partition inspection is pure
    planning — no job runs).
    """
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        # Spark Connect: ``sparkContext`` itself raises, so it must be probed
        # INSIDE a try or the fallback below is unreachable. shuffle.partitions
        # is the Connect-safe width signal — tune_session() pins it to cluster
        # parallelism in every session this engine configures.
        try:
            target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            return df  # no parallelism signal at all: never add a blind shuffle
    # r14 optimization: memoize the planned width on the DataFrame OBJECT.
    # df.rdd forces a full physical planning of the scan subtree on every
    # call; the width of an immutable plan cannot change, and load_table
    # now returns one cached DataFrame object per (session, sf_dir, table),
    # so repeated query constructions skip the replan entirely.
    # ASSUMPTION (r15 ADVICE): planned width also depends on session confs
    # at planning time (spark.sql.files.maxPartitionBytes) and the on-disk
    # layout — both fixed for a session here (tune_session pins the conf,
    # sf_dir is immutable per the load_table contract). A mid-session conf
    # change could leave a stale width; the cost is perf-only (a skipped
    # or spurious fan-out), never correctness.
    cached_width = df.__dict__.get("_n5ds_scan_width")
    if cached_width is not None:
        return df if cached_width >= target else df.repartition(target)
    try:
        width = df.rdd.getNumPartitions()  # exact planned width
        df.__dict__["_n5ds_scan_width"] = width
    except Exception:
        # DataFrame.rdd is unsupported on Spark Connect sessions. Fall back
        # to the scan's file count — an UNDER-estimate of split count (one
        # big file can yield many splits), so the worst case is a spurious
        # fan-out of a few-files-but-large scan, never a serialization of a
        # wide one. At cluster scale file count >> parallelism and this
        # branch still declines to shuffle.
        try:
            width = len(df.inputFiles())
        except Exception:
            return df  # no width signal at all: never add a blind shuffle
    if width >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    tune_session(spark)
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works directly."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
