"""Format/connector roundtrips (SURVEY.md §2.B formats row): the engine's
Spark-native read/write surface beyond parquet — ORC, CSV, JSON — proven
by writing real files and reading them back before aggregating. The oracle
computes the same aggregate straight from the parquet table, so any
serialization defect (type mangling, header drift, encoding) flips the
hash. N5 and TIFF (the reference's own formats) have their own modules,
whose scans read their files in their own Python kernels (no Spark file
source).

Paths are deterministic per sf_dir (atomic per-task files via Spark's
commit protocol; mode=overwrite), so reruns are idempotent. Only
well-behaved columns (ids, lang, counters) go through CSV — free-text
stays in formats whose escaping is total.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from n5_dask_spark.catalog import load_tables
from n5_dask_spark.operators._exact import dsum
from n5_dask_spark.registry import register

_AGG_ORACLE = """
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents GROUP BY lang ORDER BY lang
"""


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].select(
        "doc_id", "lang", "n_chars"
    )
    # pid-keyed like the N5 oracle containers: two processes sharing this
    # machine (driver gate + a local pytest) must never overwrite/read the
    # same staging directory mid-write
    path = os.path.join(
        tempfile.gettempdir(),
        f"n5ds-fmt-{fmt}-{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}-p{os.getpid()}",
    )
    writer = docs.write.mode("overwrite").format(fmt)
    reader = spark.read.format(fmt)
    if fmt == "csv":
        # Total-escaping CSV contract (r9 hostile-lang probe found all
        # three): (a) Spark's CSV WRITER trims leading/trailing whitespace
        # by default — turn it off both ways; (b) an empty string reads
        # back as NULL unless a distinct nullValue sentinel frees '' to
        # mean itself; (c) embedded newlines are quoted on write but need
        # multiLine on read. multiLine makes each FILE unsplittable — at
        # scale parallelism comes from the many per-task files, not
        # intra-file splits, so the plan shape survives. Documented
        # boundary (probe-pinned): a LITERAL string equal to the \\N
        # sentinel still reads back as NULL — Spark matches nullValue
        # after unquoting, so no quoting convention protects it; this is
        # the standard Hive/MySQL-export CSV limitation.
        csv_opts = {
            "header": "true",
            "nullValue": "\\N",
            "ignoreLeadingWhiteSpace": "false",
            "ignoreTrailingWhiteSpace": "false",
        }
        writer = writer.options(**csv_opts)
        # explicit schema: a CSV roundtrip that silently infers LongType as
        # string would still count rows right but corrupt the sums
        reader = (
            reader.options(**csv_opts)
            .option("multiLine", "true")
            .schema("doc_id long, lang string, n_chars long")
        )
    elif fmt == "json":
        reader = reader.schema("doc_id long, lang string, n_chars long")
    writer.save(path)
    back = reader.load(path)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("lang")
    )


@register(
    "formats_orc_roundtrip",
    oracle=_AGG_ORACLE,
    doc="ORC write -> read -> aggregate; oracle reads the parquet directly.",
)
def formats_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "orc")


@register(
    "formats_csv_roundtrip",
    oracle=_AGG_ORACLE,
    doc="CSV (header, explicit schema) write -> read -> aggregate vs parquet oracle.",
)
def formats_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "csv")


@register(
    "formats_json_roundtrip",
    oracle=_AGG_ORACLE,
    doc="JSON-lines write -> read (explicit schema) -> aggregate vs parquet oracle.",
)
def formats_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "json")


@register(
    "formats_partitioned_pruning",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc=(
        "Hive-style partitioned layout + partition pruning: orders written "
        "partitionBy(o_orderpriority), read back with a partition-column "
        "filter that must prune to 2 of 5 directories (PartitionFilters in "
        "the scan, asserted by a plan gate). At 100 TB partition pruning is "
        "the first 10-100x: the other directories are never even listed "
        "into tasks."
    ),
)
def formats_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"n5ds-fmt-part-{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}-p{os.getpid()}",
    )
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    # the writer's own schema, not inference: skips the schema-inference
    # footer reads (at 100 TB you never want inference on read), and an
    # EMPTY input relation — a legal corpus whose partitioned write emits
    # only _SUCCESS — reads back as 0 rows instead of throwing
    # UNABLE_TO_INFER_SCHEMA (r9 empty-table probe)
    back = spark.read.schema(orders.schema).parquet(path)
    return (
        back.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
        .orderBy("o_orderpriority")
    )
