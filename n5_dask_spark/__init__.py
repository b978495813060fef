"""n5_dask_spark — a PySpark-native analytics engine with the capabilities of
JaneliaSciComp/n5-dask (chunked N5 array processing) plus the relational /
LLM-data-pipeline surface mandated for 100 TB-scale operation.

Layer A (reference surface, SURVEY.md §2.A): N5 chunked-array format codec,
scan/write, region read, rechunk, multiscale downsampling — reimagined as
DataFrame-of-blocks operations (one row per block, grid coordinates as
ordinary columns so Catalyst pruning replaces dask task culling).

Layer B (driver-mandated, SURVEY.md §2.B): relational operators (joins,
aggregation, windows, set ops, scalar functions), streaming windows, dedup,
similarity search, text analysis, multimodal columns — expressed with
built-in Spark SQL so Catalyst/Tungsten pick the physical strategy.
"""

from n5_dask_spark import _pyworker

if _pyworker.in_pyspark_worker():
    _pyworker.install()

from n5_dask_spark.session import get_spark  # noqa: E402
from n5_dask_spark.catalog import TABLES, load_tables  # noqa: E402
from n5_dask_spark.registry import REGISTRY, register, Query  # noqa: E402

__all__ = ["get_spark", "TABLES", "load_tables", "REGISTRY", "register", "Query"]

__version__ = "0.1.0"
