"""Registry invariants the external driver depends on."""

from __future__ import annotations

from n5_dask_spark.registry import DRIVER_WINDOW, load_all


def test_window_is_first_50_in_queries_order():
    """The driver grades exactly the first 50 queries() entries; the pinned
    window must BE that prefix, or rotations silently grade the wrong set."""
    assert len(DRIVER_WINDOW) == 50
    assert list(load_all())[:50] == list(DRIVER_WINDOW)


def test_window_names_unique():
    assert len(set(DRIVER_WINDOW)) == len(DRIVER_WINDOW)


def test_every_query_has_oracle():
    """Every registered query is hash-checkable: no rows-only rows left."""
    missing = [n for n, q in load_all().items() if q.oracle is None]
    assert missing == [], missing


def test_registered_docs_nonempty():
    undocumented = [n for n, q in load_all().items() if not q.doc.strip()]
    assert undocumented == [], undocumented


def test_queries_label_their_jobs(spark):
    """X2 progress surface: running a registry query stamps the Spark job
    description, so the UI / event log attributes every job to its query."""
    q = load_all()["q6_forecast_revenue"]
    q.fn(spark, "/root/testdata/sf0.001").collect()
    desc = spark.sparkContext.getLocalProperty("spark.job.description")
    assert desc == "n5ds:q6_forecast_revenue"


def test_table_cache_invalidation(spark, tmp_path):
    """r15 (VERDICT #8): the load_table plan cache serves one frozen plan
    per (session, sf_dir, table); invalidate_table_cache drops it (and the
    schema cache entry) so a regenerated sf_dir re-lists on next load."""
    import shutil

    from n5_dask_spark import catalog

    sf = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    shutil.copy("/root/testdata/sf0.001/region.parquet", sf + "/region.parquet")

    a = catalog.load_table(spark, sf, "region")
    assert catalog.load_table(spark, sf, "region") is a  # cache hit
    assert (sf, "region") in catalog._schema_cache(spark)

    catalog.invalidate_table_cache(spark, sf)
    assert (sf, "region") not in catalog._schema_cache(spark)
    b = catalog.load_table(spark, sf, "region")
    assert b is not a  # fresh plan (fresh file listing)
    assert b.collect() == a.collect()

    # other sf_dirs untouched by a scoped invalidation
    c = catalog.load_table(spark, "/root/testdata/sf0.001", "region")
    catalog.invalidate_table_cache(spark, sf)
    assert catalog.load_table(spark, "/root/testdata/sf0.001", "region") is c


def test_schema_cache_is_per_session(spark, tmp_path):
    """The inferred-schema cache lives with the session, like the plan
    cache: a new session over a rewritten sf_dir infers the new schema
    instead of inheriting the one an earlier session cached."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from n5_dask_spark import catalog
    from tests.conftest import SF_SMALL

    sf = tmp_path / "sf"
    sf.mkdir()
    table = pq.read_table(catalog.table_path(SF_SMALL, "region"))
    pq.write_table(table, sf / "region.parquet")
    assert "extra" not in catalog.load_table(spark, str(sf), "region").columns

    pq.write_table(
        table.append_column("extra", pa.array([1] * table.num_rows, pa.int64())),
        sf / "region.parquet",
    )
    other = spark.newSession()
    df = catalog.load_table(other, str(sf), "region")
    assert "extra" in df.columns
    assert df.count() == table.num_rows
