"""Physical-plan quality gates (SURVEY.md §4): these assert the plans we
designed for actually materialize — dim joins broadcast (no fact shuffle),
predicates and projections reach the parquet scan, aggregates are partial
(map-side) before the exchange, top-k plans TakeOrderedAndProject instead of
a full sort. A regression here is a scale regression even when results stay
correct."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def get_query(name):
    from n5_dask_spark.registry import load_all

    return load_all()[name]


def test_q3_broadcasts_dims(spark):
    plan = plan_of(get_query("q3_shipping_priority").fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the fact table must not sort-shuffle for dims


def test_q5_constant_dims_broadcast_facts_not_forced(spark):
    """region/nation (constant 5/25 rows at ANY scale) are hard-hinted and
    must broadcast even with auto-broadcast off; the fact-derived sides
    (orders x customer, supplier) must NOT carry a hard hint — at the
    100-TB target a forced broadcast of a fact-scale side OOMs, so those
    joins degrade to keyed shuffle joins when the threshold is disabled
    and rely on size stats / AQE to broadcast when genuinely small."""
    plan = plan_of(get_query("q5_local_supplier_volume").fn(spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 2  # region, nation at least
    df = get_query("q5_local_supplier_volume").fn(spark, SF_SMALL)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        forced = plan_of(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # count TREE nodes ("BroadcastHashJoin Inner ..."), not the detail
    # sections formatted explain repeats below the tree
    assert forced.count("BroadcastHashJoin Inner") == 2  # ONLY the constant dims
    assert "SortMergeJoin" in forced  # fact joins fall back to shuffle


def test_q6_pushes_filters_to_scan(spark):
    plan = plan_of(get_query("q6_forecast_revenue").fn(spark, SF_SMALL))
    assert "PushedFilters: [" in plan
    # the shipdate/discount/quantity predicates reach parquet
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    # column pruning: only the needed columns are read
    sect = plan.split("ReadSchema")[1][:300]
    assert "l_extendedprice" in sect and "l_returnflag" not in sect


def test_q1_partial_aggregation(spark):
    plan = plan_of(get_query("q1_pricing_summary").fn(spark, SF_SMALL))
    # partial (map-side) agg before the exchange, final after
    assert plan.count("HashAggregate") >= 2
    first_agg = plan.index("HashAggregate")
    assert "Exchange" in plan[first_agg:]


def test_topk_uses_take_ordered(spark):
    plan = plan_of(get_query("orderby_limit_topk").fn(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT k


def test_whole_stage_codegen_on_fact_scan(spark):
    df = get_query("q1_pricing_summary").fn(spark, SF_SMALL)
    df.collect()  # finalize the adaptive plan; codegen stages exist only then
    plan = plan_of(df)
    assert "codegen id" in plan and "isFinalPlan=true" in plan


def test_events_scan_prunes_columns(spark):
    plan = plan_of(get_query("events_tumbling_window").fn(spark, SF_SMALL))
    sect = plan.split("ReadSchema")[1][:300]
    assert "props" not in sect  # unused JSON column not read


def test_n5_region_read_lists_only_overlapping_blocks(spark):
    """File-level pruning: a 1-block region must scan exactly 1 block file."""
    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import overlapping_blocks

    attrs = read_attributes("/root/reference/data/test.n5", "mri/c0/s0")
    assert overlapping_blocks(attrs, [0, 0, 0], [10, 10, 5]) == [(0, 0, 0)]
    assert len(overlapping_blocks(attrs, [120, 120, 0], [140, 140, 27])) == 4
    assert overlapping_blocks(attrs, [500, 0, 0], [510, 10, 5]) == []


def test_knn_query_broadcasts_queries(spark):
    plan = plan_of(get_query("knn_bruteforce_cosine").fn(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_asof_join_is_union_window_with_no_join(spark):
    """The asof is the scale-linear union + last_value plan: NO join node of
    any kind (the old equi+range join materialized the event x per-user-
    order-dates expansion before the row_number prune — O(events x order
    dates) at 100 TB), and exactly one data-bearing exchange feeds the
    window (orders' partial-agg exchange and the final presentation sort
    are the other two)."""
    df = get_query("join_asof").fn(spark, SF_SMALL)
    plan = plan_of(df)
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree  # no SortMergeJoin/BroadcastHashJoin/NestedLoop
    assert "Window" in tree and "Union" in tree
    # orders partial-agg exchange + union->window exchange + final orderBy
    assert tree.count("Exchange") == 3


def test_simhash_has_no_signature_barrier_exchange(spark):
    """The 60-bit signature is one Arrow-batched pandas pass fused into the
    scan stage. The old pure-SQL formulation shuffled (doc_id, 32-hex-per-
    token arrays) purely as a CollapseProject barrier — a data-scale
    exchange that must never come back. The only legal exchanges are the
    conditional widen round-robin, the band-bucket groupBy, the pair
    distinct, and the final sort: nothing hash-partitions on doc_id."""
    plan = plan_of(get_query("dedup_simhash").fn(spark, SF_SMALL))
    assert "ArrowEvalPython" in plan  # fused signature stage exists
    assert "hashpartitioning(doc_id" not in plan


def test_no_unpartitioned_windows_in_source():
    """Every window in every operator/streaming module must carry a
    partition spec: ``Window.orderBy(...)`` with no partitionBy is a global
    single-task sort — a scale-killer regardless of local correctness."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "n5_dask_spark"
    offenders = [
        f"{p.relative_to(pkg.parent)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "Window.orderBy" in line
    ]
    assert offenders == [], f"unpartitioned Window.orderBy at {offenders}"


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed+sorted on the key: the sort-merge join must be
    scan-local — no Exchange anywhere below the aggregation, even with
    auto-broadcast disabled."""
    df = get_query("join_bucketed_colocated").fn(spark, SF_SMALL)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(df)
        join_pos = plan.index("SortMergeJoin")
        # no exchange may feed the join (bucket-pruned scans feed it directly)
        assert "Exchange" not in plan[join_pos - 2000 : join_pos]
        assert "BroadcastExchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_sequence_packing_window_is_partitioned(spark):
    plan = plan_of(get_query("pipeline_sequence_packing").fn(spark, SF_SMALL))
    # the Window node must hash-partition on the shard column, not
    # SinglePartition
    assert "SinglePartition" not in plan


def test_partitioned_read_prunes_partitions(spark):
    plan = plan_of(get_query("formats_partitioned_pruning").fn(spark, SF_SMALL))
    # the o_orderpriority IN (...) predicate must land in PartitionFilters
    # (directory pruning), not as a post-scan row filter
    assert "PartitionFilters: [" in plan
    assert "o_orderpriority" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]


def test_range_binned_join_is_equi(spark):
    plan = plan_of(get_query("join_range_binned").fn(spark, SF_SMALL))
    # binning must turn the interval join into a hash/sort-merge EQUI join;
    # a BroadcastNestedLoopJoin would be the O(n^2) cross-product shape
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pergroup_sample_windows_are_salted(spark):
    plan = plan_of(get_query("sample_pergroup_topk_hash").fn(spark, SF_SMALL))
    # two-phase top-k: phase 1's window must partition by (lang, salt),
    # never by the 5-cardinality lang alone as the only window
    assert plan.count("Window (") >= 2
    assert "salt" in plan


def test_decontamination_join_is_equi(spark):
    plan = plan_of(get_query("decontaminate_ngram_overlap").fn(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cc_star_round_has_no_join(spark):
    """One star round = groupBy + columnar emit; joins would re-introduce
    the shape the algorithm exists to avoid."""
    from n5_dask_spark.operators.graph import _LARGE_STAR, _star_round

    edges = spark.createDataFrame([(2, 1), (3, 1), (3, 2)], "u bigint, v bigint")
    plan = plan_of(_star_round(edges, _LARGE_STAR))
    assert "Join" not in plan
    assert plan.count("Exchange") >= 1  # the one groupBy shuffle


def test_fragment_shuffle_is_single_exchange(spark):
    """Rechunk and export_region share one shape: decode+fragment
    (mapInPandas, shuffle-free) -> ONE exchange on the target grid cell ->
    reassemble (applyInArrow). Exactly one Exchange means every byte of
    the volume moves once — a second exchange would double the shuffle
    volume of every regrid/export at scale."""
    import numpy as np

    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.transforms import rechunk
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    arr = (np.arange(24 * 24 * 24, dtype=np.uint8) % 200).reshape(24, 24, 24)
    src = temp_container()
    write_array(spark, arr, src, "a/s0", [8, 8, 8])
    blocks = decoded_blocks(spark, src, "a/s0")
    plan = plan_of(blocks.to_df())
    assert "Exchange" not in plan  # the block scan itself never shuffles
    re_blocks, _ = rechunk(blocks, read_attributes(src, "a/s0"), [5, 5, 5])
    re_plan = plan_of(re_blocks.to_df())
    # formatted plans list each node twice (tree + detail): count tree rows
    assert re_plan.count("+- Exchange") == 1
    assert "FlatMapGroupsInArrow" in re_plan  # reassembly rides THAT exchange


def test_widen_is_conditional(spark):
    """catalog.widen fans out a narrow scan but must be a no-op (no added
    Exchange) when the input is already at least as wide as the cluster —
    the property that keeps it shuffle-free at scale."""
    from pyspark.sql import functions as F

    from n5_dask_spark.catalog import load_tables, widen

    par = spark.sparkContext.defaultParallelism
    narrow = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    assert narrow.rdd.getNumPartitions() < par  # single local parquet split
    assert widen(narrow).rdd.getNumPartitions() == par
    wide = spark.range(0, 10_000, 1, par * 2).select(F.col("id").alias("doc_id"))
    assert widen(wide) is wide  # already wide: same plan object, no shuffle


def test_widen_connect_fallback_is_reachable():
    """On Spark Connect BOTH df.rdd and sparkSession.sparkContext raise, so
    every width/parallelism probe must sit inside a try — a fallback guarded
    by an access that itself throws is dead code (round-7 ADVICE). Simulated
    with stand-in objects because no Connect server runs in this container."""
    from n5_dask_spark.catalog import widen

    class _Conf:
        def get(self, key):
            assert key == "spark.sql.shuffle.partitions"
            return "8"

    class _Session:
        conf = _Conf()

        @property
        def sparkContext(self):
            raise NotImplementedError("sparkContext is not supported on Connect")

    class _DF:
        sparkSession = _Session()
        repartitioned_to = None

        @property
        def rdd(self):
            raise NotImplementedError("rdd is not supported on Connect")

        def inputFiles(self):
            return ["one-file.parquet"]

        def repartition(self, n):
            self.repartitioned_to = n
            return self

    df = _DF()
    assert widen(df) is df and df.repartitioned_to == 8  # narrow: fans out

    class _WideDF(_DF):
        def inputFiles(self):
            return [f"f{i}.parquet" for i in range(64)]

        def repartition(self, n):  # pragma: no cover - must not be called
            raise AssertionError("wide Connect scan must not be reshuffled")

    wide = _WideDF()
    assert widen(wide) is wide

    class _BlindDF(_DF):
        def inputFiles(self):
            raise NotImplementedError("inputFiles not available")

        repartition = _WideDF.repartition

    blind = _BlindDF()
    assert widen(blind) is blind  # no width signal: never a blind shuffle


def test_no_forced_broadcast_of_scaling_tables_in_source():
    """F.broadcast ignores autoBroadcastJoinThreshold, so a hint on an
    SF-scaling table (customer/supplier/part/orders/lineitem/embeddings/
    documents) is an executor OOM at 100 TB. Hints are only legal on
    constant-cardinality sides (region/nation, literals, 1-row/per-group
    aggregates, bounded query sets). The one documented exception is the
    embedding near-dup pair join (similarity.py): its non-equi condition
    needs BroadcastNestedLoop to avoid a both-sides CartesianProduct, and
    the LSH variant is the scale path."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "n5_dask_spark"
    scaling = r'F\.broadcast\((?:t\[)?"?(?:customer|supplier|part|orders|lineitem|documents|embeddings)"?\]?\)'
    offenders = [
        f"{p.relative_to(pkg.parent)}:{i}"
        for p in sorted((pkg / "operators").rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(scaling, line)
    ]
    assert offenders == [], f"forced broadcast of an SF-scaling table at {offenders}"


def test_write_job_moves_block_data_through_one_exchange(spark):
    """The fused sink contract end-to-end: a rechunk->write job's ONLY
    data-bearing exchange is the fragment shuffle. The sink mapInPandas
    rides that exchange's stage, and the one other exchange in the job is
    the SinglePartition reduction of per-task written-counts (rows of one
    long each — not block bytes). A second data exchange here would mean
    the old rebalancing repartition crept back in."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from n5_dask_spark.sources.n5.metadata import read_attributes
    from n5_dask_spark.sources.n5.reader import decoded_blocks
    from n5_dask_spark.sources.n5.transforms import rechunk
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    arr = (np.arange(24 * 24 * 24, dtype=np.uint8) % 200).reshape(24, 24, 24)
    src = temp_container()
    write_array(spark, arr, src, "a/s0", [8, 8, 8])
    blocks = decoded_blocks(spark, src, "a/s0")
    re_blocks, _ = rechunk(blocks, read_attributes(src, "a/s0"), [5, 5, 5])

    def sink(batches):
        n = 0
        for pdf in batches:
            n += len(pdf)
        yield pd.DataFrame({"written": [n]})

    plan = (
        re_blocks.to_df().mapInPandas(sink, schema="written long")
        .agg(F.sum("written"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("+- Exchange") == 2, plan
    assert "SinglePartition" in plan  # the count reduction, not block data
