"""Physical-plan assertions: correctness tests prove the WHAT, these
prove the HOW — the plan shapes that matter at 100 TB (broadcasts where
intended, filters/projections reaching the parquet scan, single-shuffle
as-of join)."""

import pyspark.sql.functions as F

from defi_features_data_pipeline_spark.plans import explain_str
from defi_features_data_pipeline_spark.queries.core import (
    q_asof_price,
    q_regional_revenue,
    q_stage_normalize,
)

SF = "/root/testdata/sf0.001"


def test_dim_joins_broadcast(spark):
    plan = explain_str(q_regional_revenue(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # nation/region dims + dim-bundle


def test_filter_pushdown_reaches_scan(spark):
    plan = explain_str(q_regional_revenue(spark, SF))
    assert "PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)" in plan


def test_projection_pruning(spark):
    """The stage-normalize projection must not read unused columns."""
    plan = explain_str(q_stage_normalize(spark, SF))
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines and all("props" not in l for l in scan_lines)


def test_asof_join_single_shuffle(spark):
    """The union-window as-of join must shuffle exactly once (vs the
    reference's two-pass range-join + re-join). Simple mode: formatted
    mode lists each node twice (tree + details)."""
    plan = explain_str(q_asof_price(spark, SF), mode="simple")
    assert plan.count("Exchange") == 1


def test_whole_stage_codegen_in_aggregate(spark):
    """Codegen stage markers ``*(n)`` only show in simple mode."""
    from defi_features_data_pipeline_spark.queries.core import q_pricing_summary

    df = q_pricing_summary(spark, SF)
    df.collect()  # finalize THIS df's AQE plan (a write would plan anew)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in plan  # WholeStageCodegen spans present


def test_broadcast_in_defi_enrichment(spark, tmp_path):
    """Token metadata + tokens-to-drop are broadcast in event enrichment."""
    from defi_features_data_pipeline_spark.pipelines.defi.analytics import enrich_events
    from defi_features_data_pipeline_spark.pipelines.defi.config import EVENTS

    events = spark.createDataFrame(
        [(1, 1000, "0xaa", 5.0, "a", "b", "h1", "2023", "1")],
        "block_number long, epoch_timestamp long, token_address string, quantity double,"
        "sender_address string, account_address string, transaction_hash string,"
        "year string, month string",
    )
    tm = spark.createDataFrame([("0xaa", 18)], "contract_address string, decimals long")
    ttd = spark.createDataFrame([("0xdead",)], "contract_address string")
    prices = spark.createDataFrame([("0xaa", 900, 1.5)], "address string, timestamp long, price double")
    out = enrich_events(events, tm, ttd, prices, EVENTS["borrow"])
    plan = explain_str(out)
    assert plan.count("BroadcastHashJoin") >= 2
    assert out.select("quantity_in_eth").first()[0] is not None


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """Stage-style year/month partitioned write → a filtered read must
    prune partitions at plan time (PartitionFilters on the scan)."""
    import pyspark.sql.functions as F

    out = str(tmp_path / "ptab")
    df = spark.createDataFrame(
        [(i, str(2020 + i % 3), str(1 + i % 12)) for i in range(100)],
        "id long, year string, month string",
    )
    df.write.mode("overwrite").partitionBy("year", "month").parquet(out)
    rd = spark.read.parquet(out).filter((F.col("year") == "2021") & (F.col("month") == "3"))
    plan = explain_str(rd)
    assert "PartitionFilters" in plan
    assert "isnotnull(year" in plan  # filter landed in partition filters
    # and the data actually pruned
    assert rd.count() == df.filter("year = '2021' and month = '3'").count()


def test_dynamic_partition_pruning(spark, tmp_path):
    """DPP: joining a partitioned fact to a FILTERED dim must prune the
    fact's partitions at RUNTIME from the dim-side broadcast — the scan
    carries a dynamicpruning subquery in its PartitionFilters. At 100 TB
    this is the difference between scanning 3 date partitions and all of
    them when the filter is on the dim (not the partition column
    itself)."""
    import pyspark.sql.functions as F

    fact_dir = str(tmp_path / "fact_part")
    fact = spark.createDataFrame(
        [(i, i % 10, float(i)) for i in range(2000)], "id long, dkey long, v double"
    )
    fact.write.mode("overwrite").partitionBy("dkey").parquet(fact_dir)
    dim = spark.createDataFrame(
        [(k, "keep" if k < 3 else "drop") for k in range(10)], "dkey long, flag string"
    )
    j = (
        spark.read.parquet(fact_dir)
        .join(dim.filter(F.col("flag") == "keep"), "dkey")
    )
    plan = explain_str(j)
    assert "dynamicpruning" in plan.lower()
    assert j.count() == 600  # 3 of 10 partitions survive


def _events_lake(spark, tmp_path) -> str:
    """A year/month-partitioned events lake built from the driver
    testdata — the layout SURVEY §1.2 prescribes for the raw layer. The
    session is pinned to UTC, so ``F.year``/``F.month`` read the UTC
    calendar."""
    from defi_features_data_pipeline_spark.queries.core import _events

    path = str(tmp_path / "events_lake")
    (
        _events(spark, SF)
        .withColumn("year", F.year("ts"))
        .withColumn("month", F.month("ts"))
        .write.mode("overwrite")
        .partitionBy("year", "month")
        .parquet(path)
    )
    return path


def test_events_lake_calendar_partition_pruning(spark, tmp_path):
    """The calendar rollup restricted to one month must prune at plan
    time: the events scan carries non-empty PartitionFilters and no
    data filter on ts."""
    lake = spark.read.parquet(_events_lake(spark, tmp_path))
    q = (
        lake.filter((F.col("year") == 2025) & (F.col("month") == 3))
        .groupBy("event_type")
        .count()
    )
    plan = explain_str(q)
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan and any("year" in l and "month" in l for l in scan)
    assert "PartitionFilters: []" not in plan
    # pruning is semantics-preserving
    from defi_features_data_pipeline_spark.queries.core import _events

    ev = _events(spark, SF)
    expect = (
        ev.filter((F.year("ts") == 2025) & (F.month("ts") == 3))
        .groupBy("event_type")
        .count()
    )
    assert sorted(map(tuple, q.collect())) == sorted(map(tuple, expect.collect()))


def test_events_lake_dynamic_partition_pruning(spark, tmp_path):
    """DPP on the events lake: joining to a FILTERED month dimension
    (filter on a dim attribute, not the partition column) must inject a
    dynamicpruning subquery into the fact scan's PartitionFilters."""
    lake = spark.read.parquet(_events_lake(spark, tmp_path))
    months = spark.createDataFrame(
        [(y, m, "Q1" if m <= 3 else "rest") for y in (2024, 2025, 2026) for m in range(1, 13)],
        "year int, month int, quarter string",
    )
    j = lake.join(months.filter(F.col("quarter") == "Q1"), ["year", "month"])
    plan = explain_str(j)
    assert "dynamicpruning" in plan.lower()
    # pruned join result equals the plain month-filter
    expect = lake.filter(F.col("month") <= 3).count()
    assert j.count() == expect


def test_runtime_bloom_filter_injected(spark):
    """Catalyst's InjectRuntimeFilter: a shuffle join whose creation
    side carries a selective filter gets a bloom `might_contain` probe
    pushed into the application side — the optimizer-automated twin of
    the explicit `bloom_prune_join` operator (which exists for the cases
    the rule skips: broadcast-ineligible probes, pre-shuffled reuse, or
    prefilters that must survive across jobs). Thresholds are lowered
    only because the test input is tiny; at 100 TB the defaults fire on
    exactly this shape."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(200_000).select(
            F.col("id").alias("k"), (F.col("id") % 1000).alias("v")
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("flag")
        )
        j = fact.join(dim.filter(F.col("flag") == 0), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert j.count() == 143
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join: a shuffle join with one hot key gets its oversized
    partition SPLIT at runtime (SortMergeJoin ... skew=true in the final
    adaptive plan) — the optimizer-automated complement to the manual
    `salted_skew_join` operator (which exists for aggregations and for
    joins AQE can't rewrite, e.g. under required distributions).
    Thresholds are lowered only because the test input is tiny."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # the session leaves RUNTIME broadcast conversion on (actual
        # sizes are trustworthy); here it must be off too or AQE turns
        # the join into a BHJ before the skew splitter can see it
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 100)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("v"),
        )
        dim = spark.range(100).select(
            F.col("id").alias("k"), F.col("id").alias("attr")
        )
        j = fact.join(dim, "k")
        # materialize THIS Dataset (count() would build a different
        # QueryExecution and leave j's adaptive plan unfinalized)
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sole_late_supplier_single_fact_exchange(spark, sf_dir):
    """Q21-shape decorrelation plan contract: the orderkey shuffle paid
    by the lineitem⋈orders sort-merge join must be the ONLY fact
    exchange — the (orderkey, suppkey) pair aggregate and both
    order-level window aggregates run on the join's output
    partitioning with no re-exchange and no recomputation of the pair
    subtree. Broadcast is disabled so the fact-fact plan (the 100 TB
    shape) is what gets asserted."""
    from defi_features_data_pipeline_spark.queries import ALL_QUERIES

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = ALL_QUERIES["sole_late_supplier"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    hash_exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    # lineitem(ok) + orders(ok) + the tiny final s_name rollup — and
    # nothing else: no (ok, sk) re-exchange, no window re-exchange
    assert len(hash_exchanges) == 3, hash_exchanges
    assert sum("l_suppkey" in ln for ln in hash_exchanges) == 0


def test_forecast_revenue_full_pushdown(spark, sf_dir):
    """Q6-shape plan contract: all three predicates and the 4-column
    projection reach the parquet scan — the property that makes Q6
    ~free at 100 TB (row-group min/max skipping on a date-sorted
    lake)."""
    from defi_features_data_pipeline_spark.queries.tpch_star import (
        q_forecast_revenue,
    )

    plan = explain_str(q_forecast_revenue(spark, SF))
    scan = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert scan, plan
    pushed = scan[0]
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in pushed, pushed
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and all("l_orderkey" not in l and "l_tax" not in l for l in read)


def test_disjunctive_band_hoisted_prefilters(spark, sf_dir):
    """Q19-shape plan contract: the manually hoisted table-local
    implications of the cross-table OR reach both scans (brand whitelist
    + size cap on part; quantity band on lineitem), and the part side
    broadcasts."""
    from defi_features_data_pipeline_spark.queries.tpch_star import (
        q_disjunctive_band_revenue,
    )

    plan = explain_str(q_disjunctive_band_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    pushed = "\n".join(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "In(p_brand" in pushed, pushed
    assert "LessThanOrEqual(p_size,15)" in pushed
    assert "GreaterThanOrEqual(l_quantity,1.0)" in pushed
    assert "LessThanOrEqual(l_quantity,30.0)" in pushed


def test_regional_supplier_volume_two_fact_exchanges(spark, sf_dir):
    """Q5-shape plan contract: exactly two fact exchanges (orderkey for
    lineitem⋈orders, custkey for the customer join) with every
    dimension chain broadcast — the c_nationkey = s_nationkey
    cross-dimension equality must ride the supplier broadcast join, not
    materialize as a post-join filter over a wider join. The count
    below holds with estimate-based broadcast on (64 MB); under the
    session policy (-1) orders and customer are shuffled instead."""
    from defi_features_data_pipeline_spark.queries.tpch_star import (
        q_regional_supplier_volume,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        df = q_regional_supplier_volume(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("BroadcastHashJoin") >= 1
    hash_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "REQUIRED" not in ln
    ]
    # orderkey + custkey + the ≤25-row final n_name rollup; never a
    # third fact-wide exchange
    assert len(hash_exchanges) <= 3, hash_exchanges


def test_ewma_single_aggregate_no_join(spark, sf_dir):
    """The decay feature is ONE map-side-combinable aggregate over the
    scan: no join, no window, exactly one exchange (user_id)."""
    from defi_features_data_pipeline_spark.queries.featureops import (
        q_ewma_user_value,
    )

    plan = explain_str(q_ewma_user_value(spark, sf_dir), mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_lateral_decorrelated_to_window_group_limit(spark, sf_dir):
    """The LATERAL per-customer top-2 must decorrelate into
    WindowGroupLimit + ONE equi-join — never a per-row re-execution or
    a nested loop."""
    from defi_features_data_pipeline_spark.queries import ALL_QUERIES

    plan = (
        ALL_QUERIES["lateral_top_orders"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cbo_table_stats_feed_the_optimizer(spark, tmp_path):
    """ANALYZE TABLE COMPUTE STATISTICS must surface a row count in the
    optimizer's stats (the input the CBO join-reorder/broadcast
    decisions consume). Without ANALYZE only size-in-bytes estimates
    exist; after it, the logical plan carries the exact row count."""
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        spark.sql("DROP TABLE IF EXISTS cbo_probe")
        spark.range(1234).write.saveAsTable("cbo_probe")
        spark.sql("ANALYZE TABLE cbo_probe COMPUTE STATISTICS")
        stats = (
            spark.table("cbo_probe")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
        )
        assert stats.rowCount().isDefined()
        assert stats.rowCount().get() == 1234
    finally:
        spark.sql("DROP TABLE IF EXISTS cbo_probe")
        spark.conf.set("spark.sql.cbo.enabled", "false")


def test_join_hints_honored(spark, sf_dir):
    """The three join-strategy hints must each produce their strategy —
    the manual override surface when Catalyst's size estimates are
    wrong (a misestimated dim at 100 TB turns a broadcast into an OOM,
    or a shuffle into a wasted exchange)."""
    from defi_features_data_pipeline_spark.queries.core import _t

    _t(spark, sf_dir, "orders").createOrReplaceTempView("h_orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("h_customer")
    cases = {
        "BROADCAST(c)": "BroadcastHashJoin",
        "MERGE(c)": "SortMergeJoin",
        "SHUFFLE_HASH(c)": "ShuffledHashJoin",
    }
    for hint, node in cases.items():
        plan = (
            spark.sql(
                f"SELECT /*+ {hint} */ o_orderkey FROM h_orders o "
                "JOIN h_customer c ON o.o_custkey = c.c_custkey"
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert node in plan, f"hint {hint}: expected {node}\n{plan[:800]}"


def test_cluster_by_hash_partitions_and_sorts(spark, sf_dir):
    """SQL CLUSTER BY = DISTRIBUTE BY + SORT BY: one hash exchange on
    the key and a within-partition sort — the pre-shuffle staging shape
    for grouped sequential consumers."""
    from defi_features_data_pipeline_spark.queries.core import _events

    _events(spark, sf_dir).createOrReplaceTempView("cb_events")
    plan = (
        spark.sql("SELECT user_id, value FROM cb_events CLUSTER BY user_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(user_id" in plan
    assert "Sort [user_id" in plan
    assert "ENSURE_REQUIREMENTS" not in plan.split("Exchange")[1].split("\n")[0]


def test_cache_table_serves_from_memory(spark, sf_dir):
    """CACHE TABLE must turn subsequent scans into InMemoryTableScan —
    the interactive-reuse surface (a dashboard hitting one staged frame
    many times must not re-read the lake)."""
    from defi_features_data_pipeline_spark.queries.core import _t

    _t(spark, sf_dir, "nation").createOrReplaceTempView("cache_probe")
    spark.sql("CACHE TABLE cache_probe")
    try:
        plan = (
            spark.sql("SELECT n_nationkey FROM cache_probe")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Scan In-memory table" in plan or "InMemoryTableScan" in plan
    finally:
        spark.sql("UNCACHE TABLE cache_probe")


def test_winnow_cmb_single_evaluation(spark):
    """r12 ADVICE (learnops.py): the map-only winnowing rewrite
    references ``__cmb`` three times inside the selection array
    expression, and ``__cmb`` is itself an O(n·k) transform — whether
    it is evaluated once hangs on CollapseProject's isCheap guard,
    which is fragile across Spark versions. Pin the single-evaluation
    assumption: the md5 hash subtree (the expensive core of __cmb)
    must appear exactly once in the physical plan. Only the physical
    plan section is counted, so explain formats that repeat expressions
    in other sections cannot fail the pin. The winnowed streaming
    ledger gate runs its fingerprints through this path."""
    from defi_features_data_pipeline_spark.queries.learnops import (
        _winnow_selected,
    )

    plan = explain_str(_winnow_selected(spark, SF), "extended")
    physical = plan.split("== Physical Plan ==", 1)[1]
    assert physical.count("md5") == 1
