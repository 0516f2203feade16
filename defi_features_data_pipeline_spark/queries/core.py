"""Core relational query suite — SURVEY §2 operator inventory expressed
over the driver testdata (TPC-H-ish tables + events), each with a
DuckDB oracle producing identical column names and values.

Determinism contract (applies to every pair here):
- Money/volume SUMs are computed as exact DECIMAL(38,10) sums and cast
  back to DOUBLE — bit-identical regardless of partitioning/summation
  order, so Spark and DuckDB hash-match without tolerance. On the
  DuckDB side the decimal→double cast goes through VARCHAR because
  DuckDB's direct decimal→double conversion is not correctly rounded
  (1-ulp drift vs Spark's BigDecimal.doubleValue).
- AVGs are decimal-sum / count (again bit-deterministic), never the
  engines' native double-streaming avg.
- Timestamps are projected as epoch-second BIGINTs, truncating
  sub-second parts the way both engines' integer division does.
- Every computed column is aliased identically in both dialects.

Reference-operator mapping is noted per query (J/A/P/U/O ids from
SURVEY.md §2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import (
    asof_join,
    disjunctive_join,
    latest_per_group,
    top_k_per_group,
    union_distinct,
)

DEC = "decimal(38,10)"
# fixed evaluation timestamp (2026-01-01 UTC) — injected "now" per SURVEY §4.3
FIXED_NOW = 1_767_225_600
NEVER = 999_999_999


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver runs these queries in ITS OWN session; calendar
    # functions (year(), date-string casts) are session-timezone
    # dependent while DuckDB is UTC-naive — pin UTC here (runtime conf).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from ..sources.splits import multisplit_path

    return spark.read.parquet(
        multisplit_path(spark, os.path.join(sf_dir, f"{name}.parquet"))
    )


def _utc_ts(df: DataFrame) -> DataFrame:
    """``df`` with its ``ts`` column (if any) as a session-UTC TIMESTAMP,
    whatever physical type the file holds (``df`` read with
    ``spark.sql.legacy.parquet.nanosAsLong`` set):

    - parquet TIMESTAMP(NANOS): Spark's reader rejects it by default —
      read as nanosecond longs (legacy conf, runtime-settable) and
      rebuild a microsecond timestamp (same truncation DuckDB applies);
    - tz-naive TIMESTAMP(MICROS): Spark 4 infers TIMESTAMP_NTZ, which
      forbids a direct BIGINT cast — re-type as TIMESTAMP. The session
      timezone is pinned UTC in ``_t``, so the wall-clock is reread as
      the same instant DuckDB's UTC-naive ``epoch()`` computes.

    Downstream queries can therefore always ``cast('long')``."""
    ts = dict(df.dtypes).get("ts")
    if ts == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table loader, ``ts`` normalized by ``_utc_ts``."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _utc_ts(_t(spark, sf_dir, "events"))


def _dsum(c) -> F.Column:
    """Order-independent exact sum of a double column (see module doc)."""
    return F.sum(c.cast(DEC)).cast("double")


def _davg(c) -> F.Column:
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def _dsum_reagg(c) -> F.Column:
    """Sum of ALREADY-COMPUTED double aggregates. Scale 6, not 10: a
    computed double carries ~1e-10 representation error, which sits
    exactly on the scale-10 rounding boundary — Spark (shortest-repr
    BigDecimal) and DuckDB (full binary expansion) would round it
    differently. At scale 6 both land on the same decimal."""
    return F.sum(c.cast("decimal(38,6)")).cast("double")


# DuckDB decimal->double needs the VARCHAR hop (module doc); shared by
# every oracle that renders a decimal column as a double.
D2D_SQL = "CAST(CAST({x} AS VARCHAR) AS DOUBLE)"


def dsum_sql(expr: str) -> str:
    """DuckDB rendering of ``_dsum`` (varchar hop: see module doc)."""
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"


def dsum_reagg_sql(expr: str) -> str:
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)"


def davg_sql(expr: str) -> str:
    return f"{dsum_sql(expr)} / COUNT({expr})"


def epoch_sql(col: str = "ts") -> str:
    """DuckDB rendering of Spark's timestamp→long cast (truncation)."""
    return f"CAST(epoch_us({col}) // 1000000 AS BIGINT)"


# ---------------------------------------------------------------------------
# Scans / projections / filters
# ---------------------------------------------------------------------------


def q_stage_normalize(spark, sf_dir):
    """P1: stage-layer normalization — enumerate/rename/cast/LOWER
    (ref `stage_tranformation_queries.py:3-18`). Filter + projection
    push down to the parquet scan."""
    ev = _events(spark, sf_dir)
    return ev.filter(F.col("value") > 0).select(
        F.col("event_id"),
        F.lower(F.col("event_type")).alias("event_type_norm"),
        F.col("ts").cast("long").alias("epoch_ts"),
        F.col("user_id"),
        F.col("value").cast("double").alias("value_d"),
    )


ORACLE_STAGE_NORMALIZE = f"""
SELECT event_id,
       lower(event_type) AS event_type_norm,
       {epoch_sql()} AS epoch_ts,
       user_id,
       CAST(value AS DOUBLE) AS value_d
FROM events WHERE value > 0
"""


def q_watermark_filter(spark, sf_dir):
    """P3: high-watermark incremental predicate (ref
    `stage_tranformation_queries.py:20`): rows strictly newer than the
    max 'purchase' timestamp are the next increment."""
    ev = _events(spark, sf_dir)
    wm = ev.filter(F.col("event_type") == "purchase").agg(
        F.max(F.col("ts").cast("long")).alias("wm")
    )
    # scalar subquery, not a 1-row broadcast join: Catalyst runs the
    # aggregate once and embeds the result as a literal in the filter —
    # no BroadcastNestedLoopJoin node in the main plan at all
    return (
        ev.filter(F.col("ts").cast("long") > wm.scalar())
        .select(
            "event_id",
            F.col("ts").cast("long").alias("epoch_ts"),
            "event_type",
            F.col("value").cast("double").alias("value_d"),
        )
    )


ORACLE_WATERMARK_FILTER = f"""
SELECT event_id,
       {epoch_sql()} AS epoch_ts,
       event_type,
       CAST(value AS DOUBLE) AS value_d
FROM events
WHERE {epoch_sql()} >
      (SELECT max({epoch_sql()}) FROM events WHERE event_type = 'purchase')
"""


def q_scalar_ladder(spark, sf_dir):
    """§2.8 scalar-function surface: LOWER/SUBSTR/ABS/POWER/CASE/
    COALESCE/NULLIF/GREATEST/LEAST (all per-row, bit-deterministic)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower(F.col("p_name")).alias("name_lower"),
        F.substring(F.col("p_type"), 3, 2).alias("type_sub"),
        F.abs(F.col("p_retailprice") - 1000.0).alias("price_abs_diff"),
        F.pow(F.lit(10.0), (F.col("p_size") % 3).cast("double")).alias("size_pow"),
        F.when(F.col("p_size") > 25, "big")
        .when(F.col("p_size") > 10, "mid")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif(F.col("p_brand"), F.lit("Brand#13")), F.lit("other")).alias(
            "brand_or_other"
        ),
        F.greatest(F.col("p_size").cast("double"), F.col("p_retailprice") / 100.0).alias(
            "greatest_v"
        ),
        F.least(F.col("p_size").cast("double"), F.col("p_retailprice") / 100.0).alias(
            "least_v"
        ),
    )


ORACLE_SCALAR_LADDER = """
SELECT p_partkey,
       lower(p_name) AS name_lower,
       substr(p_type, 3, 2) AS type_sub,
       abs(p_retailprice - 1000.0) AS price_abs_diff,
       power(10.0, CAST(p_size % 3 AS DOUBLE)) AS size_pow,
       CASE WHEN p_size > 25 THEN 'big' WHEN p_size > 10 THEN 'mid' ELSE 'small' END AS size_class,
       coalesce(nullif(p_brand, 'Brand#13'), 'other') AS brand_or_other,
       greatest(CAST(p_size AS DOUBLE), p_retailprice / 100.0) AS greatest_v,
       least(CAST(p_size AS DOUBLE), p_retailprice / 100.0) AS least_v
FROM part
"""


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    """A1: TPC-H Q1-shaped hash aggregate — the reference's per-wallet
    sum/avg/count-distinct shape (`view_defi_borrow_features.sql:3-9`)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _davg(F.col("l_quantity")).alias("avg_qty"),
            _davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


ORACLE_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql("l_quantity")} AS sum_qty,
       {dsum_sql("l_extendedprice")} AS sum_base_price,
       {dsum_sql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       {davg_sql("l_quantity")} AS avg_qty,
       {davg_sql("l_discount")} AS avg_disc,
       COUNT(*) AS count_order,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_conditional_avg(spark, sf_dir):
    """A5: conditional aggregate with the reference's COUNT(*)=1 wrapper
    (`view_defi_historical_health_and_risk_factor.sql:479`)."""
    ev = _events(spark, sf_dir)
    nonzero = F.when(F.col("value") != 0, F.col("value"))
    return ev.groupBy("user_id").agg(
        F.when(F.count(F.lit(1)) == 1, _davg(F.col("value")))
        .otherwise(_davg(nonzero))
        .alias("avg_value_cond"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_CONDITIONAL_AVG = f"""
SELECT user_id,
       CASE WHEN COUNT(*) = 1
            THEN {davg_sql("value")}
            ELSE {davg_sql("CASE WHEN value <> 0 THEN value END")}
       END AS avg_value_cond,
       COUNT(*) AS n_events
FROM events
GROUP BY user_id
"""


def q_time_since(spark, sf_dir):
    """A2 + sentinel: now - MIN(ts) / now - MAX(ts) with the 999999999
    never-happened sentinel (`view_defi_liquidation_features.sql:17`,
    `defi_features_calculation.sql:162-172`). 'now' is injected for
    determinism (SURVEY §4.3)."""
    ev = _events(spark, sf_dir)
    spine = ev.select("user_id").distinct()
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            (F.lit(FIXED_NOW) - F.max(F.col("ts").cast("long"))).alias("t_last"),
            (F.lit(FIXED_NOW) - F.min(F.col("ts").cast("long"))).alias("t_first"),
        )
    )
    return spine.join(purchases, "user_id", "left").select(
        "user_id",
        F.coalesce(F.col("t_first"), F.lit(NEVER)).cast("long").alias(
            "time_since_first_purchase"
        ),
        F.coalesce(F.col("t_last"), F.lit(NEVER)).cast("long").alias(
            "time_since_last_purchase"
        ),
    )


ORACLE_TIME_SINCE = f"""
WITH spine AS (SELECT DISTINCT user_id FROM events),
p AS (
  SELECT user_id,
         {FIXED_NOW} - max({epoch_sql()}) AS t_last,
         {FIXED_NOW} - min({epoch_sql()}) AS t_first
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT spine.user_id,
       CAST(coalesce(t_first, {NEVER}) AS BIGINT) AS time_since_first_purchase,
       CAST(coalesce(t_last, {NEVER}) AS BIGINT) AS time_since_last_purchase
FROM spine LEFT JOIN p ON spine.user_id = p.user_id
"""


def q_credit_mix(spark, sf_dir):
    """A3 + GREATEST ladder: COUNT(DISTINCT categorical) per entity, 4
    conditional variants combined with GREATEST
    (`view_defi_credit_mix_features.sql:3-69`)."""
    ev = _events(spark, sf_dir)
    cd = lambda cond: F.countDistinct(F.when(cond, F.col("event_type")))  # noqa: E731
    out = ev.groupBy("user_id").agg(
        cd(F.col("value") > 50).alias("mix_high"),
        cd(F.col("value") <= 50).alias("mix_low"),
        cd(F.col("event_id") % 2 == 0).alias("mix_even"),
        cd(F.col("event_id") % 2 == 1).alias("mix_odd"),
    )
    return out.select(
        "user_id",
        "mix_high",
        "mix_low",
        F.greatest("mix_high", "mix_low", "mix_even", "mix_odd").alias("mix_greatest"),
    )


ORACLE_CREDIT_MIX = """
WITH m AS (
  SELECT user_id,
         COUNT(DISTINCT CASE WHEN value > 50 THEN event_type END) AS mix_high,
         COUNT(DISTINCT CASE WHEN value <= 50 THEN event_type END) AS mix_low,
         COUNT(DISTINCT CASE WHEN event_id % 2 = 0 THEN event_type END) AS mix_even,
         COUNT(DISTINCT CASE WHEN event_id % 2 = 1 THEN event_type END) AS mix_odd
  FROM events GROUP BY user_id
)
SELECT user_id, mix_high, mix_low,
       greatest(mix_high, mix_low, mix_even, mix_odd) AS mix_greatest
FROM m
"""


def q_daily_first_event(spark, sf_dir):
    """A9: calendar rollup — first event id per (y, m, d)
    (ref daily-first-block `src/pipelines/utils.py:35-44`)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        F.year("ts").alias("y"), F.month("ts").alias("m"), F.dayofmonth("ts").alias("d")
    ).agg(F.min("event_id").alias("first_event_id"))


ORACLE_DAILY_FIRST_EVENT = """
SELECT CAST(EXTRACT(year FROM ts) AS INTEGER) AS y,
       CAST(EXTRACT(month FROM ts) AS INTEGER) AS m,
       CAST(EXTRACT(day FROM ts) AS INTEGER) AS d,
       min(event_id) AS first_event_id
FROM events GROUP BY 1, 2, 3
"""


def q_dq_constraints(spark, sf_dir):
    """A8/U3: the reference's data-quality constraint query shape —
    ratio scalar aggregates UNION ALLed into one result
    (`data_quality/defi_features_constraints_query.sql:1-51`)."""
    li = _t(spark, sf_dir, "lineitem")

    def ratio_row(name: str, cond) -> DataFrame:
        return li.agg(
            F.lit(name).alias("constraint_name"),
            (
                F.count(F.when(cond, F.lit(1))).cast("double")
                / F.count(F.lit(1)).cast("double")
                * 100.0
            ).alias("pct"),
            (F.count(F.when(cond, F.lit(1))) == F.count(F.lit(1))).alias("is_fail"),
        )

    r1 = ratio_row("qty_zero", F.col("l_quantity") == 0)
    r2 = ratio_row("discount_full", F.col("l_discount") >= 1.0)
    r3 = ratio_row("returned", F.col("l_returnflag") == "R")
    return r1.unionByName(r2).unionByName(r3)


ORACLE_DQ_CONSTRAINTS = """
SELECT 'qty_zero' AS constraint_name,
       CAST(COUNT(CASE WHEN l_quantity = 0 THEN 1 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 100.0 AS pct,
       COUNT(CASE WHEN l_quantity = 0 THEN 1 END) = COUNT(*) AS is_fail
FROM lineitem
UNION ALL
SELECT 'discount_full',
       CAST(COUNT(CASE WHEN l_discount >= 1.0 THEN 1 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 100.0,
       COUNT(CASE WHEN l_discount >= 1.0 THEN 1 END) = COUNT(*)
FROM lineitem
UNION ALL
SELECT 'returned',
       CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 100.0,
       COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) = COUNT(*)
FROM lineitem
"""


def q_agg_of_agg(spark, sf_dir):
    """A6: aggregate-of-aggregates — per (cust, status) totals re-grouped
    per cust (`defi_features_calculation.sql:87-95`)."""
    o = _t(spark, sf_dir, "orders")
    per_status = o.groupBy("o_custkey", "o_orderstatus").agg(
        _dsum(F.col("o_totalprice")).alias("status_total"),
        F.count(F.lit(1)).alias("status_n"),
    )
    return per_status.groupBy("o_custkey").agg(
        _dsum_reagg(F.col("status_total")).alias("total_spend"),
        F.max("status_total").alias("max_status_total"),
        F.min("status_n").alias("min_status_n"),
    )


ORACLE_AGG_OF_AGG = f"""
WITH per_status AS (
  SELECT o_custkey, o_orderstatus,
         {dsum_sql("o_totalprice")} AS status_total,
         COUNT(*) AS status_n
  FROM orders GROUP BY o_custkey, o_orderstatus
)
SELECT o_custkey,
       {dsum_reagg_sql("status_total")} AS total_spend,
       MAX(status_total) AS max_status_total,
       MIN(status_n) AS min_status_n
FROM per_status GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


def q_multikey_join(spark, sf_dir):
    """J1: multi-key inner equi-join (positions x market data analog:
    `historical_market_data_and_account_positions.py:72-73`)."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_orderkey", "l_returnflag").agg(
        _dsum(F.col("l_quantity")).alias("grp_qty")
    )
    joined = li.join(agg, ["l_orderkey", "l_returnflag"], "inner")
    return joined.groupBy("l_returnflag").agg(
        _dsum(F.col("grp_qty")).alias("sum_grp_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_MULTIKEY_JOIN = f"""
WITH agg AS (
  SELECT l_orderkey, l_returnflag,
         {dsum_sql("l_quantity")} AS grp_qty
  FROM lineitem GROUP BY l_orderkey, l_returnflag
)
SELECT li.l_returnflag,
       {dsum_sql("grp_qty")} AS sum_grp_qty,
       COUNT(*) AS n_rows
FROM lineitem li JOIN agg ON li.l_orderkey = agg.l_orderkey AND li.l_returnflag = agg.l_returnflag
GROUP BY li.l_returnflag
"""


def q_regional_revenue(spark, sf_dir):
    """J2/J4/J6: TPC-H Q5-shaped star join — fact table joined through
    broadcastable dims (the reference's numeraire/dim joins, J2). The
    dim chain (customer→nation→region) is broadcast; only the
    fact-side join shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(_dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


ORACLE_REGIONAL_REVENUE = f"""
SELECT n_name,
       {dsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def q_anti_join(spark, sf_dir):
    """J5: left anti join (tokens-to-drop analog, `transformations.sql:42-43,51`)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


ORACLE_ANTI_JOIN = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_semi_join(spark, sf_dir):
    """Left semi join (EXISTS) — completes the join-type surface."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_acctbal"
    )


ORACLE_SEMI_JOIN = """
SELECT c_custkey, c_acctbal
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
"""


def q_full_outer(spark, sf_dir):
    """J7: FULL OUTER merge of two per-key aggregates with COALESCE key
    resurrection (`view_defi_current_health_factor_features.sql:164-177`)."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    ca = c.groupBy(F.col("c_nationkey").alias("c_nk")).agg(
        _dsum(F.col("c_acctbal")).alias("cust_bal")
    )
    sa = s.groupBy(F.col("s_nationkey").alias("s_nk")).agg(
        _dsum(F.col("s_acctbal")).alias("supp_bal")
    )
    return ca.join(sa, ca.c_nk == sa.s_nk, "full_outer").select(
        F.coalesce(F.col("c_nk"), F.col("s_nk")).alias("nationkey"),
        F.coalesce(F.col("cust_bal"), F.lit(0.0)).alias("cust_bal"),
        F.coalesce(F.col("supp_bal"), F.lit(0.0)).alias("supp_bal"),
    )


ORACLE_FULL_OUTER = f"""
WITH ca AS (
  SELECT c_nationkey AS nk, {dsum_sql("c_acctbal")} AS cust_bal
  FROM customer GROUP BY c_nationkey
),
sa AS (
  SELECT s_nationkey AS nk, {dsum_sql("s_acctbal")} AS supp_bal
  FROM supplier GROUP BY s_nationkey
)
SELECT coalesce(ca.nk, sa.nk) AS nationkey,
       coalesce(cust_bal, 0.0) AS cust_bal,
       coalesce(supp_bal, 0.0) AS supp_bal
FROM ca FULL OUTER JOIN sa ON ca.nk = sa.nk
"""


def q_disjunctive_join(spark, sf_dir):
    """J9: OR-predicate join via union-of-equi-joins rewrite
    (`view_defi_historical_count_above_threshold.sql:66-67`). The
    rewrite keeps the join hash-based instead of nested-loop."""
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = disjunctive_join(s, n, [("s_nationkey", "n_nationkey"), ("s_suppkey", "n_nationkey")])
    return j.groupBy("s_suppkey").agg(F.countDistinct("n_name").alias("n_matched"))


ORACLE_DISJUNCTIVE_JOIN = """
SELECT s_suppkey, COUNT(DISTINCT n_name) AS n_matched
FROM supplier JOIN nation
  ON s_nationkey = n_nationkey OR s_suppkey = n_nationkey
GROUP BY s_suppkey
"""


def q_asof_price(spark, sf_dir):
    """J3/A7: backward as-of join with 7-day tolerance — each 'view'
    event priced with the user's latest prior 'purchase' value
    (`transformations.sql:2-13,44-48`). Implemented with the
    union-window asof operator (one shuffle); ties resolved by max
    value (deterministic, SURVEY §7.3.2)."""
    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("ets")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("long").alias("pts"), F.col("value").alias("pval")
    )
    out = asof_join(
        views,
        purchases,
        on="user_id",
        left_time="ets",
        right_time="pts",
        tolerance=7 * 86400,
        right_cols=["pval"],
        tie_break=F.col("pval"),
    )
    return out.select(
        "event_id", "user_id", "ets", F.col("pval").alias("asof_purchase_value")
    )


def q_asof_price_salted(spark, sf_dir):
    """J3 hot-key variant: identical semantics to ``asof_price`` with
    ``salt_buckets=8`` — the window splits into salted sub-partitions
    so one dominant user/token cannot concentrate a task (AQE cannot
    split a window partition). Same oracle as asof_price: salting must
    be invisible in the results."""
    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("ets")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("long").alias("pts"), F.col("value").alias("pval")
    )
    out = asof_join(
        views,
        purchases,
        on="user_id",
        left_time="ets",
        right_time="pts",
        tolerance=7 * 86400,
        right_cols=["pval"],
        tie_break=F.col("pval"),
        salt_buckets=8,
    )
    return out.select(
        "event_id", "user_id", "ets", F.col("pval").alias("asof_purchase_value")
    )


ORACLE_ASOF_PRICE = f"""
WITH v AS (
  SELECT event_id, user_id, {epoch_sql()} AS ets
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, {epoch_sql()} AS pts, value AS pval
  FROM events WHERE event_type = 'purchase'
)
SELECT v.event_id, v.user_id, v.ets,
       (SELECT p.pval FROM p
        WHERE p.user_id = v.user_id AND p.pts <= v.ets AND v.ets - p.pts <= 604800
        ORDER BY p.pts DESC, p.pval DESC LIMIT 1) AS asof_purchase_value
FROM v
"""


def q_asof_forward(spark, sf_dir):
    """J3 forward variant: each 'view' event matched to the EARLIEST
    'purchase' at-or-after it within 1 day — conversion attribution,
    the mirror of the reference's backward pricing. Same union-window
    plan on negated time (one shuffle)."""
    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("ets")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("long").alias("pts"), F.col("value").alias("pval")
    )
    out = asof_join(
        views,
        purchases,
        on="user_id",
        left_time="ets",
        right_time="pts",
        tolerance=86400,
        right_cols=["pval"],
        tie_break=F.col("pval"),
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", "ets", F.col("pval").alias("next_purchase_value")
    )


# forward ties: among equal pts the LAST in (pts DESC on negated time,
# pval) order wins, i.e. max pval — mirrored in ORDER BY pts ASC,
# pval DESC LIMIT 1.
ORACLE_ASOF_FORWARD = f"""
WITH v AS (
  SELECT event_id, user_id, {epoch_sql()} AS ets
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, {epoch_sql()} AS pts, value AS pval
  FROM events WHERE event_type = 'purchase'
)
SELECT v.event_id, v.user_id, v.ets,
       (SELECT p.pval FROM p
        WHERE p.user_id = v.user_id AND p.pts >= v.ets AND p.pts - v.ets <= 86400
        ORDER BY p.pts ASC, p.pval DESC LIMIT 1) AS next_purchase_value
FROM v
"""


# ---------------------------------------------------------------------------
# Windows / top-k / sorts
# ---------------------------------------------------------------------------


def q_latest_event_per_user(spark, sf_dir):
    """J10 rewrite: latest row per group via window row_number
    (`view_defi_current_health_factor_features.sql:3-22` does it as
    MAX + inequality self-join; one shuffle here instead of two)."""
    ev = _events(spark, sf_dir)
    latest = latest_per_group(
        ev, "user_id", "ts", tie_break=[F.col("event_id").desc()]
    )
    return latest.select(
        "user_id",
        F.col("ts").cast("long").alias("epoch_ts"),
        "event_id",
        "event_type",
    )


ORACLE_LATEST_EVENT_PER_USER = f"""
SELECT user_id, {epoch_sql()} AS epoch_ts, event_id, event_type
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_top3_orders_per_customer(spark, sf_dir):
    """O-family: top-k per group with deterministic tiebreak."""
    o = _t(spark, sf_dir, "orders")
    top = top_k_per_group(
        o, "o_custkey", [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 3
    )
    return top.select("o_custkey", "o_orderkey", "o_totalprice")


ORACLE_TOP3_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
"""


def q_top100_orders(spark, sf_dir):
    """O1: global ORDER BY + LIMIT (deterministic tiebreak so the
    selected set is unique)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


ORACLE_TOP100_ORDERS = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
"""


# ---------------------------------------------------------------------------
# Set operations / spine / feature assembly
# ---------------------------------------------------------------------------


def q_union_distinct_spine(spark, sf_dir):
    """U1: multi-source UNION + DISTINCT spine
    (`view_distinct_defi_events_addresses.sql:2-33`)."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").cast("long"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").cast("long"))
    e = _events(spark, sf_dir).select(F.col("user_id").cast("long"))
    return union_distinct([o, c, e], out_col="entity_id")


ORACLE_UNION_DISTINCT_SPINE = """
SELECT DISTINCT entity_id FROM (
  SELECT CAST(o_custkey AS BIGINT) AS entity_id FROM orders
  UNION ALL SELECT CAST(c_custkey AS BIGINT) FROM customer
  UNION ALL SELECT CAST(user_id AS BIGINT) FROM events
)
"""


def q_distinct_projection(spark, sf_dir):
    """A10: SELECT DISTINCT as dedup (`defi_features_calculation.sql:69-74`)."""
    o = _t(spark, sf_dir, "orders")
    return o.select("o_custkey", "o_orderstatus").distinct()


ORACLE_DISTINCT_PROJECTION = """
SELECT DISTINCT o_custkey, o_orderstatus FROM orders
"""


def q_customer_feature_spine(spark, sf_dir):
    """J6 feature-merge chain — the defi_features assembly shape
    (`defi_features_calculation.sql:1-68`): spine LEFT JOIN per-entity
    aggregates, COALESCE(x, 0) everywhere. Flagship query."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")

    spine = union_distinct(
        [o.select("o_custkey"), c.select("c_custkey")], out_col="custkey"
    )
    order_f = o.groupBy(F.col("o_custkey").alias("k1")).agg(
        F.countDistinct("o_orderkey").alias("order_count"),
        _dsum(F.col("o_totalprice")).alias("total_spend"),
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    li_f = (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("k2"))
        .agg(
            _dsum(revenue).alias("revenue"),
            _davg(F.col("l_discount")).alias("avg_discount"),
        )
    )
    return (
        spine.join(order_f, spine.custkey == order_f.k1, "left")
        .join(li_f, spine.custkey == li_f.k2, "left")
        .select(
            "custkey",
            F.coalesce("order_count", F.lit(0)).alias("order_count"),
            F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("avg_discount", F.lit(0.0)).alias("avg_discount"),
        )
    )


ORACLE_CUSTOMER_FEATURE_SPINE = f"""
WITH spine AS (
  SELECT DISTINCT custkey FROM (
    SELECT o_custkey AS custkey FROM orders
    UNION ALL SELECT c_custkey FROM customer
  )
),
order_f AS (
  SELECT o_custkey AS k1,
         COUNT(DISTINCT o_orderkey) AS order_count,
         {dsum_sql("o_totalprice")} AS total_spend
  FROM orders GROUP BY o_custkey
),
li_f AS (
  SELECT o_custkey AS k2,
         {dsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
         {davg_sql("l_discount")} AS avg_discount
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey
)
SELECT custkey,
       coalesce(order_count, 0) AS order_count,
       coalesce(total_spend, 0.0) AS total_spend,
       coalesce(revenue, 0.0) AS revenue,
       coalesce(avg_discount, 0.0) AS avg_discount
FROM spine
LEFT JOIN order_f ON custkey = k1
LEFT JOIN li_f ON custkey = k2
"""


def q_two_role_union(spark, sf_dir):
    """J11/U2: two-role join combined with UNION (dedup)
    (`view_defi_historical_health_and_risk_factor.sql:69-93`): an order
    relates to a nation via its customer OR via a supplier of one of
    its items; both legs unioned then deduplicated before aggregation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    leg1 = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", F.col("c_nationkey").alias("nationkey")
    )
    leg2 = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .select(F.col("l_orderkey").alias("o_orderkey"), F.col("s_nationkey").alias("nationkey"))
    )
    return (
        leg1.unionByName(leg2)
        .distinct()
        .groupBy("nationkey")
        .agg(F.countDistinct("o_orderkey").alias("n_orders"))
    )


ORACLE_TWO_ROLE_UNION = """
SELECT nationkey, COUNT(DISTINCT o_orderkey) AS n_orders
FROM (
  SELECT o_orderkey, c_nationkey AS nationkey
  FROM orders JOIN customer ON o_custkey = c_custkey
  UNION
  SELECT l_orderkey AS o_orderkey, s_nationkey AS nationkey
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
)
GROUP BY nationkey
"""


CORE_QUERIES = {
    "stage_normalize": q_stage_normalize,
    "watermark_filter": q_watermark_filter,
    "scalar_ladder": q_scalar_ladder,
    "pricing_summary": q_pricing_summary,
    "conditional_avg": q_conditional_avg,
    "time_since": q_time_since,
    "credit_mix": q_credit_mix,
    "daily_first_event": q_daily_first_event,
    "dq_constraints": q_dq_constraints,
    "agg_of_agg": q_agg_of_agg,
    "multikey_join": q_multikey_join,
    "regional_revenue": q_regional_revenue,
    "anti_join": q_anti_join,
    "semi_join": q_semi_join,
    "full_outer": q_full_outer,
    "disjunctive_join": q_disjunctive_join,
    "asof_price": q_asof_price,
    "asof_price_salted": q_asof_price_salted,
    "asof_forward": q_asof_forward,
    "latest_event_per_user": q_latest_event_per_user,
    "top3_orders_per_customer": q_top3_orders_per_customer,
    "top100_orders": q_top100_orders,
    "union_distinct_spine": q_union_distinct_spine,
    "distinct_projection": q_distinct_projection,
    "customer_feature_spine": q_customer_feature_spine,
    "two_role_union": q_two_role_union,
}

CORE_ORACLES = {
    "stage_normalize": ORACLE_STAGE_NORMALIZE,
    "watermark_filter": ORACLE_WATERMARK_FILTER,
    "scalar_ladder": ORACLE_SCALAR_LADDER,
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "conditional_avg": ORACLE_CONDITIONAL_AVG,
    "time_since": ORACLE_TIME_SINCE,
    "credit_mix": ORACLE_CREDIT_MIX,
    "daily_first_event": ORACLE_DAILY_FIRST_EVENT,
    "dq_constraints": ORACLE_DQ_CONSTRAINTS,
    "agg_of_agg": ORACLE_AGG_OF_AGG,
    "multikey_join": ORACLE_MULTIKEY_JOIN,
    "regional_revenue": ORACLE_REGIONAL_REVENUE,
    "anti_join": ORACLE_ANTI_JOIN,
    "semi_join": ORACLE_SEMI_JOIN,
    "full_outer": ORACLE_FULL_OUTER,
    "disjunctive_join": ORACLE_DISJUNCTIVE_JOIN,
    "asof_price": ORACLE_ASOF_PRICE,
    "asof_price_salted": ORACLE_ASOF_PRICE,
    "asof_forward": ORACLE_ASOF_FORWARD,
    "latest_event_per_user": ORACLE_LATEST_EVENT_PER_USER,
    "top3_orders_per_customer": ORACLE_TOP3_ORDERS_PER_CUSTOMER,
    "top100_orders": ORACLE_TOP100_ORDERS,
    "union_distinct_spine": ORACLE_UNION_DISTINCT_SPINE,
    "distinct_projection": ORACLE_DISTINCT_PROJECTION,
    "customer_feature_spine": ORACLE_CUSTOMER_FEATURE_SPINE,
    "two_role_union": ORACLE_TWO_ROLE_UNION,
}

# ---------------------------------------------------------------------------
# Wider analytics surface: pivot / rollup / sessionization / running
# windows / JSON extraction — Spark-idiomatic patterns a user of the
# engine gets beyond the reference's own SQL.
# ---------------------------------------------------------------------------


def q_pivot_order_status(spark, sf_dir):
    """Pivot: per-customer totals fanned out by order status
    (groupBy().pivot() — map-side CASE aggregation, single shuffle)."""
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_custkey")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).cast("double"))
    )
    return piv.select(
        "o_custkey",
        F.coalesce(F.col("O"), F.lit(0.0)).alias("total_open"),
        F.coalesce(F.col("F"), F.lit(0.0)).alias("total_filled"),
        F.coalesce(F.col("P"), F.lit(0.0)).alias("total_pending"),
    )


ORACLE_PIVOT_ORDER_STATUS = f"""
SELECT o_custkey,
       coalesce({dsum_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")}, 0.0) AS total_open,
       coalesce({dsum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")}, 0.0) AS total_filled,
       coalesce({dsum_sql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")}, 0.0) AS total_pending
FROM orders GROUP BY o_custkey
"""


def q_rollup_revenue(spark, sf_dir):
    """ROLLUP hierarchy totals (returnflag → linestatus → grand total)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(_dsum(F.col("l_extendedprice")).alias("revenue"),
             F.count(F.lit(1)).alias("n"))
    )


ORACLE_ROLLUP_REVENUE = f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql("l_extendedprice")} AS revenue,
       COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_sessionize_events(spark, sf_dir):
    """Sessionization: lag() gap detection + cumulative session ids —
    sessions split on >30 min inactivity. One shuffle on user_id."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sess = (
        ev.withColumn("is_new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("session_id", F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_SESSIONIZE_EVENTS = f"""
WITH g AS (
  SELECT user_id, event_id,
         {epoch_sql()} - lag({epoch_sql()}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
),
s AS (
  SELECT user_id, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS is_new FROM g
)
SELECT user_id,
       CAST(sum(is_new) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM s GROUP BY user_id
"""


def q_running_user_value(spark, sf_dir):
    """Running (cumulative) per-user sum — window frame
    unboundedPreceding..current with a deterministic order; decimal
    accumulation so both engines agree bitwise."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("running_value"),
    )


ORACLE_RUNNING_USER_VALUE = """
SELECT event_id, user_id,
       CAST(CAST(sum(CAST(value AS DECIMAL(38,10))) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_value
FROM events
"""


def q_json_extract_props(spark, sf_dir):
    """JSON extraction from the events.props payload column +
    aggregation (get_json_object stays in the JVM)."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.count(F.when(k > 50, F.lit(1))).alias("n_high"),
    )


ORACLE_JSON_EXTRACT_PROPS = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50 THEN 1 END) AS n_high
FROM events GROUP BY event_type
"""


CORE_QUERIES.update({
    "pivot_order_status": q_pivot_order_status,
    "rollup_revenue": q_rollup_revenue,
    "sessionize_events": q_sessionize_events,
    "running_user_value": q_running_user_value,
    "json_extract_props": q_json_extract_props,
})

CORE_ORACLES.update({
    "pivot_order_status": ORACLE_PIVOT_ORDER_STATUS,
    "rollup_revenue": ORACLE_ROLLUP_REVENUE,
    "sessionize_events": ORACLE_SESSIONIZE_EVENTS,
    "running_user_value": ORACLE_RUNNING_USER_VALUE,
    "json_extract_props": ORACLE_JSON_EXTRACT_PROPS,
})


def q_salted_skew_join(spark, sf_dir):
    """Skew-robust join: lineitem (l_suppkey is the hot-ish key) joined
    to supplier through the salted-join operator — same semantics as a
    plain equi-join (the oracle), bounded task sizes under skew."""
    from ..operators import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
    s = (
        _t(spark, sf_dir, "supplier")
        .select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")
    )
    j = salted_join(li, s, "l_suppkey", "inner", salt_buckets=8)
    return j.groupBy("s_nationkey").agg(
        _dsum(F.col("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


ORACLE_SALTED_SKEW_JOIN = f"""
SELECT s_nationkey,
       {dsum_sql("l_quantity")} AS sum_qty,
       COUNT(*) AS n
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
"""

CORE_QUERIES["salted_skew_join"] = q_salted_skew_join
CORE_ORACLES["salted_skew_join"] = ORACLE_SALTED_SKEW_JOIN


def q_sql_api_shipping_priority(spark, sf_dir):
    """TPC-H Q3-shaped query through the SQL API (temp views + CTE) —
    Catalyst produces the same plan as the DataFrame chain; included to
    pin SQL-surface parity."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(f"""
        WITH base AS (
          SELECT l_orderkey, o_orderdate,
                 CAST(l_extendedprice * (1 - l_discount) AS {DEC}) AS rev
          FROM v_customer
          JOIN v_orders ON c_custkey = o_custkey
          JOIN v_lineitem ON l_orderkey = o_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1995-03-15'
        )
        SELECT l_orderkey,
               CAST(SUM(rev) AS DOUBLE) AS revenue,
               CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) AS orderdate_epoch
        FROM base
        GROUP BY l_orderkey, o_orderdate
    """)


ORACLE_SQL_API_SHIPPING_PRIORITY = f"""
SELECT l_orderkey,
       {dsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
       {epoch_sql("o_orderdate")} AS orderdate_epoch
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate
"""


def q_set_ops_except_intersect(spark, sf_dir):
    """EXCEPT / INTERSECT completion of the set-op surface (the
    reference uses neither — SURVEY §2.7 — but a complete engine needs
    them): customers with orders but no high-value orders, plus the
    intersect count as a second column."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders")
    with_orders = o.select(F.col("o_custkey").alias("c_custkey")).distinct()
    high_value = (
        o.filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    except_df = with_orders.exceptAll(high_value).select(
        "c_custkey", F.lit("except").alias("op")
    )
    intersect_df = c.intersect(high_value).select(
        "c_custkey", F.lit("intersect").alias("op")
    )
    return except_df.unionByName(intersect_df)


ORACLE_SET_OPS_EXCEPT_INTERSECT = """
SELECT c_custkey, 'except' AS op FROM (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 300000
)
UNION ALL
SELECT c_custkey, 'intersect' AS op FROM (
  SELECT c_custkey FROM customer
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 300000
)
"""


def q_grouped_median_pandas(spark, sf_dir):
    """Custom grouped operator through the pandas escape hatch:
    per-user median + IQR of event values — the pattern for semantics
    built-ins can't express (here they can, which is what makes it
    oracle-checkable).

    r12-opt (guide §4.1/§4.2): originally ``groupBy().applyInPandas``
    — one Python call + one pandas DataFrame construction + one
    result-frame concat PER GROUP. With ~70-row groups that per-group
    overhead was the entire cost: 4.09 s vs the 0.48 s JVM twin at
    sf0.1. Now a ``repartition(user_id)`` (all rows of a user in one
    partition — the same exchange applyInPandas planned) +
    ``mapInPandas`` whose body does ONE vectorized
    ``pandas.groupby().quantile([...])`` over the whole partition:
    same Arrow boundary, same shuffle, ~32 Python calls instead of
    ~1500. The final per-value round() stays Python's (decimal-aware)
    round — numpy's scaled-rint round can differ in the last ulp and
    the oracle hash would see it. Measured 4.09 → ~0.8 s; the
    remaining gap to the builtin twin is the irreducible Arrow
    transpose+transfer (guide §4.1).

    100 TB note: the body materializes one PARTITION (not one group)
    in pandas; partition size is bounded by the shuffle partition
    count, the same knob every sort/hash aggregate already budgets.
    The median/IQR themselves need the full group in memory either
    way — that is what makes this the escape-hatch gate."""
    from typing import Iterator

    import pandas as pd

    ev = _events(spark, sf_dir).select("user_id", "value").repartition(
        "user_id"
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = list(batches)  # partition slices of ≤ maxRecordsPerBatch
        if not parts:
            return
        df = pd.concat(parts) if len(parts) > 1 else parts[0]
        g = df.groupby("user_id")["value"]
        q = g.quantile([0.5, 0.25, 0.75]).unstack()
        iqr = q[0.75] - q[0.25]
        yield pd.DataFrame(
            {
                "user_id": q.index.to_numpy(),
                "median_value": [round(float(x), 6) for x in q[0.5]],
                "iqr": [round(float(x), 6) for x in iqr],
                "n": g.size().to_numpy(),
            }
        )

    return ev.mapInPandas(
        stats, schema="user_id long, median_value double, iqr double, n long"
    )


ORACLE_GROUPED_MEDIAN_PANDAS = """
SELECT user_id,
       round(median(value), 6) AS median_value,
       round(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6) AS iqr,
       COUNT(*) AS n
FROM events GROUP BY user_id
"""


def q_grouped_median_builtin(spark, sf_dir):
    """JVM twin of ``grouped_median_pandas``: identical contract via
    the built-in exact ``percentile`` aggregate — stays in whole-stage
    codegen with map-side partial aggregation, no Python worker, no
    Arrow transfer. The pandas variant exists to exercise the
    applyInPandas escape hatch; THIS is the plan you run when the
    semantics fit a built-in (same linear-interpolation definition as
    pandas.quantile / DuckDB quantile_cont)."""
    ev = _events(spark, sf_dir).select("user_id", "value")
    return ev.groupBy("user_id").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
        F.round(
            F.percentile("value", F.lit(0.75)) - F.percentile("value", F.lit(0.25)),
            6,
        ).alias("iqr"),
        F.count(F.lit(1)).alias("n"),
    )


CORE_QUERIES.update({
    "sql_api_shipping_priority": q_sql_api_shipping_priority,
    "set_ops_except_intersect": q_set_ops_except_intersect,
    "grouped_median_pandas": q_grouped_median_pandas,
    "grouped_median_builtin": q_grouped_median_builtin,
})
CORE_ORACLES.update({
    "sql_api_shipping_priority": ORACLE_SQL_API_SHIPPING_PRIORITY,
    "set_ops_except_intersect": ORACLE_SET_OPS_EXCEPT_INTERSECT,
    "grouped_median_pandas": ORACLE_GROUPED_MEDIAN_PANDAS,
    # same contract, same oracle — the JVM twin must match bit-for-bit
    "grouped_median_builtin": ORACLE_GROUPED_MEDIAN_PANDAS,
})


def q_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated per-group threshold — lineitems
    below 20% of their part's average quantity. Catalyst decorrelates
    the scalar subquery into an aggregate + join; expressed here
    directly as the join (same plan, explicit)."""
    li = _t(spark, sf_dir, "lineitem")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count("l_quantity"))
        .alias("avg_qty")
    )
    return (
        li.join(part_avg, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


ORACLE_SMALL_QUANTITY_REVENUE = f"""
WITH part_avg AS (
  SELECT l_partkey AS pk, {davg_sql("l_quantity")} AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT {dsum_sql("l_extendedprice")} / 7.0 AS avg_yearly,
       COUNT(*) AS n_small
FROM lineitem JOIN part_avg ON l_partkey = pk
WHERE l_quantity < 0.2 * avg_qty
"""


def q_top_supplier_share(spark, sf_dir):
    """TPC-H Q15 shape: scalar-subquery max — suppliers whose revenue
    equals the global maximum (broadcast of a 1-row aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("sk"))
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev"))
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(s, F.col("sk") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


ORACLE_TOP_SUPPLIER_SHARE = f"""
WITH rev AS (
  SELECT l_suppkey AS sk, {dsum_sql("l_extendedprice * (1 - l_discount)")} AS total_rev
  FROM lineitem GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev
FROM rev JOIN supplier ON sk = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
"""


def q_range_frame_weekly_sum(spark, sf_dir):
    """RANGE window frame: per-user trailing-7-day value sum keyed on
    the epoch ordering column (value-based frame, not row-based)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id", "user_id", F.col("ts").cast("long").alias("ets"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ets")
        .rangeBetween(-7 * 86400, 0)
    )
    return base.select(
        "event_id",
        "user_id",
        "ets",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("trailing_7d_sum"),
    )


ORACLE_RANGE_FRAME_WEEKLY_SUM = f"""
SELECT event_id, user_id, ets,
       CAST(CAST(sum(CAST(value AS DECIMAL(38,10))) OVER (
         PARTITION BY user_id ORDER BY ets
         RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS trailing_7d_sum
FROM (SELECT event_id, user_id, {epoch_sql()} AS ets, value FROM events)
"""


CORE_QUERIES.update({
    "small_quantity_revenue": q_small_quantity_revenue,
    "top_supplier_share": q_top_supplier_share,
    "range_frame_weekly_sum": q_range_frame_weekly_sum,
})
CORE_ORACLES.update({
    "small_quantity_revenue": ORACLE_SMALL_QUANTITY_REVENUE,
    "top_supplier_share": ORACLE_TOP_SUPPLIER_SHARE,
    "range_frame_weekly_sum": ORACLE_RANGE_FRAME_WEEKLY_SUM,
})


def q_waiting_orders_by_supplier(spark, sf_dir):
    """TPC-H Q21 shape: semi + anti correlation on the same table —
    suppliers whose item was the ONLY late one in a multi-supplier
    order. Exercises EXISTS and NOT EXISTS against the same fact with
    different correlated predicates (both become hash joins)."""
    li = _t(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    other_supp = li.select("l_orderkey", F.col("l_suppkey").alias("s2")).filter(
        F.col("s2").isNotNull()
    )
    # EXISTS: another supplier in the same order
    has_other = late.join(
        other_supp,
        (late.l_orderkey == other_supp.l_orderkey) & (late.l_suppkey != F.col("s2")),
        "left_semi",
    )
    # NOT EXISTS: no OTHER supplier was late in that order
    other_late = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("ls2")
    )
    only_late = has_other.join(
        other_late,
        (has_other.l_orderkey == F.col("ok2")) & (has_other.l_suppkey != F.col("ls2")),
        "left_anti",
    )
    return only_late.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("numwait"))


ORACLE_WAITING_ORDERS_BY_SUPPLIER = """
SELECT l_suppkey, COUNT(*) AS numwait
FROM lineitem l1
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY l_suppkey
"""


def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: correlated MIN — for each part, the supplier(s)
    with its minimum account balance among its suppliers (min computed
    per correlation group, joined back)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    with_bal = ps.join(s, ps.l_suppkey == s.s_suppkey).select(
        "l_partkey", "l_suppkey", "s_acctbal"
    )
    min_bal = with_bal.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        with_bal.join(
            min_bal,
            (F.col("l_partkey") == F.col("pk"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .select("l_partkey", "l_suppkey", "s_acctbal")
    )


ORACLE_MIN_COST_SUPPLIER = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
wb AS (
  SELECT l_partkey, l_suppkey, s_acctbal
  FROM ps JOIN supplier ON l_suppkey = s_suppkey
)
SELECT l_partkey, l_suppkey, s_acctbal
FROM wb
WHERE s_acctbal = (SELECT min(s_acctbal) FROM wb w2 WHERE w2.l_partkey = wb.l_partkey)
"""


CORE_QUERIES.update({
    "waiting_orders_by_supplier": q_waiting_orders_by_supplier,
    "min_cost_supplier": q_min_cost_supplier,
})
CORE_ORACLES.update({
    "waiting_orders_by_supplier": ORACLE_WAITING_ORDERS_BY_SUPPLIER,
    "min_cost_supplier": ORACLE_MIN_COST_SUPPLIER,
})


def q_nation_pair_volume(spark, sf_dir):
    """TPC-H Q7 shape: bi-dimensional entity-pair rollup — revenue by
    (supplier nation, customer nation, year). Two dim chains broadcast
    onto one fact scan."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cust_nation = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("cust_nation")
    )
    supp_nation = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_nation), o.o_custkey == cust_nation.c_custkey)
        .join(F.broadcast(supp_nation), li.l_suppkey == supp_nation.s_suppkey)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_dsum(revenue).alias("revenue"))
    )


ORACLE_NATION_PAIR_VOLUME = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
       {dsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE cn.n_name <> sn.n_name
GROUP BY sn.n_name, cn.n_name, EXTRACT(year FROM l_shipdate)
"""


def q_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: HAVING against a global scalar — parts whose
    inventory value exceeds 0.1% of the total (global aggregate
    broadcast as a 1-row frame)."""
    li = _t(spark, sf_dir, "lineitem")
    # l_quantity carries full double precision here, so the product sits
    # on scale-10 decimal rounding boundaries (see _dsum_reagg) — sum at
    # scale 6.
    value = F.col("l_extendedprice") * F.col("l_quantity")
    per_part = li.groupBy("l_partkey").agg(_dsum_reagg(value).alias("part_value"))
    total = per_part.agg(_dsum_reagg(F.col("part_value")).alias("total_value"))
    # global scalar via subquery expression — HAVING against a literal
    # once the subquery runs; no join node in the main plan
    return per_part.filter(
        F.col("part_value") > total.scalar() * 0.0006
    ).select("l_partkey", "part_value")


ORACLE_IMPORTANT_STOCK = f"""
WITH per_part AS (
  SELECT l_partkey, {dsum_reagg_sql("l_extendedprice * l_quantity")} AS part_value
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM per_part
WHERE part_value > (SELECT {dsum_reagg_sql("part_value")} FROM per_part) * 0.0006
"""


def q_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: above-average filter (scalar subquery over a
    restricted population) + NOT EXISTS anti join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        _davg(F.col("c_acctbal")).alias("avg_bal")
    )
    # .scalar(): the subquery runs once, its value lands as a literal in
    # the filter (a real SQL scalar subquery, not a 1-row BNLJ attach)
    return (
        c.filter(F.col("c_acctbal") > avg_bal.scalar())
        .join(o.filter(F.col("o_totalprice") > 300000), c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            _dsum(F.col("c_acctbal")).alias("total_bal"),
        )
    )


ORACLE_IDLE_RICH_CUSTOMERS = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_custs,
       {dsum_sql("c_acctbal")} AS total_bal
FROM customer
WHERE c_acctbal > (SELECT {davg_sql("c_acctbal")} FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
GROUP BY c_mktsegment
"""


CORE_QUERIES.update({
    "nation_pair_volume": q_nation_pair_volume,
    "important_stock": q_important_stock,
    "idle_rich_customers": q_idle_rich_customers,
})
CORE_ORACLES.update({
    "nation_pair_volume": ORACLE_NATION_PAIR_VOLUME,
    "important_stock": ORACLE_IMPORTANT_STOCK,
    "idle_rich_customers": ORACLE_IDLE_RICH_CUSTOMERS,
})


def q_incremental_agg_equivalence(spark, sf_dir):
    """Incremental aggregate-view maintenance (S7 at the aggregate
    level): the
    corpus split at a time cutoff into two increments, each partially
    aggregated, then folded — must equal the full recompute (the
    oracle). Decimal partials so the fold is order-independent."""
    ev = _events(spark, sf_dir)
    cutoff = "2024-04-01"

    def partial(df):
        return df.groupBy("user_id").agg(
            F.sum(F.col("value").cast(DEC)).alias("sv"),
            F.count(F.lit(1)).alias("n"),
        )

    inc1 = partial(ev.filter(F.col("ts") < cutoff))
    inc2 = partial(ev.filter(F.col("ts") >= cutoff))
    folded = (
        inc1.unionByName(inc2)
        .groupBy("user_id")
        .agg(F.sum("sv").alias("sv"), F.sum("n").alias("n"))
    )
    return folded.select(
        "user_id",
        F.col("sv").cast("double").alias("total_value"),
        F.col("n").alias("n_events"),
    )


ORACLE_INCREMENTAL_AGG_EQUIVALENCE = f"""
SELECT user_id,
       {dsum_sql("value")} AS total_value,
       COUNT(*) AS n_events
FROM events GROUP BY user_id
"""

CORE_QUERIES["incremental_agg_equivalence"] = q_incremental_agg_equivalence
CORE_ORACLES["incremental_agg_equivalence"] = ORACLE_INCREMENTAL_AGG_EQUIVALENCE


def q_grouping_sets_revenue(spark, sf_dir):
    """Explicit GROUPING SETS (distinct from ROLLUP): chosen aggregation
    grains in one pass — by flag, by status, and the grand total."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("v_li_gs")
    return spark.sql(f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_extendedprice AS {DEC})) AS DOUBLE) AS revenue,
               COUNT(*) AS n
        FROM v_li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


ORACLE_GROUPING_SETS_REVENUE = f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql("l_extendedprice")} AS revenue,
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""

CORE_QUERIES["grouping_sets_revenue"] = q_grouping_sets_revenue
CORE_ORACLES["grouping_sets_revenue"] = ORACLE_GROUPING_SETS_REVENUE


def q_orders_per_customer_histogram(spark, sf_dir):
    """TPC-H Q13 shape: distribution of orders-per-customer including
    the zero bucket — LEFT join with the non-urgent filter ON THE
    JOIN CONDITION (a WHERE would silently turn it inner and drop
    order-less customers; this synthetic TPC-H has no o_comment, so
    o_orderpriority stands in for Q13's comment filter), then a two-level aggregate. Both aggregations are
    map-side combinable; the join shuffles once on custkey."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & ~F.col("o_orderpriority").like("%URGENT%"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


ORACLE_ORDERS_PER_CUSTOMER_HISTOGRAM = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '%URGENT%'
  GROUP BY c_custkey
)
GROUP BY c_count
"""

CORE_QUERIES["orders_per_customer_histogram"] = q_orders_per_customer_histogram
CORE_ORACLES["orders_per_customer_histogram"] = ORACLE_ORDERS_PER_CUSTOMER_HISTOGRAM


def q_asof_nearest(spark, sf_dir):
    """J3 nearest variant: each 'view' matched to the temporally
    CLOSEST 'purchase' within 1 day either way (backward wins exact
    ties). One shuffle: both direction frames share the union-window
    sort (operators/asof.py)."""
    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("ets")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("long").alias("pts"), F.col("value").alias("pval")
    )
    out = asof_join(
        views,
        purchases,
        on="user_id",
        left_time="ets",
        right_time="pts",
        tolerance=86400,
        right_cols=["pval"],
        tie_break=F.col("pval"),
        direction="nearest",
    )
    return out.select(
        "event_id", "user_id", "ets", F.col("pval").alias("nearest_purchase_value")
    )


# struct-valued scalar subqueries carry (pts, pval) per direction so the
# CASE can compare distances; tie handling mirrors the operator: among
# equal-time backward rows max pval wins (pts DESC, pval DESC), among
# equal-time forward rows min... the operator takes FIRST in tie order
# for forward (pval ASC mirrors that); equal DISTANCE prefers backward.
ORACLE_ASOF_NEAREST = f"""
WITH v AS (
  SELECT event_id, user_id, {epoch_sql()} AS ets
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, {epoch_sql()} AS pts, value AS pval
  FROM events WHERE event_type = 'purchase'
),
m AS (
  SELECT v.event_id, v.user_id, v.ets,
         (SELECT struct_pack(pts := p.pts, pval := p.pval) FROM p
          WHERE p.user_id = v.user_id AND p.pts <= v.ets AND v.ets - p.pts <= 86400
          ORDER BY p.pts DESC, p.pval DESC LIMIT 1) AS back,
         (SELECT struct_pack(pts := p.pts, pval := p.pval) FROM p
          WHERE p.user_id = v.user_id AND p.pts > v.ets AND p.pts - v.ets <= 86400
          ORDER BY p.pts ASC, p.pval ASC LIMIT 1) AS fwd
  FROM v
)
SELECT event_id, user_id, ets,
       CASE
         WHEN back IS NULL THEN fwd.pval
         WHEN fwd IS NULL THEN back.pval
         WHEN (fwd.pts - ets) < (ets - back.pts) THEN fwd.pval
         ELSE back.pval
       END AS nearest_purchase_value
FROM m
"""

CORE_QUERIES["asof_nearest"] = q_asof_nearest
CORE_ORACLES["asof_nearest"] = ORACLE_ASOF_NEAREST


# ---------------------------------------------------------------------------
# Round 6: classic warehouse analytics shapes over the event stream —
# SCD2 interval build, funnel conversion, cohort retention.
# ---------------------------------------------------------------------------

SCD2_OPEN_END = 9223372036854775807  # Long.MAX sentinel for the open interval


def q_scd2_intervals(spark, sf_dir):
    """Slowly-Changing-Dimension type-2 build: collapse each user's
    event stream into validity intervals [eff_from, eff_to) of
    consecutive same-attribute runs (attribute = event_type), with an
    open-ended current row — the MERGE-free way a lakehouse derives a
    dimension history from an append-only event log (reference
    analogue: daily block-pinned position snapshots folded into
    current_collateral_positions, src/pipelines/analytics/
    current_collateral_positions.py:96-130).

    Determinism: the run detection orders by (t, event_id) — a total
    order — and the interval chain orders by (eff_from, run_id) so two
    runs of one user sharing a start second cannot flip between
    engines. run_id is the running sum of change markers over the same
    total order in both engines, so it is identical cross-engine.

    100 TB notes: one shuffle on user_id serves both windows and the
    rollup (same partition key); runs collapse map-side after the
    window. No joins."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir).select(
        "user_id",
        F.col("ts").cast("long").alias("t"),
        "event_type",
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    marked = e.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), F.lit(0)
        ).otherwise(F.lit(1)),
    )
    runs = marked.withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    iv = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("t").alias("eff_from"), F.count(F.lit(1)).alias("n_obs")
    )
    w2 = Window.partitionBy("user_id").orderBy("eff_from", "run_id")
    chained = iv.withColumn("__next", F.lead("eff_from").over(w2))
    return chained.select(
        "user_id",
        "event_type",
        "eff_from",
        F.coalesce(F.col("__next"), F.lit(SCD2_OPEN_END)).alias("eff_to"),
        "n_obs",
        F.col("__next").isNull().alias("is_current"),
    )


ORACLE_SCD2_INTERVALS = f"""
WITH e AS (SELECT user_id, {epoch_sql()} AS t, event_type, event_id FROM events),
marked AS (
  SELECT user_id, t, event_type,
         CASE WHEN lag(event_type) OVER w IS NOT DISTINCT FROM event_type
              THEN 0 ELSE 1 END AS chg,
         event_id
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
runs AS (
  SELECT user_id, t, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
                        ROWS UNBOUNDED PRECEDING) AS run_id
  FROM marked
),
iv AS (
  SELECT user_id, event_type, run_id,
         min(t) AS eff_from, count(*) AS n_obs
  FROM runs GROUP BY 1, 2, 3
)
SELECT user_id, event_type, eff_from,
       coalesce(lead(eff_from) OVER w2, {SCD2_OPEN_END}) AS eff_to,
       n_obs,
       lead(eff_from) OVER w2 IS NULL AS is_current
FROM iv WINDOW w2 AS (PARTITION BY user_id ORDER BY eff_from, run_id)
"""

CORE_QUERIES["scd2_intervals"] = q_scd2_intervals
CORE_ORACLES["scd2_intervals"] = ORACLE_SCD2_INTERVALS


FUNNEL_STEP_WINDOW_S = 86_400  # each step must follow within 1 day


def q_funnel_conversion(spark, sf_dir):
    """FUNNEL analysis: per-user ordered progression view → click →
    purchase where each step must land within 1 day of the previous
    step's first completion. Emits one row per user who entered the
    funnel (first view), with the completion epoch of each reached
    stage and the funnel depth — the canonical product-analytics
    sequence query (sf0.01: 150 enter, 60 click in-window, 25
    complete).

    Plan: three user-keyed aggregates chained by equi-joins on
    user_id — every shuffle is on the same key, so AQE/exchange reuse
    co-locates them; step filters (event_type, the time window) push
    into the scan before any shuffle. No window functions and no
    theta-join: the 'first event after X within W' is min-after-filter
    once the previous step's epoch is joined alongside."""
    e = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("long").alias("t"), "event_type"
    )
    W = FUNNEL_STEP_WINDOW_S
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("t") >= F.col("t1")) & (F.col("t") <= F.col("t1") + W))
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("t") >= F.col("t2")) & (F.col("t") <= F.col("t2") + W))
        .groupBy("user_id")
        .agg(F.min("t").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t1",
            "t2",
            "t3",
            (
                F.lit(1)
                + F.col("t2").isNotNull().cast("int")
                + F.col("t3").isNotNull().cast("int")
            ).alias("funnel_depth"),
        )
    )


ORACLE_FUNNEL_CONVERSION = f"""
WITH e AS (SELECT user_id, {epoch_sql()} AS t, event_type FROM events),
s1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
       WHERE event_type = 'click' AND t >= t1 AND t <= t1 + {FUNNEL_STEP_WINDOW_S}
       GROUP BY 1),
s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
       WHERE event_type = 'purchase' AND t >= t2 AND t <= t2 + {FUNNEL_STEP_WINDOW_S}
       GROUP BY 1)
SELECT s1.user_id, t1, t2, t3,
       1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
         + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS funnel_depth
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""

CORE_QUERIES["funnel_conversion"] = q_funnel_conversion
CORE_ORACLES["funnel_conversion"] = ORACLE_FUNNEL_CONVERSION


RETENTION_WEEK_S = 604_800


def q_cohort_retention(spark, sf_dir):
    """COHORT RETENTION matrix: users cohorted by first-purchase week,
    counted once per (cohort, week-offset) they purchased in — the
    triangle table behind every retention curve. Purchase-only so the
    matrix actually decays on the test corpus (all-event activity is
    saturated: every user is active every week).

    Plan: week bucketing is integer epoch division (no calendar
    functions, engine-portable); first-week aggregate joins back on
    user_id (same shuffle key as the aggregate); the DISTINCT collapses
    multiple purchases per (user, week) before the final small rollup.
    All keys bounded: users, then cohort×offset."""
    e = (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.expr(f"cast(ts as long) div {RETENTION_WEEK_S}").alias("wk"),
        )
    )
    first = e.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    act = (
        e.join(first, "user_id")
        .select("user_id", "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("offset_wk"))
        .distinct()
    )
    return act.groupBy("cohort_wk", "offset_wk").agg(
        F.count(F.lit(1)).alias("n_users")
    )


ORACLE_COHORT_RETENTION = f"""
WITH e AS (SELECT user_id, {epoch_sql()} // {RETENTION_WEEK_S} AS wk
           FROM events WHERE event_type = 'purchase'),
first AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
act AS (SELECT DISTINCT e.user_id, cohort_wk, wk - cohort_wk AS offset_wk
        FROM e JOIN first USING (user_id))
SELECT cohort_wk, offset_wk, count(*) AS n_users
FROM act GROUP BY 1, 2
"""

CORE_QUERIES["cohort_retention"] = q_cohort_retention
CORE_ORACLES["cohort_retention"] = ORACLE_COHORT_RETENTION


def q_twap_user_value(spark, sf_dir):
    """TIME-WEIGHTED average purchase value per user (TWAP) — the
    price/position rollup the reference's market-data layer feeds
    (reference analogue: daily block-pinned market snapshots whose
    validity extends to the next snapshot, src/pipelines/raw/
    historical_market_data.py + the health-factor features that consume
    them). Each observation's value holds until the user's next
    observation; the last observation carries no weight (no lookahead
    bias). Users need >= 2 purchases to have a horizon.

    Determinism: the hold duration comes from lead() over the total
    order (t, value); the weighted sum goes through decimal(38,10) so
    accumulation order cannot perturb the rounded result.

    100 TB notes: one shuffle on user_id serves the window and the
    aggregate; weights are row-local after the window. The filter to
    purchases pushes to the scan."""
    from pyspark.sql import Window

    e = (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").cast("long").alias("t"), "value")
    )
    w = Window.partitionBy("user_id").orderBy("t", "value")
    d = e.withColumn("dur", F.lead("t").over(w) - F.col("t"))
    agg = (
        d.filter(F.col("dur").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum((F.col("value") * F.col("dur")).cast(DEC))
            .cast("double")
            .alias("num"),
            F.sum("dur").alias("den"),
        )
    )
    return agg.filter(F.col("den") > 0).select(
        "user_id",
        F.round(F.col("num") / F.col("den"), 6).alias("twap"),
        F.col("den").alias("horizon_s"),
    )


ORACLE_TWAP_USER_VALUE = f"""
WITH e AS (SELECT user_id, {epoch_sql()} AS t, value FROM events
           WHERE event_type = 'purchase'),
w AS (SELECT user_id, t, value,
      lead(t) OVER (PARTITION BY user_id ORDER BY t, value) - t AS dur
      FROM e),
agg AS (SELECT user_id,
        {dsum_sql('value * dur')} AS num,
        CAST(sum(dur) AS BIGINT) AS den
        FROM w WHERE dur IS NOT NULL GROUP BY 1)
SELECT user_id, round(num / den, 6) AS twap, den AS horizon_s
FROM agg WHERE den > 0
"""

CORE_QUERIES["twap_user_value"] = q_twap_user_value
CORE_ORACLES["twap_user_value"] = ORACLE_TWAP_USER_VALUE


def q_hopping_window_counts(spark, sf_dir):
    """HOPPING (sliding) window aggregation: 2-hour windows advancing
    every 30 minutes — each event lands in 4 overlapping windows. The
    window family the suite was missing (tumbling: streaming_hourly_
    counts; session: sessionize_events; RANGE frame: range_frame_
    weekly_sum). Native ``F.window(ts, length, slide)`` — identical in
    batch and Structured Streaming, so this gate pins the semantics
    the streaming path inherits. ts truncated to whole seconds first
    so the window arithmetic is exactly the oracle's epoch arithmetic.

    100 TB notes: Spark expands each row to its slide-count windows
    (constant 4× fan-out) before the partial aggregate — map-side
    combine absorbs the expansion; one exchange on (window, type).
    Sums go through decimal(38,10) (state-merge order invariance)."""
    e = _events(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("long").cast("timestamp")
    )
    return (
        e.groupBy(
            F.window("ts", "2 hours", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ORACLE_HOPPING_WINDOW_COUNTS = f"""
WITH e AS (SELECT {epoch_sql()} AS t, event_type, value FROM events),
w AS (
  SELECT t, event_type, value,
         unnest([ (t // 1800) * 1800 - o FOR o IN [0, 1800, 3600, 5400] ])
           AS win_start
  FROM e
)
SELECT win_start, event_type, count(*) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM w
WHERE t >= win_start AND t < win_start + 7200
GROUP BY 1, 2
"""

CORE_QUERIES["hopping_window_counts"] = q_hopping_window_counts
CORE_ORACLES["hopping_window_counts"] = ORACLE_HOPPING_WINDOW_COUNTS


def q_percentile_bands(spark, sf_dir):
    """EXACT percentile bands per segment, JVM-side: the built-in
    ``percentile`` aggregate (exact, continuous interpolation — the
    same p*(n-1) positional rule as SQL ``percentile_cont``), rounded
    to 6 dp so cross-engine interpolation ULPs cannot differ. The
    JVM-exact member of the quantile family (approx: quality_deciles'
    NTILE path; Python escape hatch: grouped_median_pandas; this one
    is whole-stage-codegen end to end — no UDF, no Python).

    100 TB notes: exact percentiles buffer each group's values in the
    aggregate state — fine for bounded groups (5 event types here);
    for unbounded groups the approx path is the scale answer. One
    exchange on the group key."""
    e = _events(spark, sf_dir)
    pct = F.percentile(F.col("value"), F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.95)]))
    return (
        e.groupBy("event_type")
        .agg(pct.alias("__p"))
        .select(
            "event_type",
            F.round(F.col("__p")[0], 6).alias("p25"),
            F.round(F.col("__p")[1], 6).alias("p50"),
            F.round(F.col("__p")[2], 6).alias("p75"),
            F.round(F.col("__p")[3], 6).alias("p95"),
        )
    )


ORACLE_PERCENTILE_BANDS = """
SELECT event_type,
       round(percentile_cont(0.25) WITHIN GROUP (ORDER BY value), 6) AS p25,
       round(percentile_cont(0.5)  WITHIN GROUP (ORDER BY value), 6) AS p50,
       round(percentile_cont(0.75) WITHIN GROUP (ORDER BY value), 6) AS p75,
       round(percentile_cont(0.95) WITHIN GROUP (ORDER BY value), 6) AS p95
FROM events GROUP BY event_type
"""

CORE_QUERIES["percentile_bands"] = q_percentile_bands
CORE_ORACLES["percentile_bands"] = ORACLE_PERCENTILE_BANDS


PROFILE_COLS = (
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_totalprice", True),
    ("o_orderstatus", False),
    ("o_orderpriority", False),
)


def q_table_profile(spark, sf_dir):
    """DATA PROFILING in one pass: per column — null count, exact
    distinct count, and (numeric columns) min/max — the first thing a
    100 TB ingest runs to sanity-check a new source (column drift,
    null explosions, cardinality surprises). ONE aggregate job computes
    every column's stats simultaneously (count_if/count distinct/
    min/max are all map-side combinable), then the single stats row
    unpivots via ``stack`` into one row per column — no per-column
    rescans of the table.

    Exact countDistinct, not approx_count_distinct: this is the gate's
    oracle-comparable form; at 100 TB the approx twin is the
    ``approx_distinct_users`` pattern."""
    o = _t(spark, sf_dir, "orders")
    aggs = []
    for c, numeric in PROFILE_COLS:
        aggs.append(F.count(F.when(F.col(c).isNull(), True)).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"{c}__nd"))
        if numeric:
            aggs.append(F.round(F.min(F.col(c)).cast("double"), 6).alias(f"{c}__min"))
            aggs.append(F.round(F.max(F.col(c)).cast("double"), 6).alias(f"{c}__max"))
    one = o.agg(*aggs)
    stack_args = []
    for c, numeric in PROFILE_COLS:
        mn = f"{c}__min" if numeric else "CAST(NULL AS DOUBLE)"
        mx = f"{c}__max" if numeric else "CAST(NULL AS DOUBLE)"
        stack_args.append(f"'{c}', {c}__nulls, {c}__nd, {mn}, {mx}")
    return one.select(
        F.expr(
            f"stack({len(PROFILE_COLS)}, {', '.join(stack_args)}) "
            "AS (col_name, n_nulls, n_distinct, min_num, max_num)"
        )
    )


def _profile_oracle() -> str:
    rows = []
    for c, numeric in PROFILE_COLS:
        mn = f"round(CAST(min({c}) AS DOUBLE), 6)" if numeric else "CAST(NULL AS DOUBLE)"
        mx = f"round(CAST(max({c}) AS DOUBLE), 6)" if numeric else "CAST(NULL AS DOUBLE)"
        rows.append(
            f"SELECT '{c}' AS col_name, "
            f"count(*) FILTER (WHERE {c} IS NULL) AS n_nulls, "
            f"count(DISTINCT {c}) AS n_distinct, {mn} AS min_num, {mx} AS max_num "
            "FROM orders"
        )
    return "\nUNION ALL\n".join(rows)


CORE_QUERIES["table_profile"] = q_table_profile
CORE_ORACLES["table_profile"] = _profile_oracle()
