"""Warehouse SQL-surface operators: null-aware NOT IN at scale,
recursive CTEs (Spark 4 `WITH RECURSIVE`), UNPIVOT/melt, and a general
MERGE-style changeset apply — the remaining relational surface a
warehouse migration hits after joins/aggregates/windows are covered.

Reference analogue: the reference's SQL layer is plain Athena SQL
(src/pipelines/features/transformations/*.sql); these gates cover the
SQL constructs that are correctness traps when re-expressed on Spark
(three-valued NOT IN, recursion limits, wide→long reshaping, CDC
merge), each held to the literal DuckDB SQL as oracle.

Determinism contract (same as queries/core.py): money sums accumulate
in DECIMAL(38,10); decimal→double on the DuckDB side goes through the
VARCHAR hop; every computed column is aliased identically on both
sides.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .core import D2D_SQL, DEC, _events, _t, dsum_sql, epoch_sql
from .extensions import H_SQL, _REPO_ROOT as _REPO_ROOT_WH, _h

WAREHOUSE_QUERIES: dict = {}
WAREHOUSE_ORACLES: dict = {}

_D2D = D2D_SQL


# ---------------------------------------------------------------------------
# Null-aware NOT IN — the three-valued-logic trap, rewritten to scale
# ---------------------------------------------------------------------------


def q_not_in_null_aware(spark, sf_dir):
    """NOT IN with NULLs on the OUTER side — the classic three-valued
    logic trap: ``k NOT IN (s1..sn)`` is NULL (row dropped) when k is
    NULL, and the WHOLE predicate is never-true when the subquery
    contains a NULL. The oracle is the LITERAL ``NOT IN`` SQL; the
    Spark side is the scalable rewrite:

      (SELECT count(*) FROM s WHERE k IS NULL) = 0          -- null guard
      AND (k IS NOT NULL OR (SELECT count(*) FROM s) = 0)   -- empty case
      AND NOT EXISTS (SELECT 1 FROM s WHERE s.k = outer.k)

    proving the rewrite preserves ALL of NOT IN's three-valued
    semantics — including the corner where the subquery is EMPTY:
    ``x NOT IN ()`` is TRUE even for NULL x, so outer-NULL rows are
    dropped only when the subquery is non-empty (pinned by a
    dedicated test; both guards are uncorrelated scalar subqueries,
    no join). Spark CAN plan
    a literal NOT IN, but only as a broadcast null-aware anti join
    (NAAJ is broadcast-only) or a BroadcastNestedLoopJoin — with a
    subquery too big to broadcast the literal form is a scale killer.
    The rewrite plans as a plain anti HASH join at any size plus a
    one-row uncorrelated scalar subquery (no join at all for the
    guard); plan sweep confirms zero BNLJ.

    The outer key is NULLIF-derived so the outer-NULL drop path is
    non-vacuous on this corpus; the subquery here has no NULLs (else
    the result is empty — that branch is pinned by a dedicated test in
    tests/test_warehouse.py)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql("""
        WITH s AS (
          SELECT DISTINCT c_custkey % 100 AS k FROM v_customer
          WHERE c_acctbal < 0 AND c_mktsegment = 'BUILDING'
        )
        SELECT o_orderkey, o_custkey
        FROM v_orders
        WHERE (SELECT count(*) FROM s WHERE k IS NULL) = 0
          AND (nullif(o_custkey % 100, 7) IS NOT NULL
               OR (SELECT count(*) FROM s) = 0)
          AND NOT EXISTS (
                SELECT 1 FROM s WHERE s.k = nullif(o_custkey % 100, 7)
          )
    """)


WAREHOUSE_ORACLES["not_in_null_aware"] = """
SELECT o_orderkey, o_custkey
FROM orders
WHERE nullif(o_custkey % 100, 7) NOT IN (
  SELECT c_custkey % 100 FROM customer
  WHERE c_acctbal < 0 AND c_mktsegment = 'BUILDING'
)
"""
WAREHOUSE_QUERIES["not_in_null_aware"] = q_not_in_null_aware


# ---------------------------------------------------------------------------
# Recursive CTE — per-customer order chains (Spark 4 WITH RECURSIVE)
# ---------------------------------------------------------------------------

# Spark bounds recursion at spark.sql.cteRecursionLevelLimit (default
# 100). Chain depth here = max orders per customer (~25 at sf0.01,
# ~40 at sf0.1); raised defensively for larger SFs.
RCTE_LEVEL_LIMIT = 400
# Spark also bounds the TOTAL rows a recursion may accumulate
# (spark.sql.cteRecursionRowLimit, default 1M) — the chain emits one
# row per order, so the default silently caps the query at |orders| <
# 1M (the sf1 scale probe caught it: RECURSION_ROW_LIMIT_EXCEEDED at
# 1.5M orders). Sized for ~sf100 here; a production run sizes it to
# the expected chain row count, and exceeding it is a loud error.
RCTE_ROW_LIMIT = 200_000_000

_NXT_SQL = """
  SELECT o_custkey AS ck, o_orderkey AS ok,
         CAST(o_totalprice AS DECIMAL(38,10)) AS price,
         lead(o_orderkey) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS next_ok,
         row_number() OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS rn
  FROM {orders}
"""

_RCTE_BODY = """
WITH RECURSIVE chain AS (
  SELECT ck, ok, next_ok, 1 AS hop, price AS cum_price
  FROM {nxt} WHERE rn = 1
  UNION ALL
  SELECT n.ck, n.ok, n.next_ok, c.hop + 1,
         CAST(c.cum_price + n.price AS DECIMAL(38,10))
  FROM chain c JOIN {nxt} n ON n.ok = c.next_ok
)
SELECT ck AS o_custkey, ok AS o_orderkey, hop, {cast} AS cum_spend
FROM chain
"""

# r13-opt (guide §1.2; r12 verdict item 9 — the chain_closure
# precedent): the Spark side advances TWO hops per recursion level, so
# the per-level stage-scheduling constant (the gate's entire residual
# wall at bench SF) is paid ceil(depth/2) times instead of depth times.
# Mechanics: the anchor emits hop 1; each level consumes only the
# ODD-hop frontier rows of the previous level (hop % 2 = 1 — the
# even-hop rows it also emitted are result rows, not frontier), joins
# the next-pointer table twice, and explodes one or two named_structs
# per frontier row (two only when a second pointer exists). Hop/value
# assembly is CASTed exactly like two sequential one-hop steps
# (CAST(CAST(c+n) + n2)), so every emitted row is bit-identical to the
# one-hop recursion's. The DuckDB oracle keeps the ORIGINAL one-hop
# _RCTE_BODY — result equivalence is proven against the unfused
# semantics, not assumed.
_RCTE_BODY_FUSED = """
WITH RECURSIVE chain AS (
  SELECT ck, ok, next_ok, 1 AS hop, price AS cum_price
  FROM {nxt} WHERE rn = 1
  UNION ALL
  SELECT n.ck AS ck, s.ok AS ok, s.next_ok AS next_ok,
         s.hop AS hop, s.cum_price AS cum_price
  FROM chain c
  JOIN {nxt} n ON n.ok = c.next_ok AND c.hop % 2 = 1
  LEFT JOIN {nxt} n2 ON n2.ok = n.next_ok
  LATERAL VIEW explode(
    CASE WHEN n2.ok IS NULL THEN
      array(named_struct(
        'ok', n.ok, 'next_ok', n.next_ok, 'hop', c.hop + 1,
        'cum_price', CAST(c.cum_price + n.price AS DECIMAL(38,10))))
    ELSE
      array(named_struct(
        'ok', n.ok, 'next_ok', n.next_ok, 'hop', c.hop + 1,
        'cum_price', CAST(c.cum_price + n.price AS DECIMAL(38,10))),
      named_struct(
        'ok', n2.ok, 'next_ok', n2.next_ok, 'hop', c.hop + 2,
        'cum_price', CAST(CAST(c.cum_price + n.price AS DECIMAL(38,10))
                          + n2.price AS DECIMAL(38,10))))
    END) t AS s
)
SELECT ck AS o_custkey, ok AS o_orderkey, hop, {cast} AS cum_spend
FROM chain
"""


def q_recursive_order_chain(spark, sf_dir):
    """RECURSIVE CTE (Spark 4.x `WITH RECURSIVE`): walk each
    customer's orders in date order via a precomputed next-pointer
    (lead() over the per-customer window), numbering hops and
    accumulating an exact-decimal running spend. The oracle is the
    IDENTICAL recursive SQL on DuckDB — same anchor, same step, same
    decimal accumulation — so the gate pins Spark's recursive-CTE
    semantics (UNION ALL accumulation, step-joins the prior level
    only) against an independent engine.

    100 TB notes: each recursion level is one equi-join of the current
    frontier (|customers| rows) against the next-pointer table — the
    frontier never grows, so level cost is flat; total work is
    O(levels × |orders|-join) with level count = max chain length, NOT
    |orders|. Spark's UnionLoop re-executes the STEP SUBTREE every
    level, so the next-pointer table is materialized ONCE
    (localCheckpoint) before recursion — without the cut each level
    re-scans orders and re-runs the window (measured 10.1 → 4.6 s at
    sf0.1). The residual wall is per-level STAGE SCHEDULING (24 levels
    × ~0.15 s), a constant independent of data volume — at 100 TB the
    level count still equals max chain depth, so recursion depth, not
    corpus size, is what to budget; bench carries this query as
    KNOWN_SLOW for that reason. The recursion limit is raised to {lim}
    and exceeding it is a loud error, never silent truncation.
    cum_price accumulates in DECIMAL(38,10) so every level is
    bit-exact in both engines."""
    prev = spark.conf.get("spark.sql.cteRecursionLevelLimit", None)
    prev_rows = spark.conf.get("spark.sql.cteRecursionRowLimit", None)
    spark.conf.set("spark.sql.cteRecursionLevelLimit", str(RCTE_LEVEL_LIMIT))
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(RCTE_ROW_LIMIT))
    try:
        _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
        nxt = spark.sql(_NXT_SQL.format(orders="v_orders")).localCheckpoint()
        nxt.createOrReplaceTempView("v_order_nxt")
        # the limit is read at ACTION time, so the recursion must run
        # inside this window — localCheckpoint executes it eagerly
        # (|orders| output rows, cheap to hold) before the restore below
        return spark.sql(
            _RCTE_BODY_FUSED.format(
                nxt="v_order_nxt", cast="CAST(cum_price AS DOUBLE)"
            )
        ).localCheckpoint()
    finally:
        # restore — raising the limits must not leak into later queries
        # on the shared session (a later runaway recursion would run
        # far longer before erroring)
        if prev is None:
            spark.conf.unset("spark.sql.cteRecursionLevelLimit")
        else:
            spark.conf.set("spark.sql.cteRecursionLevelLimit", prev)
        if prev_rows is None:
            spark.conf.unset("spark.sql.cteRecursionRowLimit")
        else:
            spark.conf.set("spark.sql.cteRecursionRowLimit", prev_rows)


q_recursive_order_chain.__doc__ = q_recursive_order_chain.__doc__.format(
    lim=RCTE_LEVEL_LIMIT
)

# One WITH RECURSIVE list holding both the (non-recursive) nxt CTE and
# the recursive chain — DuckDB evaluates nxt once, no materialization
# hint needed.
WAREHOUSE_ORACLES["recursive_order_chain"] = (
    "WITH RECURSIVE nxt AS ("
    + _NXT_SQL.format(orders="orders")
    + "),\n"
    + _RCTE_BODY.format(nxt="nxt", cast=_D2D.format(x="cum_price")).replace(
        "WITH RECURSIVE chain AS (", "chain AS (", 1
    )
)
WAREHOUSE_QUERIES["recursive_order_chain"] = q_recursive_order_chain


def q_chain_closure(spark, sf_dir):
    """The O(log depth) CLOSURE of ``recursive_order_chain``: the same
    per-customer order chains (hop number + exact-decimal running
    spend), computed by pointer-doubling list ranking
    (`operators/graph.py::chain_closure`) instead of one recursion
    level per chain depth. Held to the IDENTICAL recursive-SQL oracle,
    so the two gates pin that the closure is a pure plan upgrade:
    same rows, same hashes, ceil(log2(depth))+1 self-join rounds in
    place of depth sequential stages.

    100 TB notes: the recursive CTE's wall is depth-proportional
    stage scheduling (r7 probe: 30.9 s at sf1, 7.8× for 10× data —
    the worst growth ratio in the suite); this path pays ~6 rounds
    for depth ≤ 64 and each round is one equi self-join of the
    (id, ptr, rank, acc) frame — |orders| rows, 4 narrow columns —
    with per-round parquet lineage cuts. The dialect-surface
    recursive gate stays for parity; this is the operator a 100 TB
    consumer should call."""
    from pyspark.sql import Window

    from ..operators.graph import chain_closure

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nodes = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("id"),
        F.lag("o_orderkey").over(w).alias("prev_id"),
        F.col("o_totalprice").cast("decimal(38,10)").alias("value"),
    )
    closed = chain_closure(nodes, "id", "prev_id", "value")
    return closed.join(
        nodes.select("ck", "id"), "id"
    ).select(
        F.col("ck").alias("o_custkey"),
        F.col("id").alias("o_orderkey"),
        F.col("hop").cast("int").alias("hop"),
        F.col("cum").cast("double").alias("cum_spend"),
    )


WAREHOUSE_ORACLES["chain_closure"] = WAREHOUSE_ORACLES["recursive_order_chain"]
WAREHOUSE_QUERIES["chain_closure"] = q_chain_closure


# ---------------------------------------------------------------------------
# UNPIVOT / melt — wide metrics to long (completes the pivot family)
# ---------------------------------------------------------------------------


def q_unpivot_metrics(spark, sf_dir):
    """UNPIVOT (melt): per-customer wide metrics → (key, metric, val)
    long form, the feature-store exchange format (one row per feature
    so features version/append independently). Spark-first:
    ``DataFrame.unpivot`` plans as a single Expand node — ONE pass
    over the aggregated frame, no per-metric self-scan; the oracle is
    the portable 3-way UNION ALL.

    All measures cast to DOUBLE before melting (UNPIVOT requires one
    value type); sums go through exact decimal first. 100 TB notes:
    the expensive part is the upstream aggregate (map-side combinable,
    one shuffle on c_custkey); Expand multiplies rows AFTER
    aggregation, i.e. on |customers| rows, not |orders|."""
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias(
            "total_spend"
        ),
        F.max(F.col("o_totalprice")).cast("double").alias("max_order"),
    )
    return agg.unpivot(
        ["o_custkey"],
        ["n_orders", "total_spend", "max_order"],
        "metric",
        "val",
    )


WAREHOUSE_ORACLES["unpivot_metrics"] = f"""
WITH agg AS (
  SELECT o_custkey,
         CAST(count(*) AS DOUBLE) AS n_orders,
         {dsum_sql("o_totalprice")} AS total_spend,
         CAST(max(o_totalprice) AS DOUBLE) AS max_order
  FROM orders GROUP BY 1
)
SELECT o_custkey, 'n_orders' AS metric, n_orders AS val FROM agg
UNION ALL
SELECT o_custkey, 'total_spend', total_spend FROM agg
UNION ALL
SELECT o_custkey, 'max_order', max_order FROM agg
"""
WAREHOUSE_QUERIES["unpivot_metrics"] = q_unpivot_metrics


# ---------------------------------------------------------------------------
# MERGE-style changeset apply (WHEN MATCHED UPDATE/DELETE, NOT MATCHED
# INSERT) — the general CDC merge as one full-outer pass
# ---------------------------------------------------------------------------

MERGE_INS_OFFSET = 10_000_000  # synthetic insert keys, disjoint from base


def _merge_changes(spark, sf_dir):
    """Deterministic changeset derived from orders (a CDC feed stand-
    in): custkeys with ≥1 open ('O') order → UPDATE with a new balance
    carried ON the change row (10.00 per open order, exact decimal);
    custkeys with ≥1 'F' and 0 'O' orders → DELETE (disjoint from U by
    construction); custkeys with ≥1 'P' order → INSERT of a NEW key
    (base key + offset, balance 0)."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias(
            "n_open"
        ),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
            "n_done"
        ),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias(
            "n_part"
        ),
    )
    upd = per_cust.filter("n_open >= 1").select(
        F.col("o_custkey").alias("k"),
        F.lit("U").alias("op"),
        (F.col("n_open") * F.lit(10)).cast("decimal(18,2)").alias("new_bal"),
    )
    dele = per_cust.filter("n_done >= 1 AND n_open = 0").select(
        F.col("o_custkey").alias("k"),
        F.lit("D").alias("op"),
        F.lit(None).cast("decimal(18,2)").alias("new_bal"),
    )
    ins = per_cust.filter("n_part >= 1").select(
        (F.col("o_custkey") + MERGE_INS_OFFSET).alias("k"),
        F.lit("I").alias("op"),
        F.lit(0).cast("decimal(18,2)").alias("new_bal"),
    )
    return upd.unionByName(dele).unionByName(ins)


def q_merge_apply_changes(spark, sf_dir):
    """MERGE INTO emulation — apply a CDC changeset (op ∈ U/D/I with
    new values ON the change rows) to a snapshot in ONE full-outer
    pass: matched-U rewrites the balance, matched-D drops the row,
    unmatched-I appends, untouched base rows pass through. This is the
    general WHEN MATCHED/NOT MATCHED merge the lakehouse sinks
    (upsert_parquet/manifest_commit, SURVEY S10) specialize; the
    oracle is the identical FULL OUTER JOIN + CASE SQL.

    100 TB notes: one shuffle per side on the merge key (or zero for
    the base if the snapshot is bucketed by key with ``bucketBy``);
    the changeset is typically ≪ base and broadcasts. D-keys absent
    from base fall out via the same filter that drops matched-D —
    tombstones for never-seen keys are a no-op, not an error."""
    base = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    # the synthetic-insert keys are only disjoint from real custkeys
    # while max(c_custkey) < offset (violated around SF~67, where
    # custkey max = 150k×SF crosses 10M) — CHECK the precondition
    # instead of assuming it, so at a larger SF the gate fails loudly
    # rather than silently flipping inserts into updates
    max_key = base.agg(F.max("c_custkey")).first()[0]
    if max_key is not None and max_key >= MERGE_INS_OFFSET:
        raise ValueError(
            f"merge_apply_changes: max(c_custkey)={max_key} >= "
            f"MERGE_INS_OFFSET={MERGE_INS_OFFSET}; synthetic insert "
            "keys would collide with base rows — raise the offset"
        )
    ch = _merge_changes(spark, sf_dir)
    j = base.join(ch, base.c_custkey == ch.k, "full_outer")
    merged = j.filter(
        (F.col("op").isNull()) | (F.col("op") != "D")
    ).select(
        F.coalesce(F.col("c_custkey"), F.col("k")).alias("c_custkey"),
        F.when(F.col("op").isin("U", "I"), F.col("new_bal").cast("double"))
        .otherwise(F.col("c_acctbal").cast("double"))
        .alias("acctbal"),
        F.when(F.col("op") == "I", F.lit("inserted"))
        .when(F.col("op") == "U", F.lit("updated"))
        .otherwise(F.lit("base"))
        .alias("row_src"),
    )
    return merged


WAREHOUSE_ORACLES["merge_apply_changes"] = f"""
WITH per_cust AS (
  SELECT o_custkey,
         SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS n_open,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_done,
         SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS n_part
  FROM orders GROUP BY 1
),
ch AS (
  SELECT o_custkey AS k, 'U' AS op,
         CAST(n_open * 10 AS DECIMAL(18,2)) AS new_bal
  FROM per_cust WHERE n_open >= 1
  UNION ALL
  SELECT o_custkey, 'D', NULL FROM per_cust
  WHERE n_done >= 1 AND n_open = 0
  UNION ALL
  SELECT o_custkey + {MERGE_INS_OFFSET}, 'I', CAST(0 AS DECIMAL(18,2))
  FROM per_cust WHERE n_part >= 1
)
SELECT coalesce(b.c_custkey, ch.k) AS c_custkey,
       CASE WHEN ch.op IN ('U', 'I')
            THEN {_D2D.format(x="ch.new_bal")}
            ELSE {_D2D.format(x="b.c_acctbal")} END AS acctbal,
       CASE WHEN ch.op = 'I' THEN 'inserted'
            WHEN ch.op = 'U' THEN 'updated'
            ELSE 'base' END AS row_src
FROM customer b FULL OUTER JOIN ch ON b.c_custkey = ch.k
WHERE ch.op IS NULL OR ch.op <> 'D'
"""
WAREHOUSE_QUERIES["merge_apply_changes"] = q_merge_apply_changes


# ---------------------------------------------------------------------------
# Order-insensitive table fingerprint — cross-replica data validation
# ---------------------------------------------------------------------------


def q_table_fingerprint(spark, sf_dir):
    """ORDER-INSENSITIVE TABLE CHECKSUM: one md5-derived bigint per
    row, SUMMED per partition group — the replica-validation primitive
    (does the DR copy / the migrated table / yesterday's snapshot hold
    exactly these rows?) that never needs a sort or a row-by-row diff.
    Addition is commutative, so the fingerprint is independent of row
    order, file layout, and partitioning — two replicas agree iff
    their multisets of rows agree (up to 32-bit-sum collisions, ~2⁻³²
    per comparison; widen the hash for stricter SLOs).

    Row rendering is type-pinned so both engines hash identical bytes:
    bigints as-is, doubles through DECIMAL(18,2) (exact cents render
    identically), timestamps as epoch seconds, '|' separator.

    100 TB notes: ONE scan, map-side partial aggregation, 3-row
    output; per-partition-group fingerprints (here o_orderstatus; in
    production the partition column) let a mismatch be localized
    without re-scanning the whole table."""
    return fingerprint_orders(_t(spark, sf_dir, "orders"))


def fingerprint_orders(o):
    """Per-status (n_rows, fingerprint) over an orders frame — split
    out so the layout-invariance test runs the PRODUCTION expression
    over shuffled/tampered layouts instead of a copy. The row hash is
    the portable md5-prefix hash (`extensions._h`)."""
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.col("o_orderdate").cast("timestamp").cast("long").cast("string"),
    )
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_h(row_str)).alias("fingerprint"),
    )


WAREHOUSE_ORACLES["table_fingerprint"] = """
WITH rows_r AS (
  SELECT o_orderstatus,
         CAST(o_orderkey AS VARCHAR) || '|' ||
         CAST(o_custkey AS VARCHAR) || '|' ||
         o_orderstatus || '|' ||
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
         CAST(CAST(epoch_us(o_orderdate) // 1000000 AS BIGINT) AS VARCHAR)
           AS r
  FROM orders
)
SELECT o_orderstatus, count(*) AS n_rows,
       SUM({h}) AS fingerprint
FROM rows_r GROUP BY 1
""".format(h=H_SQL.format(x="r"))
WAREHOUSE_QUERIES["table_fingerprint"] = q_table_fingerprint


# ---------------------------------------------------------------------------
# Exact COUNT DISTINCT via bitmaps — the re-aggregatable scale path
# ---------------------------------------------------------------------------


def q_bitmap_count_distinct(spark, sf_dir):
    """EXACT distinct counting through Spark's bitmap aggregates:
    bucket the id space (bitmap_bucket_number), build one 4 KB bitmap
    per (group, bucket) with bitmap_construct_agg, then SUM the
    per-bucket bitmap_count — buckets partition the value domain, so
    the sum IS the exact distinct count. The oracle is the plain
    COUNT(DISTINCT).

    Why not COUNT DISTINCT at 100 TB: a distinct-agg keeps every
    distinct VALUE in the aggregation hash map and cannot merge
    increments (yesterday's count + today's count ≠ total). Bitmaps
    are fixed-size per bucket, map-side combinable (bitmap_or_agg is
    the merge), and STORABLE: persist the per-bucket bitmaps and
    tomorrow's batch ORs into them — exact incremental distinct users
    forever without rescanning history (the sketch-free twin of
    approx_distinct_users' HLL)."""
    from ..operators.sketches import bitmap_distinct_buckets

    ev = _events(spark, sf_dir)
    per_bucket = bitmap_distinct_buckets(ev, ["event_type"], "user_id")
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_distinct_users")
    )


WAREHOUSE_ORACLES["bitmap_count_distinct"] = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
FROM events GROUP BY 1
"""
WAREHOUSE_QUERIES["bitmap_count_distinct"] = q_bitmap_count_distinct


# ---------------------------------------------------------------------------
# Linear interpolation on the daily grid (completes the gapfill family)
# ---------------------------------------------------------------------------


def q_resample_interpolate_linear(spark, sf_dir):
    """DAILY RESAMPLE with LINEAR INTERPOLATION — the numeric upgrade
    of resample_daily_gapfill's LOCF: missing days take
    v_prev + (v_next − v_prev)·(d − d_prev)/(d_next − d_prev) between
    the surrounding observed days. Same per-user sequence()+explode
    grid (never a users×days cross join); prev/next observation day
    and value arrive via one backward last(ignorenulls) and one
    forward first(ignorenulls) window over the SAME partitioning.

    Determinism: daily observed values are rounded to 6 dp first;
    the interpolation is then a fixed-shape IEEE expression (one
    divide, one multiply, one add on identical operands — both
    engines' doubles round identically) emitted RAW: a final
    round(·, 6) was tried and produced a 1-ULP mismatch at sf0.001
    (38.7466665 straddles the 6 dp boundary and the engines' double
    rounding disagrees — the cdc_snapshot_diff float-round trap), while
    the unrounded doubles are bit-identical because every operand and
    operation is identical. Grid rows before the first / after the
    last observation don't exist by construction, so prev and next are
    always defined.

    100 TB: ONE corpus scan (the daily rollup); the span and both
    window passes run over the |user×day| frame, all partitioned by
    user_id — an engine that reuses partitioning runs one exchange;
    grid fan-out is calendar-bounded."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "user_id", F.to_date("ts").alias("day"), "value"
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.round(
            F.sum(F.col("value").cast(DEC)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("__v")
    )
    # span from the DAILY frame (|user×day| rows, already shuffled on
    # user_id) — deriving it from raw events would scan and shuffle
    # the full corpus a second time for the same min/max.
    grid = (
        daily.groupBy(F.col("user_id").alias("__u"))
        .agg(F.min("day").alias("__d0"), F.max("day").alias("__d1"))
        .select(
            "__u",
            F.explode(
                F.expr("sequence(__d0, __d1, interval 1 day)")
            ).alias("__day"),
        )
    )
    j = grid.join(
        daily,
        (F.col("__u") == F.col("user_id")) & (F.col("__day") == F.col("day")),
        "left",
    )
    back = (
        Window.partitionBy("__u")
        .orderBy("__day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("__u")
        .orderBy("__day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    j = j.select(
        "__u",
        "__day",
        F.last("day", ignorenulls=True).over(back).alias("__dp"),
        F.last("__v", ignorenulls=True).over(back).alias("__vp"),
        F.first("day", ignorenulls=True).over(fwd).alias("__dn"),
        F.first("__v", ignorenulls=True).over(fwd).alias("__vn"),
    )
    interp = F.when(F.col("__dp") == F.col("__dn"), F.col("__vp")).otherwise(
        F.col("__vp")
        + (F.col("__vn") - F.col("__vp"))
        * (
            F.datediff(F.col("__day"), F.col("__dp")).cast("double")
            / F.datediff(F.col("__dn"), F.col("__dp")).cast("double")
        )
    )
    return j.select(
        F.col("__u").alias("user_id"),
        F.col("__day").alias("day"),
        interp.alias("interp_value"),
        (F.col("__dp") == F.col("__day")).alias("observed"),
    )


WAREHOUSE_ORACLES["resample_interpolate_linear"] = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value FROM events
),
daily AS (
  SELECT user_id, day,
         round(CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR)
                    AS DOUBLE) / count(*), 6) AS v
  FROM ev GROUP BY 1, 2
),
grid AS (
  SELECT user_id AS u,
         unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE
           AS day
  FROM ev GROUP BY user_id
),
j AS (
  SELECT grid.u, grid.day AS gday,
         last_value(daily.day IGNORE NULLS) OVER (
           PARTITION BY grid.u ORDER BY grid.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dp,
         last_value(daily.v IGNORE NULLS) OVER (
           PARTITION BY grid.u ORDER BY grid.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
         first_value(daily.day IGNORE NULLS) OVER (
           PARTITION BY grid.u ORDER BY grid.day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS dn,
         first_value(daily.v IGNORE NULLS) OVER (
           PARTITION BY grid.u ORDER BY grid.day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn
  FROM grid LEFT JOIN daily
    ON grid.u = daily.user_id AND grid.day = daily.day
)
SELECT u AS user_id, gday AS day,
       CASE WHEN dp = dn THEN vp
            ELSE vp + (vn - vp) *
                 (CAST(gday - dp AS DOUBLE) / CAST(dn - dp AS DOUBLE))
       END AS interp_value,
       dp = gday AS observed
FROM j
"""
WAREHOUSE_QUERIES["resample_interpolate_linear"] = q_resample_interpolate_linear


# ---------------------------------------------------------------------------
# SQL scalar function (Spark 4 CREATE FUNCTION ... RETURN) — the
# engine-side UDF surface that is NOT a slow path
# ---------------------------------------------------------------------------


def q_sql_macro_clamp(spark, sf_dir):
    """SQL SCALAR FUNCTION surface: a reusable transformation defined
    as `CREATE TEMPORARY FUNCTION ... RETURNS ... RETURN <expr>` —
    Spark 4's SQL UDF. Unlike Python UDFs this is NOT a slow path:
    the body is inlined into the plan at resolution time, so it stays
    inside whole-stage codegen with zero serialization (the reference
    encodes its shared clamp/sentinel ladders by copy-pasting SQL
    between Athena views — view_defi_borrow_features.sql — this is the
    maintainable engine-side form). The oracle inlines the identical
    expression (DuckDB macros would be the equivalent surface there).

    Expression is libm-free (sqrt is IEEE-exact, correctly rounded in
    both engines): clamp value into [0, 500], then √(clamped)·10 —
    emitted RAW: identical operands through identical IEEE ops are
    bit-equal, while a 6 dp round would reintroduce the 1-ULP
    cross-engine boundary trap (sqrt outputs are dense irrationals;
    see resample_interpolate_linear)."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION value_ladder(x DOUBLE) "
        "RETURNS DOUBLE "
        "RETURN sqrt(least(greatest(x, 0.0D), 500.0D)) * 10.0D"
    )
    ev = _events(spark, sf_dir)
    ev.select("event_id", "value").createOrReplaceTempView("v_ev_ladder")
    return spark.sql(
        "SELECT event_id, value_ladder(value) AS shaped_value "
        "FROM v_ev_ladder"
    )


WAREHOUSE_ORACLES["sql_macro_clamp"] = """
SELECT event_id,
       sqrt(least(greatest(value, 0.0), 500.0)) * 10.0 AS shaped_value
FROM events
"""
WAREHOUSE_QUERIES["sql_macro_clamp"] = q_sql_macro_clamp


# ---------------------------------------------------------------------------
# Approximate percentile (GK sketch) — exact in the small-group regime
# ---------------------------------------------------------------------------

APPROX_PCT_ACCURACY = 1_000_000


def q_approx_percentile_disc(spark, sf_dir):
    """APPROXIMATE PERCENTILE via percentile_approx (Greenwald-Khanna
    sketch): per event type, the p50/p90 of value. The GK sketch is
    EXACT while a group holds ≤ accuracy values (it keeps them all and
    answers the discrete percentile — the smallest value whose rank
    ≥ ⌈p·n⌉), which is DuckDB's quantile_disc — so the gate pins the
    sketch's exact regime against the literal discrete quantile.

    100 TB notes: this is the mergeable-quantile scale path the exact
    percentile (percentile_bands) can't take — GK partials are
    fixed-size (O(accuracy) not O(n)), combine map-side, and keep the
    ε = 1/accuracy rank-error guarantee after any merge order. Past
    the exact regime answers are rank-ε-approximate BY DESIGN; pick
    accuracy from the error budget, not the data size."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.percentile_approx(
            "value", 0.5, APPROX_PCT_ACCURACY
        ).alias("p50_value"),
        F.percentile_approx(
            "value", 0.9, APPROX_PCT_ACCURACY
        ).alias("p90_value"),
    )


WAREHOUSE_ORACLES["approx_percentile_disc"] = """
SELECT event_type,
       quantile_disc(value, 0.5) AS p50_value,
       quantile_disc(value, 0.9) AS p90_value
FROM events GROUP BY 1
"""
WAREHOUSE_QUERIES["approx_percentile_disc"] = q_approx_percentile_disc


# ---------------------------------------------------------------------------
# LATERAL correlated subquery — per-row top-N without a self-join
# ---------------------------------------------------------------------------


def q_lateral_top_orders(spark, sf_dir):
    """CORRELATED LATERAL SUBQUERY (SQL `, LATERAL (...)`) — "for each
    customer, their top-2 orders by price": the row-wise-subquery
    surface that reads like a loop but must NOT execute like one. The
    oracle is the identical LATERAL SQL on DuckDB.

    Catalyst decorrelates the per-row ORDER BY ... LIMIT 2 into
    WindowGroupLimit (rank ≤ 2 pruned BEFORE the window exchange, the
    same partial-group-limit machinery as knn_graph_ivf) + one hash
    join — verified in the plan; a naive engine would re-execute the
    subquery per outer row (O(|customers|) scans) or fall into a
    nested loop (plan-sweep-banned). Ties break on o_orderkey so the
    top-2 boundary is engine-independent."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql("""
        SELECT c_custkey, t.o_orderkey,
               CAST(t.o_totalprice AS DOUBLE) AS top_price
        FROM v_customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM v_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) t
    """)


WAREHOUSE_ORACLES["lateral_top_orders"] = """
SELECT c_custkey, t.o_orderkey,
       CAST(CAST(t.o_totalprice AS VARCHAR) AS DOUBLE) AS top_price
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
"""
WAREHOUSE_QUERIES["lateral_top_orders"] = q_lateral_top_orders


# ---------------------------------------------------------------------------
# Window rank-family completeness: percent_rank / cume_dist / nth_value
# ---------------------------------------------------------------------------


def q_window_rank_family(spark, sf_dir):
    """The remaining analytic rank functions in one pass:
    percent_rank (relative rank in [0,1]), cume_dist (fraction ≤
    current), nth_value(2) (the per-user second-smallest value as a
    frame-navigating lookup). Completes the window surface beside
    row_number/rank/ntile (quality_deciles), lead/lag (scd2), RANGE
    frames (range_frame_weekly_sum) and session windows.

    Determinism: ORDER BY (value, event_id) is a total order, so every
    rank statistic is a ratio of integers both engines compute
    identically in IEEE doubles — no rounding needed. ONE window spec
    → one shuffle on user_id, all four functions evaluated in a single
    window operator (verified: one Window node in the plan)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("value", 2).over(wf).alias("second_smallest"),
    )


WAREHOUSE_ORACLES["window_rank_family"] = """
SELECT event_id, user_id,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       nth_value(value, 2) OVER (
         PARTITION BY user_id ORDER BY value, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS second_smallest
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
"""
WAREHOUSE_QUERIES["window_rank_family"] = q_window_rank_family


# ---------------------------------------------------------------------------
# Fact × SCD2 dimension join — status as of event time
# ---------------------------------------------------------------------------

SCD2_BROWSE_TYPES = ("view", "click")


def q_scd2_dimension_join(spark, sf_dir):
    """FACT × SCD2-DIMENSION JOIN — the classic warehouse composition:
    purchases (the fact) pick up the user's BROWSING STATE (an SCD
    type-2 dimension built from view/click runs, same machinery as the
    ``scd2_intervals`` gate) valid AT the purchase's event time:
    ``t ∈ [eff_from, eff_to)``. Purchases before a user's first browse
    interval keep a NULL state (left semantics).

    Plan shape: the interval predicate rides on a user_id EQUI-join —
    one hash join with the range as a residual filter, never a nested
    loop (plan sweep). Per-user interval counts are history-bounded;
    a dimension with huge per-key histories would switch to the
    bucketized interval join (operators/interval.py) or an as-of on
    eff_from.

    Determinism: interval construction inherits scd2_intervals' total
    order (t, event_id); the half-open [from, to) intervals of one
    user never overlap, so each fact matches AT MOST one interval —
    no tie to break."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "user_id",
        F.col("ts").cast("long").alias("t"),
        "event_type",
        "event_id",
        "value",
    )
    browse = ev.filter(F.col("event_type").isin(*SCD2_BROWSE_TYPES))
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    marked = browse.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).eqNullSafe(F.col("event_type")),
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    runs = marked.withColumn(
        "run_id", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    iv = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("t").alias("eff_from")
    )
    w2 = Window.partitionBy("user_id").orderBy("eff_from", "run_id")
    dim = iv.withColumn(
        "eff_to",
        F.coalesce(F.lead("eff_from").over(w2), F.lit(1 << 62)),
    ).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("browse_state"),
        "eff_from",
        "eff_to",
    )
    fact = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "t", "value"
    )
    return fact.join(
        dim,
        (fact.user_id == dim.d_user)
        & (fact.t >= dim.eff_from)
        & (fact.t < dim.eff_to),
        "left",
    ).select(
        "event_id",
        "user_id",
        "t",
        F.round(F.col("value").cast(DEC).cast("double"), 6).alias("value"),
        "browse_state",
    )


WAREHOUSE_ORACLES["scd2_dimension_join"] = """
WITH e AS (
  SELECT user_id, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t,
         event_type, event_id, value
  FROM events
),
browse AS (
  SELECT * FROM e WHERE event_type IN ('view', 'click')
),
marked AS (
  SELECT user_id, t, event_type, event_id,
         CASE WHEN lag(event_type) OVER w IS NOT DISTINCT FROM event_type
              THEN 0 ELSE 1 END AS chg
  FROM browse WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
runs AS (
  SELECT user_id, t, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
                        ROWS UNBOUNDED PRECEDING) AS run_id
  FROM marked
),
iv AS (
  SELECT user_id, event_type, run_id, min(t) AS eff_from
  FROM runs GROUP BY 1, 2, 3
),
dim AS (
  SELECT user_id AS d_user, event_type AS browse_state, eff_from,
         coalesce(lead(eff_from) OVER w2, CAST(1 AS BIGINT) << 62) AS eff_to
  FROM iv WINDOW w2 AS (PARTITION BY d_user ORDER BY eff_from, run_id)
)
SELECT f.event_id, f.user_id, f.t,
       round(CAST(CAST(CAST(f.value AS DECIMAL(38,10)) AS VARCHAR) AS DOUBLE), 6)
         AS value,
       dim.browse_state
FROM (SELECT event_id, user_id, t, value FROM e
      WHERE event_type = 'purchase') f
LEFT JOIN dim
  ON f.user_id = dim.d_user AND f.t >= dim.eff_from AND f.t < dim.eff_to
"""
WAREHOUSE_QUERIES["scd2_dimension_join"] = q_scd2_dimension_join


# ---------------------------------------------------------------------------
# Exact median without group buffering — two-pass histogram selection
# ---------------------------------------------------------------------------

MEDIAN_BUCKETS = 1024


def q_exact_median_twopass(spark, sf_dir):
    """EXACT MEDIAN AT SCALE: Spark's exact ``percentile``/``median``
    aggregates buffer every group value in executor memory — the
    100 TB trap for large groups (percentile_bands inherits it;
    percentile_approx trades exactness away). This operator computes
    the EXACT lower median (quantile_disc 0.5 — the
    floor((n−1)/2)+1-th order statistic) with bounded memory via
    distributed selection:

      pass 1 — per-group (n, lo, hi) + a 1024-bucket histogram over
      [lo, hi]: one scan, map-side-combinable, O(B) state per group;
      the cumulative bucket counts locate the bucket holding the
      target rank and how many values fall below it;
      pass 2 — only that bucket's values (≈ n/B per group under any
      non-adversarial distribution) are sorted per group and the
      (k − below)-th is selected.

    Degenerate groups (lo == hi) short-circuit to lo with no second
    pass. A bucket bloated by heavy duplicates would recurse (narrow
    [lo, hi] to the bucket and re-histogram — O(log_B range) rounds);
    one level suffices here and the recursion is the documented scale
    path. Bucket routing is float arithmetic but only ROUTES values —
    the selected order statistic is exact regardless of rounding,
    because ranks are integers counted exactly."""
    from pyspark.sql import Window

    B = MEDIAN_BUCKETS
    ev = _events(spark, sf_dir).select("event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )
    k = (F.floor((F.col("n") - 1) / 2) + 1).alias("k")
    stats = stats.select("event_type", "n", "lo", "hi", k)

    idx = F.when(F.col("lo") == F.col("hi"), F.lit(0)).otherwise(
        F.least(
            F.lit(B - 1),
            F.floor(
                (F.col("value") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * B
            ).cast("int"),
        )
    )
    routed = ev.join(F.broadcast(stats), "event_type").select(
        "event_type", "value", idx.alias("bidx")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bidx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    buckets = (
        routed.groupBy("event_type", "bidx")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("cum", F.sum("cnt").over(wcum))
    )
    target = (
        buckets.join(F.broadcast(stats.select("event_type", "k", "lo", "hi")),
                     "event_type")
        .filter((F.col("cum") >= F.col("k")) & (F.col("cum") - F.col("cnt") < F.col("k")))
        .select(
            "event_type",
            F.col("bidx").alias("tb"),
            (F.col("k") - (F.col("cum") - F.col("cnt"))).alias("local_k"),
            "lo",
            "hi",
        )
    )
    degen = target.filter(F.col("lo") == F.col("hi")).select(
        "event_type", F.col("lo").alias("median_value")
    )
    wv = Window.partitionBy("event_type").orderBy("value")
    tsel = (
        target.filter(F.col("lo") != F.col("hi"))
        .select(
            F.col("event_type").alias("t_et"),
            "tb",
            "local_k",
        )
    )
    picked = (
        routed.join(
            F.broadcast(tsel),
            (routed.event_type == tsel.t_et) & (routed.bidx == tsel.tb),
        )
        .select("event_type", "value", "local_k")
        .withColumn("__rn", F.row_number().over(wv))
        .filter(F.col("__rn") == F.col("local_k"))
        .select("event_type", F.col("value").alias("median_value"))
    )
    return picked.unionByName(degen)


WAREHOUSE_ORACLES["exact_median_twopass"] = """
SELECT event_type, quantile_disc(value, 0.5) AS median_value
FROM events GROUP BY 1
"""
WAREHOUSE_QUERIES["exact_median_twopass"] = q_exact_median_twopass


# ---------------------------------------------------------------------------
# Presto/Athena dialect compatibility — the reference's SQL text on Spark
# ---------------------------------------------------------------------------


def q_presto_dialect_features(spark, sf_dir):
    """PRESTO/ATHENA DIALECT EXECUTION: a feature query written in the
    reference's Athena dialect — ``to_unixtime`` (the construct the
    reference's lending/liquidation views actually use,
    view_defi_lending_time_and_count_features.sql:6), Presto's 3-arg
    ``date_add``/``date_diff``, ``arbitrary()`` — executed verbatim
    through ``sources/presto_compat.py`` (SQL-UDF shims + conservative
    textual rewrites). This is the migration surface: a reference user
    pastes their Athena SQL and runs it on Spark unchanged. The
    DuckDB oracle re-expresses the same semantics natively.

    time_since uses the injected-now discipline (a fixed anchor, like
    the reference's ``current_timestamp`` pinned at run start)."""
    from ..sources.presto_compat import run_presto_sql

    _events(spark, sf_dir).createOrReplaceTempView("v_events")
    # Athena-dialect text (as a reference user would write it)
    # the reference's pattern: to_unixtime on the pinned "now", integer
    # epochs on the event side
    # (view_defi_lending_time_and_count_features.sql:6)
    sql = """
        SELECT user_id,
               cast(to_unixtime(timestamp '2026-01-01 00:00:00') as decimal)
                 - max(cast(to_unixtime(ts) as bigint))
                 AS time_since_last_event,
               date_diff('day', min(ts), max(ts)) AS active_span_days,
               date_add('day', 30, max(ts)) AS retention_deadline,
               arbitrary(least_type) AS sample_type,
               count(*) AS n_events
        FROM (
          SELECT user_id, ts, min(event_type) OVER (PARTITION BY user_id)
                   AS least_type
          FROM v_events
        )
        GROUP BY user_id
    """
    out = run_presto_sql(spark, sql)
    # normalize for the cross-engine compare (decimal -> double via the
    # standard discipline; timestamp -> epoch)
    return out.select(
        "user_id",
        F.col("time_since_last_event").cast("double").alias(
            "time_since_last_event"
        ),
        "active_span_days",
        F.col("retention_deadline").cast("long").alias("retention_deadline"),
        "sample_type",
        "n_events",
    )


# FIXED anchor epoch for 2026-01-01 UTC
_PRESTO_ANCHOR = 1_767_225_600

# Elapsed-truncated day difference (Presto/Spark semantics) — DuckDB's
# native date_diff counts calendar-boundary crossings instead, so the
# oracle derives the span from integer epochs.
WAREHOUSE_ORACLES["presto_dialect_features"] = f"""
SELECT user_id,
       CAST(CAST(({_PRESTO_ANCHOR}
         - max(CAST(epoch_us(ts) // 1000000 AS BIGINT))) AS VARCHAR) AS DOUBLE)
         AS time_since_last_event,
       CAST((max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000
            AS BIGINT) AS active_span_days,
       CAST(epoch_us(max(ts) + INTERVAL 30 DAY) // 1000000 AS BIGINT)
         AS retention_deadline,
       min(event_type) AS sample_type,
       count(*) AS n_events
FROM events
GROUP BY user_id
"""
WAREHOUSE_QUERIES["presto_dialect_features"] = q_presto_dialect_features


# ---------------------------------------------------------------------------
# Join-cardinality audit — the many-to-many pre-flight
# ---------------------------------------------------------------------------


def q_join_cardinality_audit(spark, sf_dir):
    """JOIN-CARDINALITY AUDIT: before shipping a join at 100 TB,
    predict its output size and multiplicity profile from per-key
    counts alone — Σ cnt_a·cnt_b over matching keys IS the exact
    inner-join row count, computed from two tiny key-count frames
    instead of the join itself. The companion diagnostic to
    key_skew_profile: skew tells you HOW to shuffle, this tells you
    whether the join is the join you meant (an accidental
    many-to-many shows up as predicted_rows ≫ both inputs and
    max_mult_a·max_mult_b ≫ 1 long before the cluster discovers it).

    Audited join: orders ⋈ lineitem on orderkey (1:N by
    construction — max_mult_a = 1 is itself the audited invariant).

    100 TB notes: two map-side-combinable count aggregates + one
    equi-join of |keys|-sized frames + a 1-row rollup; never touches
    the joined payload."""
    a = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    b = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    both = a.join(b, "k")
    return both.agg(
        F.count(F.lit(1)).alias("n_matching_keys"),
        F.sum(F.col("ca") * F.col("cb")).alias("predicted_join_rows"),
        F.max("ca").alias("max_mult_left"),
        F.max("cb").alias("max_mult_right"),
        F.sum(
            F.when((F.col("ca") > 1) & (F.col("cb") > 1), 1).otherwise(0)
        ).alias("n_many_to_many_keys"),
    )


WAREHOUSE_ORACLES["join_cardinality_audit"] = """
WITH a AS (SELECT o_orderkey AS k, count(*) AS ca FROM orders GROUP BY 1),
b AS (SELECT l_orderkey AS k, count(*) AS cb FROM lineitem GROUP BY 1),
matched AS (SELECT a.k, ca, cb FROM a JOIN b ON a.k = b.k)
SELECT count(*) AS n_matching_keys,
       SUM(ca * cb) AS predicted_join_rows,
       max(ca) AS max_mult_left,
       max(cb) AS max_mult_right,
       SUM(CASE WHEN ca > 1 AND cb > 1 THEN 1 ELSE 0 END)
         AS n_many_to_many_keys
FROM matched
"""
WAREHOUSE_QUERIES["join_cardinality_audit"] = q_join_cardinality_audit


# ---------------------------------------------------------------------------
# Market-basket pairs — apriori-pruned co-occurrence with support /
# confidence / lift (the association-rule shape every retail warehouse
# and every "products frequently bought together" feature runs)
# ---------------------------------------------------------------------------

BASKET_MIN_SUPPORT = 2  # orders; pair AND item floor (apriori monotone)


def q_market_basket_pairs(spark, sf_dir):
    """MARKET-BASKET PAIR MINING: unordered part pairs that co-occur in
    at least ``BASKET_MIN_SUPPORT`` orders, with exact-integer support,
    per-direction confidence, and lift (all floor-ppm — no float
    division anywhere, so the cells are bit-identical cross-engine).

    Apriori pruning is the scale story: an infrequent ITEM can never be
    in a frequent PAIR (support is anti-monotone), so the basket
    self-join runs only over items that individually clear the floor —
    at real support floors (0.1%+) this collapses the pair space by
    orders of magnitude before any pair is materialized.

    100 TB notes: baskets are (order, part) DISTINCT pairs — the
    self-join key is l_orderkey, so pair generation is
    Σ basket_size² per order (TPC-H baskets are ≤13 items), linear in
    orders, not |parts|². The frequent-item table is corpus-derived →
    both its semi-join and the two stat joins are pinned shuffle_hash
    (never estimate-broadcast — the sf10 lesson); the total-order count
    rides as an uncorrelated scalar subquery (no 1-row join)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        # the basket relation feeds FIVE consumers (total count, item
        # support, both pair-join sides via the semi join) — without
        # materialization each consumer re-scans the fact table and
        # re-runs the distinct shuffle (7 scans in the naive plan).
        # DISK_ONLY, not localCheckpoint: checkpoint blocks are
        # memory-first, and at the 100x probe their caching competed
        # with the distinct's own hash aggregate inside the same stage
        # (32 concurrent tasks, unified memory) until tasks died with
        # AGGREGATE_OUT_OF_MEMORY. Disk-backed persistence removes the
        # storage-vs-execution contention entirely; the relation is 2
        # bigints/row, so the re-read is sequential-scan cheap.
    )
    from pyspark.storagelevel import StorageLevel

    li = li.persist(StorageLevel.DISK_ONLY)
    li.count()  # materialize before fan-out
    n_orders = li.select(F.countDistinct("o").alias("n"))
    item_n = li.groupBy("p").agg(F.count(F.lit(1)).alias("n_item"))
    freq = item_n.filter(F.col("n_item") >= BASKET_MIN_SUPPORT)
    items_f = li.join(freq.hint("shuffle_hash"), "p", "left_semi")
    a = items_f.select(F.col("o"), F.col("p").alias("p1"))
    b = items_f.select(F.col("o"), F.col("p").alias("p2"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("pair_orders"))
        .filter(F.col("pair_orders") >= BASKET_MIN_SUPPORT)
    )
    stats = (
        pairs.join(
            freq.hint("shuffle_hash").select(
                F.col("p").alias("p1"), F.col("n_item").alias("n1")
            ),
            "p1",
        )
        .join(
            freq.hint("shuffle_hash").select(
                F.col("p").alias("p2"), F.col("n_item").alias("n2")
            ),
            "p2",
        )
        .withColumn("__N", n_orders.scalar())
    )
    return stats.select(
        "p1",
        "p2",
        "pair_orders",
        "n1",
        "n2",
        F.expr("CAST(pair_orders * 1000000 DIV n1 AS BIGINT)").alias("conf12_ppm"),
        F.expr("CAST(pair_orders * 1000000 DIV n2 AS BIGINT)").alias("conf21_ppm"),
        # The lift numerator (pair_orders · N · 1e6) exceeds BIGINT long
        # before the corpus is interesting (N·pair_orders ≳ 9e12) — ANSI
        # Spark throws, non-ANSI silently wraps, DuckDB promotes; the
        # DECIMAL(38,0) operands keep the product exact in both engines
        # (DuckDB side uses HUGEINT — its DECIMAL `//` hops via DOUBLE).
        # The QUOTIENT fits BIGINT by construction (≤ N · 1e6 / n1).
        F.expr(
            "CAST(CAST(pair_orders AS DECIMAL(38,0)) * __N * 1000000"
            " DIV (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"
        ).alias("lift_ppm"),
    )


WAREHOUSE_ORACLES["market_basket_pairs"] = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
freq AS (
  SELECT p, count(*) AS n_item FROM items GROUP BY 1
  HAVING count(*) >= 2
),
items_f AS (
  SELECT o, p FROM items WHERE p IN (SELECT p FROM freq)
),
pairs AS (
  SELECT a.p AS p1, b.p AS p2, count(*) AS pair_orders
  FROM items_f a JOIN items_f b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
n AS (SELECT count(DISTINCT o) AS total_orders FROM items)
SELECT p1, p2, pair_orders, f1.n_item AS n1, f2.n_item AS n2,
       CAST(pair_orders * 1000000 // f1.n_item AS BIGINT) AS conf12_ppm,
       CAST(pair_orders * 1000000 // f2.n_item AS BIGINT) AS conf21_ppm,
       CAST(CAST(pair_orders AS HUGEINT) * (SELECT total_orders FROM n) * 1000000
            // (CAST(f1.n_item AS HUGEINT) * f2.n_item) AS BIGINT) AS lift_ppm
FROM pairs
JOIN freq f1 ON pairs.p1 = f1.p
JOIN freq f2 ON pairs.p2 = f2.p
"""
WAREHOUSE_QUERIES["market_basket_pairs"] = q_market_basket_pairs


# ---------------------------------------------------------------------------
# Grouped linear trend — per-key closed-form OLS (the "is this user's
# activity growing" feature; one aggregate pass, no ML library)
# ---------------------------------------------------------------------------

TREND_EPOCH_BASE = 1_600_000_000  # fixed x-origin: keeps x² sums small


def q_grouped_linear_trend(spark, sf_dir):
    """GROUPED LINEAR TREND: per-user ordinary-least-squares slope and
    intercept of event ``value`` against time, from the closed form

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    — i.e. regression as a plain aggregate: ONE pass builds the five
    sufficient statistics per key, so the operator is a groupBy, not an
    ML-library fit. Cross-engine determinism: Σxy / Σy / Σx² accumulate
    in DECIMAL (exact); the final slope arithmetic runs on the hopped
    doubles with identical expression structure in both engines, and
    IEEE mult/sub/div are correctly rounded — so the doubles are
    bit-identical. x is shifted to a FIXED epoch base (not per-group
    min — that would need a second pass) to keep Σx² inside
    decimal range at any corpus size.

    100 TB notes: map-side partial aggregation on user_id (5 numeric
    partials/key); no join, no window, no driver work. Degenerate keys
    (n < 2 or a single distinct timestamp) are filtered by den > 0."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        (F.col("ts").cast("long") - F.lit(TREND_EPOCH_BASE)).alias("x"),
        "value",
    )
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("value").cast("decimal(38,10)")).alias("sy_d"),
        F.sum(F.expr("CAST(x * x AS DECIMAL(38,0))")).alias("sxx_d"),
        F.sum(
            F.expr("CAST(x AS DECIMAL(18,0)) * CAST(value AS DECIMAL(19,10))")
        ).alias("sxy_d"),
    )
    doubles = agg.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.col("n").cast("double").alias("nd"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy_d").cast("double").alias("syd"),
        F.col("sxx_d").cast("double").alias("sxxd"),
        F.col("sxy_d").cast("double").alias("sxyd"),
    )
    return (
        doubles.withColumn("den", F.expr("nd * sxxd - sxd * sxd"))
        .filter(F.col("den") > 0)
        .select(
            "user_id",
            "n_events",
            F.expr("((nd * sxyd - sxd * syd) / den) * 86400.0").alias(
                "slope_per_day"
            ),
            F.expr(
                "(syd - ((nd * sxyd - sxd * syd) / den) * sxd) / nd"
            ).alias("intercept_at_base"),
        )
    )


WAREHOUSE_ORACLES["grouped_linear_trend"] = f"""
WITH ev AS (
  SELECT user_id, {epoch_sql()} - 1600000000 AS x, value FROM events
),
agg AS (
  SELECT user_id,
         count(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         SUM(CAST(value AS DECIMAL(38,10))) AS sy_d,
         SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx_d,
         SUM(CAST(x AS DECIMAL(18,0)) * CAST(value AS DECIMAL(19,10)))
           AS sxy_d
  FROM ev GROUP BY 1
),
doubles AS (
  SELECT user_id, n AS n_events,
         CAST(n AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sxd,
         CAST(CAST(sy_d AS VARCHAR) AS DOUBLE) AS syd,
         CAST(CAST(sxx_d AS VARCHAR) AS DOUBLE) AS sxxd,
         CAST(CAST(sxy_d AS VARCHAR) AS DOUBLE) AS sxyd
  FROM agg
)
SELECT user_id, n_events,
       ((nd * sxyd - sxd * syd) / den) * 86400.0 AS slope_per_day,
       (syd - ((nd * sxyd - sxd * syd) / den) * sxd) / nd
         AS intercept_at_base
FROM (SELECT *, nd * sxxd - sxd * sxd AS den FROM doubles)
WHERE den > 0
"""
WAREHOUSE_QUERIES["grouped_linear_trend"] = q_grouped_linear_trend


# ---------------------------------------------------------------------------
# k-anonymity suppression — the privacy gate a dataset release runs
# before quasi-identifiers leave the warehouse
# ---------------------------------------------------------------------------

K_ANONYMITY = 5


def q_k_anonymity_suppress(spark, sf_dir):
    """K-ANONYMITY SUPPRESSION: every row whose quasi-identifier
    combination (market segment × nation) is shared by fewer than
    ``K_ANONYMITY`` customers gets its QI columns suppressed to '*'
    (cell suppression), so no released row is identifiable within a
    group smaller than k. Output is row-per-customer: key, the
    possibly-suppressed QI columns, and the group size that decided it
    (k-1 anonymity attacks audit on exactly this column).

    100 TB notes: one groupBy over the QI columns (the combo table is
    bounded by the QI domain product, here ≤ |segments|·|nations|),
    then a join back on the same keys — the aggregate reuses the
    shuffle partitioning of the join (one Exchange); no window, no
    driver work. The combo table is bounded-domain so it WOULD be
    broadcastable, but row-per-customer output needs the join either
    way; shuffle keeps the plan uniform at any k."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    combos = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    keep = F.col("group_size") >= K_ANONYMITY
    return c.join(combos, ["c_mktsegment", "c_nationkey"]).select(
        "c_custkey",
        F.when(keep, F.col("c_mktsegment")).otherwise(F.lit("*")).alias(
            "segment_released"
        ),
        F.when(keep, F.col("c_nationkey").cast("string")).otherwise(
            F.lit("*")
        ).alias("nation_released"),
        "group_size",
        (~keep).alias("suppressed"),
    )


WAREHOUSE_ORACLES["k_anonymity_suppress"] = """
WITH combos AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS group_size
  FROM customer GROUP BY 1, 2
)
SELECT c_custkey,
       CASE WHEN group_size >= 5 THEN c.c_mktsegment ELSE '*' END
         AS segment_released,
       CASE WHEN group_size >= 5 THEN CAST(c.c_nationkey AS VARCHAR)
            ELSE '*' END AS nation_released,
       group_size,
       group_size < 5 AS suppressed
FROM customer c
JOIN combos USING (c_mktsegment, c_nationkey)
"""
WAREHOUSE_QUERIES["k_anonymity_suppress"] = q_k_anonymity_suppress


# ---------------------------------------------------------------------------
# Schema-evolution read — two ingestion epochs with different schemas,
# one mergeSchema scan (the add-a-column migration every long-lived
# lake table goes through)
# ---------------------------------------------------------------------------


def q_schema_evolution_read(spark, sf_dir):
    """SCHEMA-EVOLUTION READ: epoch 1 of an ingested table was written
    before the ``quality_ppm`` column existed; epoch 2 carries it. One
    ``mergeSchema`` scan over the partitioned root returns the union
    schema with NULL backfill for pre-evolution files — the
    add-nullable-column migration path, proven against an oracle that
    recomputes both epochs from the raw table (so a dropped row, a
    wrongly-backfilled default, or a partition-column type drift all
    break the hash).

    100 TB notes: schema merge is a FOOTER-level operation (per-file
    schemas union on the driver, data pages untouched); epoch is a
    directory partition column, so epoch-pruned reads stay pruned.
    The epoch fixture is rewritten per call — two tiny overwrite
    writes — to keep the gate hermetic."""
    import os as _os

    docs = _t(spark, sf_dir, "documents")
    from .extensions import _artifact_subdir

    root = _os.path.join(
        _REPO_ROOT_WH, "artifacts", "schema_epochs", _artifact_subdir(sf_dir)
    )
    e1 = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "source")
    e2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        "source",
        F.expr("CAST(n_chars * 1000000 DIV (n_chars + 100) AS BIGINT)").alias(
            "quality_ppm"
        ),
    )
    e1.write.mode("overwrite").parquet(_os.path.join(root, "epoch=1"))
    e2.write.mode("overwrite").parquet(_os.path.join(root, "epoch=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return merged.select(
        "doc_id", "lang", "source", "quality_ppm", F.col("epoch").cast("int").alias("epoch")
    )


WAREHOUSE_ORACLES["schema_evolution_read"] = """
SELECT doc_id, lang, source, CAST(NULL AS BIGINT) AS quality_ppm,
       1 AS epoch
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, lang, source,
       CAST(n_chars * 1000000 // (n_chars + 100) AS BIGINT) AS quality_ppm,
       2 AS epoch
FROM documents WHERE doc_id % 2 = 1
"""
WAREHOUSE_QUERIES["schema_evolution_read"] = q_schema_evolution_read


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — the ORACLE-ABLE mergeable
# sketch: fixed-k state like HLL, but fully deterministic given the
# portable hash, so the whole estimate (not just bounds) hash-gates
# against DuckDB
# ---------------------------------------------------------------------------

KMV_K = 64
KMV_HASH_SPACE = 1 << 32  # _h maps into [0, 2^32)


def kmv_sketch(df, group_cols: list[str], value_col: str, k: int = KMV_K):
    """Per-group KMV sketch rows: the k smallest distinct hash values
    of ``value_col``. The SKETCH is this k-row-per-group relation —
    bounded state (k bigints/group), mergeable by taking the k
    smallest of a union of sketches (associative+commutative+
    idempotent, so partial sketches from shards/days combine exactly
    like HLL registers do).

    Ranks come from ``grouped_rank``, not a PARTITION BY window — a
    low-cardinality group column would otherwise collapse each group
    onto one task (the grouped_rank rationale; groups here are event
    types)."""
    from ..operators.ranking import grouped_rank

    hashed = (
        df.select(
            *group_cols,
            _h(
                F.concat(F.lit("kmv:"), F.col(value_col).cast("string"))
            ).alias("hh"),
        )
        .distinct()
    )
    ranked, _ = grouped_rank(hashed, group_cols, ["hh"], rank_col="__rk")
    return ranked.filter(F.col("__rk") <= k).drop("__rk")


def kmv_estimate(sketch, group_cols: list[str], k: int = KMV_K):
    """Collapse sketch rows to (n_tracked, kth_min_hash, est_distinct).
    With fewer than k distinct values the sketch IS the distinct set
    (exact count); at k the estimator is the classic unbiased
    (k−1)/U_(k) with U_(k) = kth_min/2^32, kept in BIGINT floor
    arithmetic so both engines agree bit-for-bit."""
    return (
        sketch.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_tracked"),
            F.max("hh").alias("kth_min_hash"),
        )
        .withColumn(
            "est_distinct",
            F.when(F.col("n_tracked") < k, F.col("n_tracked")).otherwise(
                F.expr(f"({k - 1} * CAST({KMV_HASH_SPACE} AS BIGINT)) DIV kth_min_hash")
            ),
        )
    )


def q_kmv_distinct_sketch(spark, sf_dir):
    """DISTINCT-COUNT SKETCH, third family: exact bitmaps
    (``bitmap_count_distinct``) are exact but state grows with the id
    domain; HLL (``approx_distinct_users``) is tiny but engine-specific
    (rows-only gate). KMV is the middle: k bigints per group, exact
    below k, ~1/sqrt(k) relative error above, mergeable across
    shards/days by keeping the k smallest of the union — and, unlike
    HLL, a DETERMINISTIC function of the portable md5 hash, so the
    DuckDB oracle pins the estimate itself, not an accuracy band.

    100 TB notes: ONE scan → distinct on (group, hash) (map-side
    combinable) → grouped_rank keeps k per group; sketch state is
    k·|groups| rows, storable and incrementally mergeable (tomorrow's
    batch unions in and re-ranks k rows/group — never rescans
    history)."""
    ev = _events(spark, sf_dir)
    sk = kmv_sketch(ev, ["event_type"], "user_id")
    return kmv_estimate(sk, ["event_type"])


WAREHOUSE_ORACLES["kmv_distinct_sketch"] = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         {H_SQL.format(x="'kmv:' || CAST(user_id AS VARCHAR)")} AS hh
  FROM events
),
r AS (
  SELECT event_type, hh,
         row_number() OVER (PARTITION BY event_type ORDER BY hh) AS rk
  FROM h
)
SELECT event_type, COUNT(*) AS n_tracked, MAX(hh) AS kth_min_hash,
       CASE WHEN COUNT(*) < {KMV_K} THEN COUNT(*)
            ELSE ({KMV_K - 1} * CAST({KMV_HASH_SPACE} AS BIGINT)) // MAX(hh)
       END AS est_distinct
FROM r WHERE rk <= {KMV_K}
GROUP BY 1
"""
WAREHOUSE_QUERIES["kmv_distinct_sketch"] = q_kmv_distinct_sketch


def q_streaming_kmv_distinct(spark, sf_dir):
    """STREAMING KMV: each micro-batch reduces to its OWN k-minimum
    sketch (per-batch overwrite directory — idempotent replay, the
    quarantine-sink discipline) and serve-time MERGE keeps the k
    smallest of the union per group. Exactness of the merge is
    structural: every member of the global k-minimum set is, within
    its batch, among that batch's k smallest, so the union of
    per-batch sketches contains the global sketch — the oracle is the
    batch operator's verbatim. This is the third mergeable-sketch
    stream twin (after streaming_count_min's linear counters and
    streaming_bitmap_distinct's OR-idempotent bitmaps): KMV's merge is
    an idempotent/commutative/associative k-min lattice join, so
    replayed batches and any arrival order converge.

    100 TB notes: per-batch work is batch-proportional; state is
    ≤ k·|groups| rows per batch however many events arrive (recorded
    per batch in STREAM_STATE_METRICS by ``streaming/ledger.py`` —
    measured, not argued); the serve merge reads n_batches·k·|groups|
    fixed-size rows, the same path per-executor partial sketches take
    on a real cluster."""
    from ..operators.ranking import grouped_rank
    from ..streaming.ledger import replay

    ev = _events(spark, sf_dir).select("event_type", "user_id")
    sketches = replay(
        spark, "streaming_kmv_distinct", ev, "user_id",
        lambda batch_df, _: kmv_sketch(batch_df, ["event_type"], "user_id"),
    )
    pool = sketches.select("event_type", "hh").distinct()
    ranked, _ = grouped_rank(pool, ["event_type"], ["hh"], rank_col="__rk")
    merged = ranked.filter(F.col("__rk") <= KMV_K).drop("__rk")
    return kmv_estimate(merged, ["event_type"])


WAREHOUSE_ORACLES["streaming_kmv_distinct"] = WAREHOUSE_ORACLES[
    "kmv_distinct_sketch"
]
WAREHOUSE_QUERIES["streaming_kmv_distinct"] = q_streaming_kmv_distinct
