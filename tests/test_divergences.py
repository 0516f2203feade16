"""Documented divergences from the reference, pinned as executable
facts (KNOWN_LIMITS.md #1): the reference's two-pass as-of join fans
out on tied max timestamps; our union-window asof_join dedups with a
deterministic tie-break."""

import pyspark.sql.functions as F

from defi_features_data_pipeline_spark.operators import asof_join


def _tied_fixture(spark):
    events = spark.createDataFrame([("tok", 100)], "token string, ets long")
    prices = spark.createDataFrame(
        [("tok", 90, 1.0), ("tok", 90, 7.0)],  # tied max timestamp
        "token string, pts long, price double",
    )
    return events, prices


def test_reference_two_pass_fans_out_on_ties(spark):
    """The reference algorithm (`transformations.sql:2-13,44-48`):
    MAX(ts) per (event, token), then equi-join back — duplicates the
    event when two price rows share the max ts."""
    events, prices = _tied_fixture(spark)
    max_ts = (
        prices.join(events, "token")
        .filter((F.col("pts") <= F.col("ets")) & (F.col("ets") - F.col("pts") <= 604800))
        .groupBy("ets", "token")
        .agg(F.max("pts").alias("max_pts"))
    )
    two_pass = events.join(max_ts, ["token", "ets"], "left").join(
        prices,
        (F.col("pts") == F.col("max_pts")) & (prices.token == events.token),
        "left",
    )
    assert two_pass.count() == 2  # fan-out: one event row became two


def test_engine_asof_dedups_ties_deterministically(spark):
    events, prices = _tied_fixture(spark)
    out = asof_join(
        events, prices, on="token", left_time="ets", right_time="pts",
        tolerance=604800, right_cols=["price"], tie_break=F.col("price"),
    )
    rows = out.collect()
    assert len(rows) == 1          # no fan-out
    assert rows[0]["price"] == 7.0  # deterministic: max price among ties


def test_feature_spine_keeps_all_null_borrow_fragment(spark, tmp_path_factory):
    """Q13-class trap (same failure mode as
    ``orders_per_customer_histogram``): the reference's COALESCE-0
    left-join feature chain silently converts to an inner join if any
    later predicate touches a right-side column. A wallet with
    deposits but ZERO borrow events produces an all-NULL borrow
    fragment — it must (a) survive into the final spine and (b) carry
    the COALESCE'd zero/sentinel borrow features, matching the
    independent DuckDB oracle wallet-by-wallet."""
    import os
    import sys

    import duckdb

    from defi_features_data_pipeline_spark.functions.scalars import epoch_seconds
    from defi_features_data_pipeline_spark.pipelines.defi import run_pipeline
    from defi_features_data_pipeline_spark.pipelines.defi.fixtures import generate

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from defi_oracle_sql import build_oracle_sql
    from test_defi_oracle import INT_COLS, NOW, _close

    base = str(tmp_path_factory.mktemp("qtrap_lake"))
    generate(spark, base, scale=0.3)

    # inject a deposit-ONLY wallet: clone a deposit row, point every
    # wallet column at a fresh address that exists in no other table
    w = "0x" + "ab" * 20
    dep_path = f"{base}/raw/transpose_deposit_events"
    dep = spark.read.parquet(dep_path)
    # the template must survive enrich_events: a token with non-zero
    # decimals, not on the drop list, priced within the as-of lookback.
    # A fixed order makes the pick independent of the core count.
    decimals = spark.read.parquet(f"{base}/stage/ethereum_tokens_metadata")
    dropped = spark.read.parquet(f"{base}/sandbox/defi_events_tokens_to_drop")
    prices = spark.read.parquet(
        f"{base}/analytics/features_daily_token_prices"
    ).select("address", F.col("timestamp").alias("price_ts"))
    ev_ts = epoch_seconds("timestamp")
    tmpl = (
        dep.filter(F.col("quantity") > 0)
        .join(
            decimals.filter(F.col("decimals") > 0),
            F.col("token_address") == F.col("contract_address"),
            "left_semi",
        )
        .join(
            dropped,
            F.col("token_address") == F.col("contract_address"),
            "left_anti",
        )
        .join(
            prices,
            (F.col("token_address") == F.col("address"))
            & (F.col("price_ts") <= ev_ts)
            & (F.col("price_ts") > ev_ts - 86400),
            "left_semi",
        )
        .orderBy("transaction_hash", "log_index")
        .limit(1)
    )
    extra = tmpl.withColumn("sender_address", F.lit(w)).withColumn(
        "account_address", F.lit(w)
    ).withColumn("transaction_hash", F.lit("0x" + "cd" * 32))
    extra.write.mode("append").parquet(dep_path)

    features = run_pipeline(spark, base, now_epoch=NOW)
    rows = features.filter(F.col("wallet_address") == w).collect()
    assert len(rows) == 1, "deposit-only wallet fell out of the left-join chain"
    got = rows[0].asDict()
    assert got["deposit_count"] >= 1
    assert got["borrow_count"] == 0  # COALESCE-0, not NULL, not dropped

    con = duckdb.connect()
    res = con.execute(build_oracle_sql(base, NOW))
    cols = [d[0] for d in res.description]
    want_rows = [dict(zip(cols, r)) for r in res.fetchall() if r[0] == w]
    assert len(want_rows) == 1, "oracle lost the deposit-only wallet"
    want = want_rows[0]
    mismatches = [
        (c, got[c], want[c])
        for c in got
        if c != "wallet_address"
        and not (got[c] == want[c] if c in INT_COLS else _close(got[c], want[c]))
    ]
    assert not mismatches, mismatches


def test_cdc_diff_applied_to_old_reproduces_new(spark, sf_dir):
    """Apply-changes invariant: old snapshot + cdc_snapshot_diff == new
    snapshot, row for row. This is the property that makes the diff a
    usable CDC feed (not just a report): deletes remove, inserts add,
    updates replace."""
    from pyspark.sql import functions as F

    from defi_features_data_pipeline_spark.queries import ALL_QUERIES
    from defi_features_data_pipeline_spark.queries.core import _t

    diff = ALL_QUERIES["cdc_snapshot_diff"](spark, sf_dir)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(F.col("o_orderdate") < "1999-01-01").select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    new = (
        o.filter(F.col("o_orderdate") < "2000-01-01")
        .filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderstatus") == "O",
                F.round(
                    F.col("o_totalprice").cast("decimal(18,4)")
                    * F.lit(1.1).cast("decimal(2,1)"),
                    2,
                ).cast("double"),
            )
            .otherwise(F.col("o_totalprice"))
            .alias("price"),
        )
    )
    dels = diff.filter(F.col("change_type") == "delete").select("o_orderkey")
    upserts = diff.filter(F.col("change_type") != "delete").select(
        "o_orderkey", F.col("new_price").alias("price")
    )
    applied = (
        old.join(dels, "o_orderkey", "left_anti")
        .join(upserts.select("o_orderkey"), "o_orderkey", "left_anti")
        .unionByName(upserts)
    )
    assert applied.exceptAll(new).count() == 0
    assert new.exceptAll(applied).count() == 0
