"""E2E cross-check: the Spark DeFi pipeline vs an independent DuckDB
port of the reference SQL, over the same raw fixtures. Wallet-by-wallet
comparison of all 27 features (exact for counts/sentinels, relative
tolerance for double aggregates whose summation order differs)."""

import math

import duckdb
import pytest

from defi_features_data_pipeline_spark.pipelines.defi import run_pipeline
from defi_features_data_pipeline_spark.pipelines.defi.fixtures import generate

import os, sys
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from defi_oracle_sql import build_oracle_sql

NOW = 1_767_225_600
INT_COLS = {
    "unique_borrow_protocol_count",
    "unique_lending_protocol_count",
    "deposit_count",
    "time_since_first_deposit",
    "liquidation_count",
    "time_since_last_liquidated",
    "borrow_count",
    "repay_count",
    "risk_factor_above_threshold_daily_count",
}


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("defi_oracle_lake"))
    generate(spark, base)
    return base


def _close(a, b, rel=1e-6, abs_tol=1e-9):
    if a is None or b is None:
        return a == b
    if isinstance(a, float) or isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=rel, abs_tol=abs_tol)
    return a == b


def test_pipeline_matches_duckdb_oracle(spark, lake):
    features = run_pipeline(spark, lake, now_epoch=NOW)
    got = {r["wallet_address"]: r.asDict() for r in features.collect()}

    con = duckdb.connect()
    res = con.execute(build_oracle_sql(lake, NOW))
    cols = [d[0] for d in res.description]
    want = {row[0]: dict(zip(cols, row)) for row in res.fetchall()}

    assert len(got) > 50, "fixture spine unexpectedly small — vacuous test"
    assert set(got) == set(want), (
        f"wallet spine mismatch: only-spark={len(set(got)-set(want))} "
        f"only-duck={len(set(want)-set(got))}"
    )

    mismatches = []
    for w, grow in got.items():
        wrow = want[w]
        for c in grow:
            if c == "wallet_address":
                continue
            rel = 0 if c in INT_COLS else 1e-6
            if c in INT_COLS:
                ok = grow[c] == wrow[c]
            else:
                ok = _close(grow[c], wrow[c])
            if not ok:
                mismatches.append((w[:12], c, grow[c], wrow[c]))
    assert not mismatches, (
        f"{len(mismatches)} feature mismatches; first 10: {mismatches[:10]}"
    )


def _priced_event(spark, base, table):
    """One raw event row of ``table`` that survives enrich_events: a
    token with non-zero decimals, not on the drop list, priced within a
    day before the event. A fixed order makes the pick independent of
    the core count."""
    import pyspark.sql.functions as F

    from defi_features_data_pipeline_spark.functions.scalars import epoch_seconds

    decimals = spark.read.parquet(f"{base}/stage/ethereum_tokens_metadata")
    dropped = spark.read.parquet(f"{base}/sandbox/defi_events_tokens_to_drop")
    prices = spark.read.parquet(f"{base}/analytics/features_daily_token_prices").select(
        "address", F.col("timestamp").alias("price_ts"))
    ev_ts = epoch_seconds("timestamp")
    return (
        spark.read.parquet(f"{base}/raw/{table}")
        .filter(F.col("quantity") > 0)
        .join(decimals.filter(F.col("decimals") > 0),
              F.col("token_address") == F.col("contract_address"), "left_semi")
        .join(dropped, F.col("token_address") == F.col("contract_address"), "left_anti")
        .join(prices, (F.col("token_address") == F.col("address"))
              & (F.col("price_ts") <= ev_ts) & (F.col("price_ts") > ev_ts - 86400),
              "left_semi")
        .orderBy("transaction_hash", "log_index")
        .limit(1)
    )


def test_protocol_pivot_edge_cases_match_oracle(spark, tmp_path_factory):
    """The feature layer folds the reference's per-protocol CTEs and
    their FULL OUTER merges into conditional aggregates. Three wallets
    pin the cases where a conditional aggregate and a join part ways:

    - one_proto: a borrow sender whose health-factor rows are all in
      one protocol (the other side of the merge is missing, COALESCE-0);
    - capped: a borrow sender whose only health-factor row is HF_CAP
      (collateral, no borrow: the COUNT(*)=1 branch of the reference);
    - no_collateral: a current-positions account with collateral in one
      protocol and borrows but no collateral in the other (that side
      exists only through lending, so it must read as missing).

    Each is injected into the raw lake, checked to reach the analytics
    layer in that shape, and the whole table is compared with the DuckDB
    oracle wallet by wallet."""
    import pyspark.sql.functions as F

    from defi_features_data_pipeline_spark.functions.scalars import HF_CAP
    from defi_features_data_pipeline_spark.pipelines.defi.config import PROTOCOLS

    base = str(tmp_path_factory.mktemp("pivot_edge_lake"))
    generate(spark, base, scale=0.3)
    one_proto, capped, no_collateral = ("0x" + c * 40 for c in "123")
    lend_proto, borrow_proto = PROTOCOLS

    borrow = _priced_event(spark, base, "transpose_borrow_events").collect()[0]
    rows = [borrow.asDict() | {"sender_address": w, "account_address": w,
                               "transaction_hash": "0x" + w[2] * 64}
            for w in (one_proto, capped, no_collateral)]
    borrow_path = f"{base}/raw/transpose_borrow_events"
    spark.createDataFrame(rows, spark.read.parquet(borrow_path).schema).write.mode(
        "append").parquet(borrow_path)

    pos_path = f"{base}/raw/the_graph_historical_account_positions"
    pos = spark.read.parquet(pos_path)
    tmpl = pos.filter(F.col("protocol") == lend_proto).orderBy("id").limit(1).collect()[0]
    pos_rows = [
        tmpl.asDict(recursive=True) | {"id": f"edge-{i}", "account": {"id": w.upper()},
                                       "side": side, "iscollateral": True}
        for i, (w, side) in enumerate(
            [(one_proto, "LENDER"), (one_proto, "BORROWER"), (capped, "LENDER")])
    ]
    spark.createDataFrame(pos_rows, pos.schema).write.mode("append").parquet(pos_path)

    cur_path = f"{base}/raw/the_graph_current_collateral_positions"
    cur = spark.read.parquet(cur_path)
    cur_rows = [
        cur.filter(F.col("protocol") == p).orderBy("id").limit(1).collect()[0].asDict()
        | {"id": f"cedge-{p}", "account": no_collateral, "side": side, "is_collateral": coll}
        for p, side, coll in [(lend_proto, "LENDER", True), (borrow_proto, "BORROWER", False)]
    ]
    spark.createDataFrame(cur_rows, cur.schema).write.mode("append").parquet(cur_path)
    wallets_path = f"{base}/sandbox/test_set_wallet_addresses"
    spark.createDataFrame([(no_collateral.upper(),)], "wallet_address string").write.mode(
        "append").parquet(wallets_path)

    features = run_pipeline(spark, base, now_epoch=NOW)
    got = {r["wallet_address"]: r.asDict() for r in features.collect()}

    # each case reached the analytics layer in its shape
    hist = spark.read.parquet(
        f"{base}/analytics/the_graph_historical_market_data_and_account_positions")
    assert {r["protocol"] for r in hist.filter(F.col("account") == one_proto).collect()} == {
        lend_proto}
    assert [r["side"] for r in hist.filter(F.col("account") == capped).collect()] == ["LENDER"]
    current = spark.read.parquet(f"{base}/analytics/the_graph_current_collateral_positions")
    assert sorted((r["protocol"], r["side"], r["is_collateral"])
                  for r in current.filter(F.col("account") == no_collateral).collect()) == [
        (lend_proto, "LENDER", True), (borrow_proto, "BORROWER", False)]
    assert got[one_proto]["max_risk_factor"] > 0
    assert got[capped]["max_risk_factor"] == 1 / HF_CAP
    assert got[no_collateral]["total_collateral_eth"] > 0

    con = duckdb.connect()
    res = con.execute(build_oracle_sql(base, NOW))
    cols = [d[0] for d in res.description]
    want = {row[0]: dict(zip(cols, row)) for row in res.fetchall()}
    assert set(got) == set(want)
    mismatches = [
        (w[:12], c, g[c], want[w][c])
        for w, g in got.items()
        for c in g
        if c != "wallet_address"
        and not (g[c] == want[w][c] if c in INT_COLS else _close(g[c], want[w][c]))
    ]
    assert not mismatches, mismatches[:10]
