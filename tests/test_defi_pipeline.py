"""End-to-end DeFi pipeline test: deterministic fixtures →
raw→stage→analytics→features, asserting the FIXTURES.md output
contract + the reference's own DQ constraints + watermark idempotency."""

import math
import os
import shutil

import pyspark.sql.functions as F
import pytest

from defi_features_data_pipeline_spark.pipelines.defi import run_pipeline
from defi_features_data_pipeline_spark.pipelines.defi.fixtures import generate

NOW = 1_767_225_600  # injected evaluation timestamp

EXPECTED_COLUMNS = [
    "wallet_address",
    "unique_borrow_protocol_count",
    "unique_lending_protocol_count",
    "total_collateral_eth",
    "risk_factor",
    "total_available_borrows_eth",
    "deposit_count",
    "time_since_first_deposit",
    "deposit_amount_sum_eth",
    "liquidation_count",
    "liquidation_amount_sum_eth",
    "time_since_last_liquidated",
    "withdraw_amount_sum_eth",
    "borrow_amount_sum_eth",
    "borrow_amount_avg_eth",
    "borrow_count",
    "repay_amount_sum_eth",
    "repay_amount_avg_eth",
    "repay_count",
    "borrow_repay_diff_eth",
    "withdraw_deposit_diff_if_positive_eth",
    "total_available_borrows_avg_eth",
    "avg_weighted_risk_factor",
    "avg_risk_factor",
    "max_risk_factor",
    "risk_factor_above_threshold_daily_count",
    "total_collateral_avg_eth",
]


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("defi_lake"))
    generate(spark, base)
    yield base
    shutil.rmtree(base, ignore_errors=True)


@pytest.fixture(scope="module")
def features(spark, lake):
    return run_pipeline(spark, lake, now_epoch=NOW)


def test_27_column_contract(features):
    assert features.columns == EXPECTED_COLUMNS


def _initial_plan(df) -> str:
    """The pre-AQE physical plan of ``df``, looking through the cache."""
    plan = df._jdf.queryExecution().executedPlan()
    while True:
        kind = plan.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            plan = plan.initialPlan()
        elif kind == "InMemoryTableScanExec":
            plan = plan.relation().cachedPlan()
        else:
            return plan.toString()


def test_features_plan_budget(features):
    """The feature layer reads each source once per aggregate: the
    initial physical plan of the 27-column frame holds at most 24
    exchanges (shuffle + broadcast) and 18 parquet scans. The
    view-per-CTE port it replaced planned 121 and 75."""
    nodes = [line.lstrip(" :+-") for line in _initial_plan(features).splitlines()]
    exchanges = sum(n.startswith(("Exchange ", "BroadcastExchange ")) for n in nodes)
    scans = sum(n.startswith("FileScan parquet ") for n in nodes)
    assert exchanges <= 24, exchanges
    assert scans <= 18, scans


def test_one_row_per_spine_wallet(features, spark, lake):
    n = features.count()
    assert n == features.select("wallet_address").distinct().count()
    assert n > 0


def test_no_null_features(features):
    conds = [F.sum(F.col(c).isNull().cast("int")).alias(c) for c in features.columns]
    nulls = features.agg(*conds).first().asDict()
    assert all(v == 0 for v in nulls.values()), {k: v for k, v in nulls.items() if v}


def test_sentinels(features):
    """999999999 for wallets that never deposited / were never liquidated."""
    no_dep = features.filter(F.col("deposit_count") == 0)
    assert no_dep.filter(F.col("time_since_first_deposit") != 999999999).count() == 0
    # never-liquidated wallets carry the sentinel...
    no_liq = features.filter(F.col("liquidation_count") == 0)
    assert no_liq.filter(F.col("time_since_last_liquidated") != 999999999).count() == 0
    # ...and at least some liquidated wallet has a real time-since.
    # (A wallet with BOTH liquidated and non-liquidated borrow accounts
    # still gets the sentinel — the reference's COALESCE-0 + MIN + CASE
    # semantics, `defi_features_calculation.sql:87-95,166-172`.)
    assert (
        features.filter(F.col("time_since_last_liquidated") != 999999999).count() > 0
    )


def test_clamped_diffs_non_negative(features):
    assert features.filter(F.col("borrow_repay_diff_eth") < 0).count() == 0
    assert (
        features.filter(F.col("withdraw_deposit_diff_if_positive_eth") < 0).count() == 0
    )


def test_risk_factor_clamp_range(features):
    bad = features.filter(
        (F.col("risk_factor") < 0) | (F.col("risk_factor") > 1_000_000)
    )
    assert bad.count() == 0


def test_dq_constraints_pass(features):
    from defi_features_data_pipeline_spark.pipelines.defi.quality import (
        run_quality_gate,
    )

    result = run_quality_gate(features)  # raises on failure
    assert result.count() == 4


def test_anti_join_dropped_tokens(spark, lake, features):
    """Tokens in defi_events_tokens_to_drop must not survive into the
    analytics event tables (transformations.sql:42-43,51)."""
    drop = {
        r["contract_address"]
        for r in spark.read.parquet(f"{lake}/sandbox/defi_events_tokens_to_drop").collect()
    }
    borrow = spark.read.parquet(f"{lake}/analytics/transpose_borrow_events")
    assert borrow.filter(F.col("token_address").isin(*drop)).count() == 0


def test_addresses_lowercased(spark, lake, features):
    stage_b = spark.read.parquet(f"{lake}/stage/transpose_borrow_events")
    mixed = stage_b.filter(F.col("market_address") != F.lower(F.col("market_address")))
    assert mixed.count() == 0


def test_incremental_idempotent(spark, lake, features):
    """Second run with no new raw data: stage row counts unchanged
    (the reference's watermark property, SURVEY §5.4)."""
    before = spark.read.parquet(f"{lake}/stage/transpose_borrow_events").count()
    run_pipeline(spark, lake, now_epoch=NOW)
    after = spark.read.parquet(f"{lake}/stage/transpose_borrow_events").count()
    assert before == after


def test_serving_upsert(spark, lake, features):
    served = spark.read.parquet(f"{lake}/features/defi_features_serving")
    assert "walletAddress" in served.columns
    assert served.count() == features.count()


def _rows_equivalent(rows_a, rows_b):
    """Exact on every non-float column; ULP-tolerant (rel 1e-9) on
    floats. Two physical layouts of the same row set reduce double
    sums in different orders — Spark does not (and cannot) promise
    bit-stable float reduction across layouts, so bit-equality on
    float AGGREGATES is not part of the batch/streaming contract;
    value-equality to 1e-9 is."""
    if len(rows_a) != len(rows_b):
        return False
    for ra, rb in zip(rows_a, rows_b):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if not math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-12):
                    return False
            elif va != vb:
                return False
    return True


def test_streaming_mode_equivalence(spark, lake, features, tmp_path_factory):
    """§2.9 e2e: ``run_pipeline(streaming=True)`` stages all three
    staged inputs (5 event streams, market data, account positions)
    via availableNow file streams (checkpointed, exactly-once by file)
    and must emit the same 27-column table the batch watermark path
    emits from the same fixtures — same row set, exact non-float
    values, float aggregates to 1e-9 (see ``_rows_equivalent``)."""
    base = str(tmp_path_factory.mktemp("defi_lake_stream"))
    generate(spark, base)  # deterministic: same content as `lake`
    try:
        stream_features = run_pipeline(spark, base, now_epoch=NOW, streaming=True)
        assert stream_features.columns == features.columns
        batch_rows = sorted(map(tuple, features.collect()))
        stream_rows = sorted(map(tuple, stream_features.collect()))
        assert _rows_equivalent(stream_rows, batch_rows)
        # the streamed stage layer must actually exist for all three
        # staged inputs (not silently fall back to the batch path)
        for t in (
            "transpose_borrow_events",
            "the_graph_historical_market_data",
            "the_graph_historical_account_positions",
        ):
            assert spark.read.parquet(f"{base}/stage/{t}").count() > 0
            assert os.path.isdir(f"{base}/_checkpoints/stage_{t}")
        # re-run: checkpoint marks all files processed -> nothing new
        again = run_pipeline(spark, base, now_epoch=NOW, streaming=True)
        assert _rows_equivalent(sorted(map(tuple, again.collect())), batch_rows)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_cli_entry_point(spark, lake, features, capsys):
    """`python -m defi_features_data_pipeline_spark` contract: runs the
    pipeline over a lake dir and reports the wallet count (idempotent
    re-run on the already-built module-scoped lake)."""
    from defi_features_data_pipeline_spark.__main__ import main

    rc = main(["--base-dir", lake, "--now-epoch", str(NOW)])
    assert rc == 0
    out = capsys.readouterr().out
    assert f"defi_features: {features.count()} wallets" in out


def test_run_metrics_observability(spark, lake, features):
    """``run_pipeline(metrics=...)`` reports rows appended per
    incremental layer and the features row count (measured by
    observe() inside the write job). On an already-materialized lake
    every incremental layer appends 0 — exactly the reading an
    operator uses to tell "no new data" from "stuck watermark" — and
    features_rows equals the spine width."""
    metrics: dict = {}
    out = run_pipeline(spark, lake, now_epoch=NOW, metrics=metrics)
    assert set(metrics["stage_appended"]) == {
        "borrow", "deposit", "repay", "withdraw", "liquidation"
    }
    assert all(v == 0 for v in metrics["stage_appended"].values())
    assert (
        metrics["analytics_appended"]["market_data_and_account_positions"] == 0
    )
    assert metrics["features_rows"] == out.count()
    assert metrics["features_rows"] > 0


def test_certified_snapshot_pairs_features_with_dq_report(spark, lake, features):
    """The analytics layer publishes features + the DQ report that
    certified them as ONE cross-table snapshot: both resolve from the
    same version, the feature table matches the serving contract row
    count, and the report certifies a passing run (all is_fail false).
    The snapshot also carries the `quarantine` table (rows that failed
    row-attributable constraints, with dq_reasons) so certified
    consumers never receive failing rows unknowingly — empty on this
    healthy lake."""
    from defi_features_data_pipeline_spark.sources.fsutil import (
        snapshot_resolve,
        snapshot_versions,
    )

    root = f"{lake}/analytics/defi_features_certified"
    versions = snapshot_versions(spark, root)
    assert versions, "pipeline did not publish a certified snapshot"
    m = snapshot_resolve(spark, root)
    assert set(m) == {"features", "dq_report", "quarantine"}
    feats = spark.read.parquet(m["features"])
    report = spark.read.parquet(m["dq_report"])
    assert feats.count() == features.count()
    rows = report.collect()
    assert rows and all(not r["is_fail"] for r in rows)
    quarantine = spark.read.parquet(m["quarantine"])
    assert "dq_reasons" in quarantine.columns
    assert quarantine.count() == 0  # healthy lake: nothing diverted
