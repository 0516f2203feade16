"""Pipeline runner — the Airflow DAG collapsed to function-call order
(`/root/reference/devops/airflow/dags/dag_defi_features.py:211-222`):

raw→stage (5 event tables + the 2 Graph snapshots, one fan-out),
stage→analytics (5 event enrichments + the market×positions merge + the
current-positions refresh, one fan-out), features assembly, the DQ
gate, and the serving upsert. Incremental layers use the high-watermark
append; re-running with no new raw data appends nothing (idempotent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ...sources.catalog import Catalog
from ...sources.sinks import incremental_insert, upsert_parquet
from .analytics import (
    current_collateral_positions,
    enrich_events,
    merge_market_positions,
)
from .config import EVENTS
from .features import (
    assemble_defi_features,
    borrow_pairs,
    view_borrow_account_features,
    view_borrow_features,
    view_current_health_factor,
    view_historical_health_and_risk,
    view_lending_sum_redeems,
    view_lending_time_and_count,
    view_liquidation_features,
    view_repay_features,
)
from .quality import run_quality_gate
from .stage import stage_account_positions, stage_events, stage_market_data


def run_pipeline(
    spark: SparkSession,
    base_dir: str,
    now_epoch: int,
    streaming: bool = False,
    metrics: dict | None = None,
) -> DataFrame:
    """Full raw→features run over a fixture lake at ``base_dir``.
    Returns the final 27-column defi_features DataFrame (also written
    to the analytics layer + upserted into the serving sink).

    ``streaming=True`` swaps ALL THREE staged inputs (the 5 event
    streams, market data, account positions) from the high-watermark
    predicate to ``Trigger.AvailableNow`` file-source streams with
    checkpoint-tracked offsets — the same incremental contract as the
    reference's watermark INSERT (`stage_tranformation_queries.py:20`)
    but exactly-once by FILE, so late rows whose timestamp is <= the
    current max (invisible to a max-timestamp predicate) are still
    ingested. The Graph snapshots' trailing ``.distinct()`` becomes
    Spark's stateful streaming dedup (state in the checkpoint), which
    also dedups ACROSS increments — strictly stronger than the batch
    path's per-run distinct. Both modes produce the identical
    27-column output on a static lake
    (`tests/test_defi_pipeline.py::test_streaming_mode_equivalence`)).

    ``metrics``: pass a dict to receive run observability — rows
    APPENDED per incremental stage/analytics table (what an operator
    watches for a stuck watermark: a layer appending 0 on fresh data)
    and the final feature-row count, measured by ``observe()`` inside
    the analytics write job (zero extra jobs). Batch mode only — the
    streaming path's file-source offsets live in its checkpoints and
    its progress belongs to StreamingQueryListener, not this dict."""
    cat = Catalog(spark, base_dir)

    def _record(layer: str, name: str, appended: int) -> None:
        if metrics is not None:
            metrics.setdefault(layer, {})[name] = appended

    # --- stage layer: per-table incremental normalization --------------------
    # The reference DAG fans the 5 events out in parallel ECS tasks
    # (`dag_defi_features.py:60-102`); here the fan-out is concurrent
    # job submission — Spark's scheduler interleaves the jobs across
    # executor slots (thread-safe; FIFO pools share the cluster). The
    # two Graph snapshots are independent of the events and join the
    # same fan-out.
    from concurrent.futures import ThreadPoolExecutor
    from functools import partial

    def _fan_out(*calls) -> list:
        """Run the zero-argument calls concurrently; re-raise the first
        failure."""
        with ThreadPoolExecutor(max_workers=len(calls)) as pool:
            futures = [pool.submit(c) for c in calls]
            return [f.result() for f in futures]

    def _stage(
        raw_name: str,
        transform,
        watermark_col: str,
        partition_by: list[str] | None = None,
        metric: str | None = None,
    ) -> None:
        """raw→stage for one table: a file-source stream in streaming
        mode, else the high-watermark append (rows appended recorded
        under ``metric``)."""
        target = cat.path("stage", raw_name)
        if streaming:
            from ...streaming.incremental import stream_append_incremental

            raw_path = cat.path("raw", raw_name)
            stream_append_incremental(
                spark,
                raw_path,
                spark.read.parquet(raw_path).schema,
                transform,
                target,
                cat.path("_checkpoints", f"stage_{raw_name}"),
                partition_by=partition_by,
            )
            return
        appended = incremental_insert(
            spark,
            transform(cat.read("raw", raw_name)),
            target,
            watermark_col=watermark_col,
            partition_by=partition_by,
        )
        if metric is not None:
            _record("stage_appended", metric, appended)

    _fan_out(
        *(
            partial(
                _stage,
                f"transpose_{name}_events",
                # looked up per call: pipeline_bench/tracing.py wraps stage_events
                lambda df, liq=(name == "liquidation"): stage_events(
                    df, liquidation=liq
                ),
                "epoch_timestamp",
                ["year", "month"],
                name,
            )
            for name in EVENTS
        ),
        partial(_stage, "the_graph_historical_market_data", stage_market_data, "block_number"),
        partial(
            _stage, "the_graph_historical_account_positions", stage_account_positions,
            "block_number",
        ),
    )

    # --- analytics layer -----------------------------------------------------
    tokens_metadata = cat.read("stage", "ethereum_tokens_metadata")
    tokens_to_drop = cat.read("sandbox", "defi_events_tokens_to_drop")
    token_prices = cat.read("analytics", "features_daily_token_prices")

    # same fan-out as the stage layer: the 5 per-event enrich+insert
    # jobs, the market×positions merge and the current-positions refresh
    # write separate tables, so they submit concurrently
    def _analytics_one(item) -> tuple[str, DataFrame]:
        name, cfg = item
        staged = cat.read("stage", f"transpose_{name}_events")
        enriched = enrich_events(
            staged, tokens_metadata, tokens_to_drop, token_prices, cfg
        )
        path = cat.path("analytics", f"transpose_{name}_events")
        _record(
            "analytics_appended",
            name,
            incremental_insert(
                spark, enriched, path, watermark_col="epoch_timestamp",
                partition_by=["year", "month"],
            ),
        )
        return name, spark.read.parquet(path)

    merged_path = cat.path(
        "analytics", "the_graph_historical_market_data_and_account_positions"
    )

    def _merge() -> None:
        merged = merge_market_positions(
            cat.read("stage", "the_graph_historical_market_data"),
            cat.read("stage", "the_graph_historical_account_positions"),
        )
        _record(
            "analytics_appended",
            "market_data_and_account_positions",
            incremental_insert(spark, merged, merged_path, watermark_col="block_number"),
        )

    def _refresh_current_positions() -> None:
        current_collateral_positions(
            cat.read("raw", "the_graph_current_collateral_positions"),
            cat.read("sandbox", "test_set_wallet_addresses"),
        ).write.mode("overwrite").parquet(
            cat.path("analytics", "the_graph_current_collateral_positions")
        )

    *analytics, _, _ = _fan_out(
        *(partial(_analytics_one, item) for item in EVENTS.items()),
        _merge,
        _refresh_current_positions,
    )
    analytics_events = dict(analytics)
    positions = spark.read.parquet(merged_path)
    current_pos = cat.read("analytics", "the_graph_current_collateral_positions")

    # --- feature views --------------------------------------------------------
    borrow = analytics_events["borrow"]
    pairs = borrow_pairs(borrow)
    features = assemble_defi_features(
        analytics_events,
        view_borrow_features(borrow),
        view_repay_features(analytics_events["repay"]),
        view_lending_sum_redeems(analytics_events["withdraw"]),
        view_lending_time_and_count(analytics_events["deposit"], now_epoch),
        view_historical_health_and_risk(pairs, positions),
        view_borrow_account_features(
            pairs,
            view_liquidation_features(analytics_events["liquidation"], now_epoch),
            view_current_health_factor(
                cat.read("stage", "the_graph_historical_market_data"), current_pos
            ),
        ),
    )
    obs = None
    if metrics is not None:
        from pyspark.sql import Observation, functions as F

        obs = Observation("defi_features_rows")
        features = features.observe(obs, F.count(F.lit(1)).alias("n"))
    features = features.cache()  # computed once, written to two sinks (SURVEY §4)

    if streaming:
        # Streaming DQ semantics: TABLE-level constraints (no row to
        # blame) still halt the run here, exactly like batch; ROW-
        # attributable failures do NOT halt — the serving step below
        # quarantines the offending rows and keeps serving the rest.
        # ONE evaluate() covers both (single aggregation job).
        from ...quality import DataQualityError
        from .quality import DEFI_FEATURES_SUITE, report_frame

        results = DEFI_FEATURES_SUITE.evaluate(features)
        table_level_failed = [
            c.name
            for c in DEFI_FEATURES_SUITE.constraints
            if c.row_fail is None and results[c.name]
        ]
        if table_level_failed:
            raise DataQualityError(
                f"data quality constraints failed: {table_level_failed}"
            )
        dq_report = report_frame(spark, results)
    else:
        dq_report = run_quality_gate(features)

    features.write.mode("overwrite").parquet(cat.path("analytics", "defi_features"))
    if obs is not None:
        metrics["features_rows"] = int(obs.get["n"])
    # Atomic cross-table publish: the feature table and the DQ report
    # that certified it advance together under ONE commit point — a
    # consumer can never read new features against the previous run's
    # report (sources/fsutil.py::snapshot_publish; readers use
    # snapshot_resolve(cat.path("analytics", "defi_features_certified"))).
    #
    # Streaming mode does not halt on row-attributable failures, so
    # "certified" must not quietly include rows that failed constraints:
    # the snapshot's `features` table is the CLEAN split and the failing
    # rows are published alongside as `quarantine` (with dq_reasons), so
    # certified consumers get the same rows the serving sink serves and
    # triage keeps its evidence. Batch mode halted on ANY failure above,
    # so there `features` is the full (all-clean) frame and `quarantine`
    # is empty by construction.
    from ...sources.fsutil import snapshot_publish

    from .quality import DEFI_FEATURES_SUITE as _suite

    certified_clean, certified_quarantine = _suite.split(features)
    snapshot_publish(
        spark,
        cat.path("analytics", "defi_features_certified"),
        {
            "features": certified_clean,
            "dq_report": dq_report,
            "quarantine": certified_quarantine,
        },
    )
    # serving sink: key-upsert keyed on walletAddress. Streaming mode
    # serves THROUGH the quarantine gate: the certified analytics table
    # is consumed as a checkpointed file stream, clean rows upsert,
    # row-attributable DQ failures divert to the quarantine sink.
    if streaming:
        from ...streaming.incremental import stream_upsert_with_quarantine
        from .quality import DEFI_FEATURES_SUITE

        feat_dir = cat.path("analytics", "defi_features")
        stream_upsert_with_quarantine(
            spark,
            feat_dir,
            spark.read.parquet(feat_dir).schema,
            DEFI_FEATURES_SUITE,
            cat.path("features", "defi_features_serving"),
            cat.path("features", "defi_features_quarantine"),
            cat.path("_checkpoints", "defi_features_serving"),
            key="walletAddress",
            transform=lambda df: df.withColumnRenamed(
                "wallet_address", "walletAddress"
            ),
        )
    else:
        upsert_parquet(
            spark,
            features.withColumnRenamed("wallet_address", "walletAddress"),
            cat.path("features", "defi_features_serving"),
            key="walletAddress",
        )
    return features
