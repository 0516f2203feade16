"""Analytics layer: event enrichment and the market-data x positions
merge.

Ported semantics, Spark-first plans:

- ``enrich_events`` = `/root/reference/src/pipelines/analytics/transformations/transformations.sql`
  (as-of 7-day price, token-metadata inner join, tokens-to-drop anti
  join, quantity_in_eth CASE). The reference's two-pass argmax join is
  replaced by the union-window asof_join (one shuffle; tie-break max
  price — documented divergence, SURVEY §7.3.2). The 256-bucket
  address-partition predicate + 3-chunk INSERT dance is dropped:
  Spark's dynamic partition write covers it (SURVEY §3.2).
- ``merge_market_positions`` = `src/pipelines/analytics/historical_market_data_and_account_positions.py:37-80`
  (snapshot-consistent multi-key join + numeraire broadcast join +
  balance_in_usd/eth math with zero-price guards).

Scale notes: token metadata / tokens-to-drop / numeraire prices are
small dims → broadcast joins (no shuffle on the fact side for them).
The only fact shuffles are the as-of key (token) and, for positions,
the (market_id, block_number) sort-merge join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ...functions.scalars import address_bucket, scale_by_decimals
from ...operators import asof_join
from .config import (
    NUMERAIRE_MARKETS,
    PRICE_LOOKBACK_SECONDS,
    ZERO_ADDRESS,
    EventConfig,
)


def enrich_events(
    events: DataFrame,
    tokens_metadata: DataFrame,
    tokens_to_drop: DataFrame,
    token_prices: DataFrame,
    cfg: EventConfig,
) -> DataFrame:
    """`transformations.sql:1-54` as a DataFrame plan."""
    tok = F.col(cfg.token_column)

    ev = (
        events.join(
            F.broadcast(tokens_metadata.select(
                F.col("contract_address"), F.col("decimals").alias("token_decimal")
            )),
            F.col("contract_address") == tok,
            "inner",
        )
        .drop("contract_address")
        .filter(F.col("token_decimal") > 0)  # tm.decimals > 0 (:52)
        .join(
            F.broadcast(tokens_to_drop.select("contract_address")),
            F.col("contract_address") == tok,
            "left_anti",  # ttd.contract_address IS NULL (:42-43,51)
        )
    )

    priced = _asof_price(ev, token_prices, cfg)

    quantity = F.col(cfg.quantity_column)
    qty_scaled = scale_by_decimals(quantity, F.col("token_decimal"))
    return priced.withColumn(
        "quantity_in_eth",
        F.when(tok == ZERO_ADDRESS, qty_scaled).otherwise(qty_scaled * F.col("price")),
    ).withColumn("index_address", F.col(cfg.index_column)).withColumn(
        "address_partition", address_bucket(cfg.index_column)
    ).drop("price")


def _asof_price(ev: DataFrame, token_prices: DataFrame, cfg: EventConfig) -> DataFrame:
    """Backward 7-day as-of price per (token, event time) — J3/A7."""
    prices = token_prices.select(
        F.col("address").alias(cfg.token_column),
        F.col("timestamp").cast("long").alias("price_ts"),
        F.col("price"),
    )
    return asof_join(
        ev,
        prices,
        on=cfg.token_column,
        left_time="epoch_timestamp",
        right_time="price_ts",
        tolerance=PRICE_LOOKBACK_SECONDS,
        right_cols=["price"],
        tie_break=F.col("price"),
    )


def merge_market_positions(
    market_data: DataFrame, positions: DataFrame, last_block_number: int = 0
) -> DataFrame:
    """`historical_market_data_and_account_positions.py:37-80`."""
    md = market_data.filter(F.col("block_number") > last_block_number)
    ap = positions.filter(F.col("block_number") > last_block_number)

    # numeraire: the ETH market row per (protocol, block) — tiny → broadcast
    mdp = F.broadcast(
        md.filter(F.col("name").isin(*NUMERAIRE_MARKETS)).select(
            F.col("input_token_price_usd").alias("input_token_price_usd_protocol"),
            F.col("block_number").alias("mdp_block_number"),
            F.col("protocol").alias("mdp_protocol"),
        )
    )

    balance_in_usd = (F.col("balance") * F.col("input_token_price_usd")) / F.pow(
        F.lit(10.0), F.col("decimals")
    )
    balance_in_eth = F.when(
        (balance_in_usd == 0.0) | (F.col("input_token_price_usd_protocol") == 0.0),
        F.lit(0.0),
    ).otherwise(
        (F.lit(1.0) / F.col("input_token_price_usd_protocol")) * balance_in_usd
    )

    joined = (
        ap.join(
            md.select(
                F.col("id").alias("md_id"),
                F.col("block_number").alias("md_block_number"),
                "input_token_price_usd",
                "decimals",
                F.col("liquidation_threshold").alias("lt_raw"),
            ),
            (F.col("md_id") == F.col("market_id"))
            & (F.col("md_block_number") == F.col("block_number")),
            "inner",
        )
        .join(
            mdp,
            (F.col("mdp_block_number") == F.col("block_number"))
            & (F.col("mdp_protocol") == F.col("protocol")),
            "inner",
        )
    )
    return joined.select(
        "balance",
        balance_in_usd.alias("balance_in_usd"),
        balance_in_eth.alias("balance_in_eth"),
        "id",
        "is_collateral",
        "market_id",
        "side",
        "account",
        (F.col("lt_raw") * 0.01).alias("liquidation_threshold"),
        "input_token_price_usd",
        "input_token_price_usd_protocol",
        "decimals",
        "protocol",
        "block_number",
        "block_timestamp",
        address_bucket("account").alias("address_partition"),
    )


def current_collateral_positions(
    current_positions: DataFrame, test_wallets: DataFrame
) -> DataFrame:
    """`current_collateral_positions.py:19-31,100-142`: full-refresh
    positions restricted to the (lowercased) test wallet set."""
    wallets = F.broadcast(
        test_wallets.select(F.lower(F.col("wallet_address")).alias("wallet_address"))
    )
    return (
        current_positions.withColumn("account", F.lower(F.col("account")))
        .join(wallets, F.col("account") == F.col("wallet_address"), "left_semi")
        .withColumn("balance", F.col("balance").cast("double"))
        .withColumn("is_collateral", F.col("is_collateral").cast("boolean"))
    )
