"""Features layer: the reference's 9 feature views + the 27-column
defi_features assembly (the reference's
`src/pipelines/features/transformations/`, file:line in each function). ``now_epoch`` is injected everywhere the reference uses
``to_unixtime(current_timestamp)`` (determinism, SURVEY §4.3).

Plan shapes: one pass per source. The reference spells every protocol
and every address role as its own CTE and merges them with FULL OUTER
joins; here they are conditional aggregates inside one aggregate, and
only the columns the 27-column contract reads are computed. Each source
is hash-partitioned once on the key of its aggregate and every later
level runs in place: the event tables on their wallet key (the
COUNT(DISTINCT) levels add no exchange), the historical positions on
account (the (account, block, protocol) rollup, the (account, block)
borrow window and the join to the borrow pairs), the health-factor legs
on sender. The latest market snapshot is a broadcast. The assembly is
one union of wallet-keyed fragments and one aggregate (a single
exchange) instead of a left-join chain.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, Window, functions as F

from ...functions.scalars import HF_CAP, HF_FLOOR, NEVER_SENTINEL
from .config import NUMERAIRE_MARKETS, PROTOCOLS


def _eth() -> Column:
    return F.abs(F.col("quantity_in_eth"))


def _lender() -> Column:
    return (F.col("side") == "LENDER") & (F.col("is_collateral") == True)  # noqa: E712


def _borrower() -> Column:
    return F.col("side") == "BORROWER"


def _per_protocol(agg, col: Column) -> list[Column]:
    """``agg`` over each protocol's rows, a missing protocol → 0 (the
    COALESCE-0 of the reference's per-protocol FULL OUTER merge)."""
    return [F.coalesce(agg(F.when(F.col("protocol") == p, col)), F.lit(0)) for p in PROTOCOLS]


def _total(cols: list[Column]) -> Column:
    return reduce(operator.add, cols)


def _per_key(events: DataFrame, key: str, *aggs: Column) -> DataFrame:
    """One aggregate over a source, shuffled once on its key: the
    partial, distinct and final aggregation levels then need no further
    exchange (a COUNT(DISTINCT) would otherwise add one)."""
    return events.repartition(key).groupBy(key).agg(*aggs)


# ---------------------------------------------------------------------------
# Per-wallet event aggregates (credit mix folded in)
# ---------------------------------------------------------------------------


def view_borrow_features(borrow: DataFrame) -> DataFrame:
    """`view_defi_borrow_features.sql:3-10` + the borrow leg of
    `view_defi_credit_mix_features.sql:14-27`."""
    return _per_key(
        borrow, "sender_address",
        F.sum(_eth()).alias("borrow_amount_sum_eth"),
        F.avg(_eth()).alias("borrow_amount_avg_eth"),
        F.countDistinct("transaction_hash").alias("borrow_count"),
        F.countDistinct("protocol_name").alias("unique_borrow_protocol_count"),
    )


def view_repay_features(repay: DataFrame) -> DataFrame:
    """`view_defi_repay_features.sql:3-10`."""
    return _per_key(
        repay, "sender_address",
        F.sum(_eth()).alias("repay_amount_sum_eth"),
        F.avg(_eth()).alias("repay_amount_avg_eth"),
        F.countDistinct("transaction_hash").alias("repay_count"),
    )


def view_lending_sum_redeems(withdraw: DataFrame) -> DataFrame:
    """`view_defi_lending_sum_redeems_features.sql:3-7` (withdraws)."""
    return _per_key(withdraw, "sender_address", F.sum(_eth()).alias("withdraw_amount_sum_eth"))


def view_lending_time_and_count(deposit: DataFrame, now_epoch: int) -> DataFrame:
    """`view_defi_lending_time_and_count_features.sql:3-9` (deposits) +
    the deposit leg of `view_defi_credit_mix_features.sql:28-41`. The
    withdraw/repay credit-mix legs only feed ``credit_mix_count_protocol``,
    which the 27-column contract does not select."""
    return _per_key(
        deposit, "sender_address",
        F.countDistinct("transaction_hash").alias("deposit_count"),
        (F.lit(now_epoch) - F.min("epoch_timestamp")).alias("time_since_first_deposit"),
        F.sum(_eth()).alias("deposit_amount_sum_eth"),
        F.countDistinct("protocol_name").alias("unique_lending_protocol_count"),
    )


def view_liquidation_features(liquidation: DataFrame, now_epoch: int) -> DataFrame:
    """`view_defi_liquidation_features.sql:3-17` — grouped by the
    liquidated ACCOUNT, with the 999999999 never-liquidated sentinel."""
    return _per_key(
        liquidation, "account_address",
        F.countDistinct("transaction_hash").alias("liquidation_total_liquidations"),
        F.sum(_eth()).alias("liquidation_total_amount_eth"),
        F.coalesce(
            F.lit(now_epoch) - F.max("epoch_timestamp"), F.lit(NEVER_SENTINEL)
        ).alias("liquidation_time_since_last_liquidated"),
    )


def borrow_pairs(borrow: DataFrame) -> DataFrame:
    """The distinct borrow (sender, account) pairs through which the
    account-keyed views reach the borrowing sender
    (`defi_features_calculation.sql:69-138`)."""
    return borrow.select("sender_address", "account_address").distinct()


# ---------------------------------------------------------------------------
# Health-factor stack
# ---------------------------------------------------------------------------


def _health_factor_case(num: Column, den: Column) -> Column:
    """The reference's 6-branch clamp ladder, encoded once
    (`view_defi_current_health_factor_features.sql:151-158` ==
    `view_defi_historical_health_and_risk_factor.sql:415-422`)."""
    hf = num / den
    return (
        F.when(F.coalesce(den, F.lit(0.0)) == 0.0, F.lit(HF_CAP))
        .when((hf == 0.0) & (den < HF_FLOOR), F.lit(HF_CAP))
        .when((hf == 0.0) & (den > HF_FLOOR), F.lit(HF_FLOOR))
        .when(hf == 0.0, F.lit(HF_FLOOR))
        .when(hf < HF_FLOOR, F.lit(HF_FLOOR))
        .otherwise(hf)
    )


def _account_health_factor(positions: DataFrame) -> DataFrame:
    """account_health_factor CTE
    (`view_defi_historical_health_and_risk_factor.sql:2-25,409-442`):
    the borrow_table / lending_table rollups (A4) as one conditional
    aggregate per (account, block, protocol), then lending LEFT JOIN
    borrow ON (account, block). That join ignores protocol, so at a
    block where an account holds both protocols each lending row pairs
    with every protocol's borrow row; the window collects those borrow
    rows and ``explode_outer`` keeps a lending row without any.

    Partitioned by account once: the rollup, the window and the join to
    the borrow pairs (on account) run without another exchange."""
    usd, eth = F.col("balance_in_usd"), F.col("balance_in_eth")
    lt = F.col("liquidation_threshold")
    lend, borrow = _lender(), _borrower()
    rollup = (
        positions.repartition("account")
        .groupBy("account", "block_number", "protocol")
        .agg(
            F.count(F.when(lend, 1)).alias("lending_rows"),
            F.sum(F.when(lend, usd * lt)).alias("health_factor_numerator"),
            F.sum(F.when(lend, eth * lt)).alias("misc_available_borrows_eth_collateral"),
            F.sum(F.when(lend, eth)).alias("misc_total_collateral_eth"),
            F.count(F.when(borrow, 1)).alias("borrow_rows"),
            F.sum(F.when(borrow, usd)).alias("total_borrow_balance"),
            F.sum(F.when(borrow, eth)).alias("total_borrow_balance_eth"),
        )
    )
    borrows = F.collect_list(
        F.when(
            F.col("borrow_rows") > 0,
            F.struct("total_borrow_balance", "total_borrow_balance_eth"),
        )
    ).over(Window.partitionBy("account", "block_number"))
    j = (
        rollup.withColumn("b", borrows)
        .filter(F.col("lending_rows") > 0)
        .withColumn("b", F.explode_outer("b"))
    )
    borrow_eth = F.col("b.total_borrow_balance_eth")
    available = F.col("misc_available_borrows_eth_collateral")
    hf = _health_factor_case(
        F.col("health_factor_numerator"), F.col("b.total_borrow_balance")
    )
    return j.select(
        "account",
        "block_number",
        "protocol",
        hf.alias("health_factor"),
        F.when(borrow_eth.isNull(), F.lit(0.0))
        .otherwise(borrow_eth * (F.lit(1.0) / hf))
        .alias("weighted_risk_factor"),
        F.coalesce(
            F.when(borrow_eth.isNull(), available).otherwise(available - borrow_eth),
            F.lit(0),
        ).alias("misc_available_borrows_eth"),
        "misc_total_collateral_eth",
    )


def view_historical_health_and_risk(pairs: DataFrame, positions: DataFrame) -> DataFrame:
    """`view_defi_historical_health_and_risk_factor.sql` and
    `view_defi_historical_count_above_threshold.sql` in one aggregate.

    Legs (`:69-103`): each borrow pair reaches the health factors of
    its account and of its sender — the OR-predicate join (J9) as one
    equi-join on the exploded role — and the UNION's dedup becomes a
    ``distinct`` over the leg values. Both reference views filter
    ``WHERE protocol = x`` after a LEFT JOIN, which makes the legs
    inner: a sender with no health-factor row in a protocol has no
    group there, and re-enters through the assembly's COALESCE-0.

    Per protocol, the FULL OUTER merge of the two per-protocol CTEs is
    a conditional aggregate (``max``/``avg`` over that protocol's rows,
    missing → 0), combined by the zero-aware averaging of `:562-571`.
    The threshold count is COUNT(DISTINCT block WHERE hf < 1.2) per
    protocol, summed — i.e. distinct (protocol, block) pairs. The
    reference's avg_health_factor (its COUNT(*)=1 branch) feeds no
    output column and is not computed."""
    hf = _account_health_factor(positions)
    keys = pairs.select(
        "sender_address",
        F.explode(F.array("account_address", "sender_address")).alias("account"),
    )
    legs = (
        keys.join(hf, "account")
        .drop("account")
        .repartition("sender_address")
        .distinct()
    )

    h = F.col("health_factor")

    def zero_aware_avg(col: Column) -> Column:
        """`:562-571`: one-sided zero → take the other side, else mean."""
        x, y = _per_protocol(F.avg, col)
        return F.when((y == 0) & (x != 0), x).when((x == 0) & (y != 0), y).otherwise((x + y) / 2)

    return legs.groupBy("sender_address").agg(
        F.greatest(*_per_protocol(lambda c: F.lit(1.0) / F.min(c), h)).alias("max_risk_factor"),
        _total(_per_protocol(F.avg, F.col("misc_total_collateral_eth")))
        .alias("total_collateral_avg_eth"),
        _total(_per_protocol(F.avg, F.col("misc_available_borrows_eth")))
        .alias("total_available_borrows_avg_eth"),
        zero_aware_avg(F.col("weighted_risk_factor")).alias("avg_weighted_risk_factor"),
        zero_aware_avg(F.lit(1.0) / h).alias("avg_risk_factor"),
        F.countDistinct(
            F.when(F.col("protocol").isin(*PROTOCOLS) & (h < 1.2),
                   F.struct("protocol", "block_number"))
        ).alias("risk_factor_above_threshold_daily_count"),
    )


def view_current_health_factor(
    market_data: DataFrame, current_positions: DataFrame
) -> DataFrame:
    """`view_defi_current_health_factor_features.sql`, the columns
    `defi_features_calculation.sql` reads: per account, summed collateral
    and available borrows, and 1 / LEAST(per-protocol health factor).

    The latest market snapshot (J10: inner join on the max block per
    market name, kept for parity) is built once and broadcast, both as
    the market prices and as the per-protocol ETH numeraire. The two
    per-protocol CTEs and their FULL OUTER merge are one aggregate per
    account with conditional sums per (protocol, side). An account
    appears only if it has lending rows in some protocol (each CTE is
    lending LEFT JOIN borrow) — an explicit count. Per protocol no
    further gate is needed: without lending rows the numerator and
    collateral sums are NULL, which yield exactly the merge's missing-
    side defaults (HF_CAP, 0). The final GROUP BY of the reference has
    one row per account and is dropped."""
    last = market_data.groupBy("name").agg(F.max("block_number").alias("max_bn"))
    latest = market_data.join(F.broadcast(last), "name").filter(
        F.col("block_number") >= F.col("max_bn")
    )
    markets = latest.select(
        F.col("id").alias("market_id"),
        "input_token_price_usd",
        "decimals",
        (F.col("liquidation_threshold") * 0.01).alias("liquidation_threshold"),
    )
    numeraire = latest.filter(F.col("name").isin(*NUMERAIRE_MARKETS)).select(
        "protocol", F.col("input_token_price_usd").alias("protocol_eth_price")
    )
    pos = current_positions.join(F.broadcast(markets), "market_id").join(
        F.broadcast(numeraire), "protocol"
    )
    usd = (F.col("balance") * F.col("input_token_price_usd")) / F.pow(
        F.lit(10.0), F.col("decimals")
    )
    eth = (F.lit(1.0) / F.col("protocol_eth_price")) * usd
    lt = F.col("liquidation_threshold")

    lend, borrow = _lender(), _borrower()

    def side_sum(p: str, side: Column, x: Column) -> Column:
        return F.sum(F.when((F.col("protocol") == p) & side, x))

    per_protocol = []
    for p in PROTOCOLS:
        per_protocol += [
            side_sum(p, lend, usd * lt).alias(f"num_{p}"),
            side_sum(p, lend, eth * lt).alias(f"avail_{p}"),
            side_sum(p, lend, eth).alias(f"coll_{p}"),
            side_sum(p, borrow, usd).alias(f"borrow_{p}"),
            side_sum(p, borrow, eth).alias(f"borrow_eth_{p}"),
        ]
    acc = pos.groupBy("account").agg(
        F.count(F.when(F.col("protocol").isin(*PROTOCOLS) & lend, 1)).alias("lending_rows"),
        *per_protocol,
    ).filter(F.col("lending_rows") > 0)

    def available(p: str) -> Column:
        avail, borrow_eth = F.col(f"avail_{p}"), F.col(f"borrow_eth_{p}")
        return F.coalesce(
            F.when(borrow_eth.isNull(), avail).otherwise(avail - borrow_eth), F.lit(0)
        )

    least_hf = F.least(*(
        F.coalesce(_health_factor_case(F.col(f"num_{p}"), F.col(f"borrow_{p}")), F.lit(HF_CAP))
        for p in PROTOCOLS
    ))
    return acc.select(
        "account",
        _total([F.coalesce(F.col(f"coll_{p}"), F.lit(0)) for p in PROTOCOLS])
        .alias("total_collateral_eth"),
        _total([available(p) for p in PROTOCOLS]).alias("total_available_borrows_eth"),
        (F.lit(1.0) / least_hf).alias("risk_factor"),
    )


def view_borrow_account_features(
    pairs: DataFrame, liquidation_f: DataFrame, current_hf_f: DataFrame
) -> DataFrame:
    """`defi_features_calculation.sql:69-138`: the account-keyed
    liquidation and current-health fragments reach the borrowing sender
    through the borrow pairs — both LEFT JOINs on the account, one
    GROUP BY sender. An account never liquidated enters the MIN as 0
    (the reference's COALESCE-0), so a sender with one such account gets
    the never-liquidated sentinel."""
    j = pairs.join(liquidation_f, "account_address", "left").join(
        current_hf_f, F.col("account_address") == F.col("account"), "left"
    )
    return j.groupBy("sender_address").agg(
        F.sum("liquidation_total_liquidations").alias("liquidation_count"),
        F.sum("liquidation_total_amount_eth").alias("liquidation_amount_sum_eth"),
        F.min(F.coalesce(F.col("liquidation_time_since_last_liquidated"), F.lit(0)))
        .alias("time_since_last_liquidated"),
        F.sum("total_collateral_eth").alias("total_collateral_eth"),
        F.sum("total_available_borrows_eth").alias("total_available_borrows_eth"),
        F.max("risk_factor").alias("risk_factor"),
    )


# ---------------------------------------------------------------------------
# Final assembly — defi_features_calculation.sql
# ---------------------------------------------------------------------------


def assemble_defi_features(
    events_by_type: dict[str, DataFrame], *fragments: DataFrame
) -> DataFrame:
    """`defi_features_calculation.sql:1-189`: the wallet spine
    (`view_distinct_defi_events_addresses.sql:2-33`: sender and account
    of all 5 event tables) LEFT JOIN every sender-keyed fragment with
    COALESCE-0, clamped diffs, sentinels, 27-column contract.

    The spine and the fragments are unioned and grouped by wallet once:
    the GROUP BY is the spine's DISTINCT, and each fragment holds at
    most one row per sender, so ``max`` picks its value. Fragment rows
    with a NULL sender are dropped, as the left join never matches
    them."""
    spine = [
        df.select(
            F.explode(F.array("sender_address", "account_address")).alias("wallet_address")
        )
        for df in events_by_type.values()
    ]
    keyed = [
        f.filter(F.col("sender_address").isNotNull()).withColumnRenamed(
            "sender_address", "wallet_address"
        )
        for f in fragments
    ]
    union = spine[0]
    for part in spine[1:] + keyed:
        union = union.unionByName(part, allowMissingColumns=True)
    values = [c for f in keyed for c in f.columns if c != "wallet_address"]
    t = union.groupBy("wallet_address").agg(
        *(F.coalesce(F.max(c), F.lit(0)).alias(c) for c in values)
    )

    def clamp_diff(a: str, b: str) -> Column:
        """`:140-152`."""
        diff = F.col(a) - F.col(b)
        return F.when(diff < 0, F.lit(0)).otherwise(diff)

    def sentinel(c: str) -> Column:
        return (
            F.when(F.col(c) == 0, F.lit(NEVER_SENTINEL))
            .otherwise(F.col(c))
            .cast("bigint")
            .alias(c)
        )

    # 27-column output contract (`:153-189`)
    return t.select(
        "wallet_address",
        "unique_borrow_protocol_count",
        "unique_lending_protocol_count",
        "total_collateral_eth",
        "risk_factor",
        "total_available_borrows_eth",
        "deposit_count",
        sentinel("time_since_first_deposit"),
        "deposit_amount_sum_eth",
        "liquidation_count",
        "liquidation_amount_sum_eth",
        sentinel("time_since_last_liquidated"),
        "withdraw_amount_sum_eth",
        "borrow_amount_sum_eth",
        "borrow_amount_avg_eth",
        "borrow_count",
        "repay_amount_sum_eth",
        "repay_amount_avg_eth",
        "repay_count",
        clamp_diff("borrow_amount_sum_eth", "repay_amount_sum_eth").alias(
            "borrow_repay_diff_eth"
        ),
        clamp_diff("withdraw_amount_sum_eth", "deposit_amount_sum_eth").alias(
            "withdraw_deposit_diff_if_positive_eth"
        ),
        "total_available_borrows_avg_eth",
        "avg_weighted_risk_factor",
        "avg_risk_factor",
        "max_risk_factor",
        "risk_factor_above_threshold_daily_count",
        "total_collateral_avg_eth",
    )
