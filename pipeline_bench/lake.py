"""Lake set-up for the pipeline benchmark: the seeded raw base, the
one-day increment derived from it, and file accounting (bytes written,
row counts from parquet footers) that runs no Spark job."""

from __future__ import annotations

import os
import shutil

from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from defi_features_data_pipeline_spark.pipelines.defi import fixtures

EVENT_TABLES = [f"raw/transpose_{e}_events" for e in
                ("borrow", "deposit", "repay", "withdraw", "liquidation")]
MARKET_DATA = "raw/the_graph_historical_market_data"
POSITIONS = "raw/the_graph_historical_account_positions"
TOKEN_PRICES = "analytics/features_daily_token_prices"
DAY = 86400
BLOCKS_PER_DAY = DAY // 12


def generate_base(spark, base_dir: str, seed: int, scale: float) -> None:
    """The 60-day fixture lake; ``fixtures.generate`` reads its module
    ``SEED`` at call time, so the workload seed drives every table."""
    fixtures.SEED = seed
    fixtures.generate(spark, base_dir, scale=scale)


def _write(table: pa.Table, out_dir: str) -> None:
    """One data file with the base's parquet types: Spark's row-schema
    metadata is kept and timestamps stay INT96, as Spark wrote them."""
    os.makedirs(out_dir)
    pq.write_table(table, f"{out_dir}/part-00000-increment.snappy.parquet",
                   use_deprecated_int96_timestamps=True)


def _const(table: pa.Table, name: str, value) -> pa.Array:
    return pa.array([value] * table.num_rows, type=table.schema.field(name).type)


def derive_increment(base_dir: str, inc_dir: str, seed: int) -> dict[str, int]:
    """One new day of raw data under ``inc_dir/<table>``, derived from
    the base's own rows: for each event table a seeded sample of one
    day's worth of rows, moved onto the day after the base's last day
    (timestamp, block, year/month recomputed; fresh transaction hashes);
    the last market-data day and positions snapshot moved onto that day;
    one price per token for it. Returns {table: rows}."""
    rng = np.random.default_rng([seed, 1])
    events = {t: pq.read_table(f"{base_dir}/{t}") for t in EVENT_TABLES}
    last_ts = max(pc.max(t["timestamp"]).as_py() for t in events.values())
    base_ts = fixtures.BASE_TS
    new_day = (int(last_ts.replace(tzinfo=timezone.utc).timestamp()) - base_ts) // DAY + 1
    day_start = base_ts + new_day * DAY
    day_ts = datetime.fromtimestamp(day_start, timezone.utc).replace(tzinfo=None)
    rows: dict[str, int] = {}

    for name, table in events.items():
        k = max(1, round(table.num_rows / new_day))
        table = table.take(np.sort(rng.choice(table.num_rows, k, replace=False)))
        secs = table["timestamp"].cast(pa.int64()).to_numpy() // 10**9
        new_secs = day_start + (secs - base_ts) % DAY
        stamps = pd.to_datetime(new_secs, unit="s")
        new_cols = {
            "timestamp": pa.array(stamps, type=table.schema.field("timestamp").type),
            "block_number": pa.array(fixtures.BASE_BLOCK + (new_secs - base_ts) // 12),
            "transaction_hash": pa.array(
                ["0x" + "".join(rng.choice(list("0123456789abcdef"), 64)) for _ in range(k)]),
            "year": pa.array(stamps.year.astype(str)),
            "month": pa.array(stamps.month.astype(str)),
        }
        for col, arr in new_cols.items():
            table = table.set_column(table.schema.get_field_index(col), col, arr)
        _write(table, f"{inc_dir}/{name}")
        rows[name] = k

    new_block = fixtures.BASE_BLOCK + new_day * BLOCKS_PER_DAY
    for name, block_col in ((MARKET_DATA, "block_number"), (POSITIONS, "blocknumber")):
        table = pq.read_table(f"{base_dir}/{name}")
        table = table.filter(pc.equal(table[block_col], pc.max(table[block_col])))
        new_cols = {
            "block_number": new_block, "block_timestamp": day_start, "timestamp": day_ts,
            "year": str(day_ts.year), "month": str(day_ts.month),
        }
        for col, value in new_cols.items():
            table = table.set_column(table.schema.get_field_index(col), col,
                                     _const(table, col, value))
        if name == POSITIONS:
            table = table.set_column(table.schema.get_field_index("blocknumber"),
                                     "blocknumber", _const(table, "blocknumber", new_block))
            table = table.set_column(table.schema.get_field_index("id"), "id",
                                     pc.binary_join_element_wise(table["id"], f"-d{new_day}", ""))
        _write(table, f"{inc_dir}/{name}")
        rows[name] = table.num_rows

    prices = pq.read_table(f"{base_dir}/{TOKEN_PRICES}")
    latest = prices.to_pandas().sort_values(["address", "timestamp"]).groupby("address").tail(1)
    latest = latest.assign(
        timestamp=day_start,
        price=(latest["price"] * rng.uniform(0.9, 1.1, len(latest))).round(8))
    _write(pa.Table.from_pandas(latest, schema=prices.schema, preserve_index=False),
           f"{inc_dir}/{TOKEN_PRICES}")
    rows[TOKEN_PRICES] = len(latest)
    return rows


def add_increment(inc_dir: str, lake_dir: str, tables) -> None:
    """Land the increment's data files in the lake's tables, next to
    the files already there."""
    for table in tables:
        for name in os.listdir(f"{inc_dir}/{table}"):
            shutil.copyfile(f"{inc_dir}/{table}/{name}", f"{lake_dir}/{table}/{name}")


def tree_state(root: str) -> dict[str, tuple[int, int, int]]:
    """{relative path: (size, mtime_ns, inode)} of every file under root."""
    state = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            state[os.path.relpath(os.path.join(d, f), root)] = (
                st.st_size, st.st_mtime_ns, st.st_ino)
    return state


def written_files(before: dict, after: dict) -> dict[str, int]:
    """{path: size} of files created or rewritten between two states."""
    return {p: s[0] for p, s in after.items() if before.get(p) != s}


def bytes_under(files: dict[str, int], *prefixes: str) -> int:
    return sum(s for p, s in files.items() if p.startswith(prefixes))


def parquet_rows(root: str, files) -> int:
    """Rows in the given data files, read from their footers."""
    return sum(pq.ParquetFile(os.path.join(root, p)).metadata.num_rows
               for p in files if p.endswith(".parquet") and "/." not in "/" + p)


def dir_bytes(path: str) -> int:
    return sum(s[0] for s in tree_state(path).values())
