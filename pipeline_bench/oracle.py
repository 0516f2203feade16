"""Correctness check: the served ``defi_features`` table against the
DuckDB port of the reference SQL over the same raw lake, wallet by
wallet, with the tolerances of the repo's oracle test."""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.getcwd(), "tests"))
from defi_oracle_sql import build_oracle_sql  # noqa: E402
from test_defi_oracle import INT_COLS, NOW, _close  # noqa: E402

SERVING = "features/defi_features_serving"


def oracle_rows(lake: str, tmp_dir: str) -> dict[str, dict]:
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    res = con.execute(build_oracle_sql(lake, NOW))
    cols = [d[0] for d in res.description]
    rows = {row[0]: dict(zip(cols, row)) for row in res.fetchall()}
    con.close()
    return rows


def served_rows(lake: str) -> dict[str, dict]:
    table = pq.read_table(f"{lake}/{SERVING}")
    return {r.pop("walletAddress"): r for r in table.to_pylist()}


def mismatches(got: dict[str, dict], want: dict[str, dict]) -> list:
    """Differences between served and oracle rows; empty when they agree."""
    if set(got) != set(want):
        return [("wallet spine", len(set(got) - set(want)), len(set(want) - set(got)))]
    bad = []
    for wallet, row in got.items():
        for col, value in row.items():
            ok = value == want[wallet][col] if col in INT_COLS else _close(value, want[wallet][col])
            if not ok:
                bad.append((wallet[:12], col, value, want[wallet][col]))
    return bad


def digest(rows: dict[str, dict]) -> str:
    """Order-insensitive digest of a served table, doubles at 12
    significant digits."""
    h = hashlib.sha256()
    for wallet in sorted(rows):
        for col in sorted(rows[wallet]):
            v = rows[wallet][col]
            h.update(f"{wallet}|{col}|{v:.12g}|".encode() if isinstance(v, float)
                     else f"{wallet}|{col}|{v}|".encode())
    return h.hexdigest()[:16]
