"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same parquet tables, compare row count, column names, and
order-insensitive values. Exact value equality (no tolerance) — the
query suite is designed to be bit-deterministic.

Usage: python tools/check_correctness.py [--json OUT.json] [sf_dir] [query ...]

``--json`` additionally writes a machine-readable artifact (per-query
status/rows/seconds) so full-suite gate runs are auditable
round-over-round alongside the driver's fixed-list CORRECTNESS file.
The artifact records the ``git rev-parse HEAD`` it ran at and whether
tracked files differed from that commit (``dirty``).
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def git_stamp() -> dict:
    """HEAD sha plus whether tracked files differ from it."""

    def git(*args):
        return subprocess.run(
            ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
        ).stdout.strip()

    return {
        "git_sha": git("rev-parse", "HEAD"),
        "dirty": bool(git("status", "--porcelain", "--untracked-files=no")),
    }


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, bool):
        return bool(v)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], out


def main():
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv) or argv[i + 1].startswith("--"):
            sys.exit(
                "usage: check_correctness.py [--json OUT.json] [sf_dir] [query ...]"
            )
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as mod
    from defi_features_data_pipeline_spark.queries.extensions import rebind_ivf_oracle
    from defi_features_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="check_correctness", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = mod.queries(), mod.oracle_sql()
    failures = []
    record = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            record[name] = {"status": "fail", "error": f"spark: {e}"[:300]}
            continue
        if name not in oracles:
            print(f"OK?   {name}: rows-only ({len(s_rows)} rows, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            record[name] = {
                "status": "ok_rows_only",
                "rows": len(s_rows),
                "sec": round(time.time() - t0, 2),
            }
            continue
        try:
            # IVF-consumer oracles embed the sf0.01 artifact path
            # (the driver's gate); rebind for other scale factors.
            res = con.execute(rebind_ivf_oracle(oracles[name], sf_dir))
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            record[name] = {"status": "fail", "error": f"duckdb: {e}"[:300]}
            continue

        sc, sr = norm_rows(s_cols, s_rows)
        dc, dr = norm_rows(d_cols, d_rows)
        err = None
        if sc != dc:
            err = f"columns {sc} != {dc}"
        elif len(sr) != len(dr):
            err = f"rowcount {len(sr)} != {len(dr)}"
        else:
            bad = [(a, b) for a, b in zip(sr, dr) if a != b]
            if bad:
                err = (f"{len(bad)}/{len(sr)} differing rows; first: "
                       f"spark={bad[0][0]} duck={bad[0][1]}")
        if err:
            print(f"FAIL  {name}: {err}")
            failures.append(name)
            record[name] = {"status": "fail", "error": err[:300]}
            continue
        print(f"OK    {name}: {len(sr)} rows match [{time.time()-t0:.1f}s]")
        record[name] = {
            "status": "ok",
            "rows": len(sr),
            "sec": round(time.time() - t0, 2),
        }

    n_run = len(record)
    print(f"\n{n_run - len(failures)}/{n_run} queries match")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {
                    **git_stamp(),
                    "sf_dir": sf_dir,
                    "total": n_run,
                    "matched": n_run - len(failures),
                    "results": record,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {json_out}")
    if failures:
        print("failing:", ", ".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
