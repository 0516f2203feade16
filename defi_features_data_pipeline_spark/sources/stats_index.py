"""File-level min/max statistics index over a plain parquet directory —
the data-skipping metadata a lakehouse table format keeps in its log
(Delta add-file stats / Iceberg manifests), built and served with
nothing but Spark + parquet footers.

Why: engine-side row-group skipping (see tests/test_layout.py) happens
only AFTER a file is opened; at 100 TB with thousands of files per
partition, the win is not opening the file at all. A lakehouse format
gets this from its metadata log; a plain parquet lake can get the same
effect by scanning footers ONCE into a tiny stats table and pruning
the file list before the read.

Design:
- `collect_file_stats` distributes the footer reads (one task per
  file batch via mapInPandas + pyarrow — footers are KBs, the scan is
  metadata-bound, never data-bound);
- `build_stats_index` persists the stats table through the
  manifest-commit protocol (atomic publish, versioned like every
  other artifact here);
- `pruned_read` resolves the index, keeps files whose [min, max]
  intersects the predicate range (NULL-only files are kept
  conservatively), and hands Spark the pruned file list with the
  residual filter still applied — so the result is EXACTLY the plain
  filtered read, only cheaper. The index is lossy-inclusive by
  construction; transparency is pinned by
  tests/test_maintenance.py::TestStatsIndex.

The driver-side file list is O(#files) metadata — the same listing
Spark itself performs to plan the scan.

Local paths are read with pyarrow's default filesystem; on HDFS/S3A
pass the appropriate `pyarrow.fs` filesystem through `fs_factory`.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

STATS_SCHEMA = (
    "file string, col string, vmin double, vmax double, "
    "null_count long, num_rows long"
)


def collect_file_stats(
    spark: SparkSession, path: str, columns: list[str]
) -> DataFrame:
    """Per-(file, column) min/max/null stats from parquet footers,
    computed distributed: the file list parallelizes across the
    cluster and each task reads only footers. Numeric columns only
    (stats are cast to double for one portable schema)."""
    from .fsutil import list_parquet_files

    files = [p for p, _ in list_parquet_files(spark, path)]
    if not files:
        return spark.createDataFrame([], STATS_SCHEMA)
    cols = list(columns)

    def read_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in batches:
            out: dict[str, list] = {
                "file": [], "col": [], "vmin": [], "vmax": [],
                "null_count": [], "num_rows": [],
            }
            for fpath in pdf["file"]:
                local = fpath[len("file:"):] if fpath.startswith("file:") else fpath
                md = pq.ParquetFile(local).metadata
                names = md.schema.names
                for c in cols:
                    idx = names.index(c)
                    mins, maxs, nulls, rows = [], [], 0, 0
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx).statistics
                        rows += md.row_group(rg).num_rows
                        if st is not None and st.has_min_max:
                            mins.append(st.min)
                            maxs.append(st.max)
                        if st is not None and st.null_count is not None:
                            nulls += st.null_count
                    out["file"].append(fpath)
                    out["col"].append(c)
                    out["vmin"].append(float(min(mins)) if mins else None)
                    out["vmax"].append(float(max(maxs)) if maxs else None)
                    out["null_count"].append(nulls)
                    out["num_rows"].append(rows)
            yield pd.DataFrame(out)

    n = min(len(files), spark.sparkContext.defaultParallelism)
    flist = spark.createDataFrame([(f,) for f in files], "file string").repartition(n)
    return flist.mapInPandas(read_footers, schema=STATS_SCHEMA)


def build_stats_index(
    spark: SparkSession, table_path: str, columns: list[str], index_root: str
) -> str:
    """Materialize the stats table under ``index_root`` via the
    manifest-commit protocol (atomic publish; readers never see a
    partial index). Stages beside the index, as
    ``sinks.upsert_manifested`` does, so the commit is a same-filesystem
    rename and nothing is left behind. Returns the committed data
    path."""
    from .fsutil import manifest_commit

    stats = collect_file_stats(spark, table_path, columns)
    staged = index_root.rstrip("/") + ".__stage__"
    stats.coalesce(1).write.mode("overwrite").parquet(staged)
    return manifest_commit(spark, index_root, staged, keep=2)


def pruned_read(
    spark: SparkSession,
    table_path: str,
    index_root: str,
    col: str,
    lo: float,
    hi: float,
) -> DataFrame:
    """Read ``table_path`` keeping only files whose [vmin, vmax] for
    ``col`` intersects [lo, hi] per the stats index — plus files with
    no stats or any NULLs for the column (conservative: pruning must
    be invisible). The residual filter is NOT applied here; callers
    compose their own predicate — pruning only shrinks the file list.

    The candidate file list collect()s O(#files) strings — the same
    scale as Spark's own scan planning."""
    from .fsutil import read_manifested

    idx = read_manifested(spark, index_root).filter(F.col("col") == col)
    keep = idx.filter(
        F.col("vmin").isNull()
        | (F.col("null_count") > 0)
        | ((F.col("vmax") >= F.lit(lo)) & (F.col("vmin") <= F.lit(hi)))
    )
    files = [r["file"] for r in keep.select("file").collect()]
    if not files:
        return spark.read.parquet(table_path).limit(0)
    return spark.read.parquet(*files)
