"""Sinks: incremental insert and key-upsert.

Reference equivalents:
- S7 incremental INSERT INTO     `stage_tranformation_queries.py:2,25`
- S10 Mongo key-upsert           `save_defi_features_features_db.py:28-34,78-88`
  (served here as a parquet key-upsert; KNOWN_LIMITS §5)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def incremental_insert(
    spark,
    source: DataFrame,
    target_path: str,
    watermark_col: str,
    partition_by: list[str] | None = None,
) -> int:
    """S7+P3: high-watermark append.

    Reference pattern: ``INSERT INTO target SELECT ... FROM source
    WHERE to_unixtime(ts) > (SELECT max(to_unixtime(ts)) FROM target)``
    (`stage_tranformation_queries.py:20`). Idempotent: a re-run with no
    new source rows appends nothing. Returns rows appended.

    Scale note: the watermark read aggregates only the watermark column
    (column-pruned parquet scan); the filter on the source is a plain
    predicate that Catalyst pushes into the scan, so an incremental run
    over a 100 TB source reads only row groups whose min/max stats pass.
    Target detection goes through the Hadoop FileSystem API (fsutil), so
    the idempotency contract holds on HDFS/S3A, not just local disk.
    """
    from .fsutil import has_committed_data

    if has_committed_data(spark, target_path):
        wm = (
            spark.read.parquet(target_path)
            .agg(F.max(watermark_col).alias("wm"))
            .first()["wm"]
        )
    else:
        wm = None
    fresh = source if wm is None else source.filter(F.col(watermark_col) > F.lit(wm))
    # Single pass over the source: a pre-count would scan it twice (2x
    # read at scale). Observation attaches the count to the write job.
    from pyspark.sql import Observation

    obs = Observation()
    fresh = fresh.observe(obs, F.count(F.lit(1)).alias("n"))
    w = fresh.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(target_path)
    return obs.get["n"]


def upsert_parquet(
    spark, df: DataFrame, path: str, key: str
) -> None:
    """S10: generic key-upsert sink (the reference upserts into MongoDB
    keyed on walletAddress). Without Delta in this image we emulate
    MERGE with anti-join + union: keep target rows whose key is absent
    from the batch, add the batch, rewrite. Detection + swap go through
    the Hadoop FileSystem API (fsutil) so the same code runs against
    HDFS/S3A paths; on a Delta/Iceberg cluster this whole function is a
    single ``MERGE INTO`` (the swap's atomicity caveat on S3 is in
    fsutil's docstring / KNOWN_LIMITS §5)."""
    from .fsutil import has_committed_data, swap_dirs

    if has_committed_data(spark, path):
        target = spark.read.parquet(path)
        merged = target.join(df.select(key), on=key, how="left_anti").unionByName(df)
        # can't overwrite a path we're still reading: write the merge to a
        # sibling tmp dir, then atomically swap (distributed, no driver
        # materialization; on object stores this is the staging-dir commit)
        tmp = path.rstrip("/") + ".__upsert_tmp__"
        merged.write.mode("overwrite").parquet(tmp)
        swap_dirs(spark, tmp, path)
    else:
        df.write.mode("overwrite").parquet(path)


def upsert_manifested(
    spark, df: DataFrame, table_root: str, key: str, keep: int = 2
) -> None:
    """S10 upsert through the MANIFEST-pointer commit (fsutil): merge
    against the current committed version, write the result as a fresh
    versioned data dir, publish with one atomic marker create. Unlike
    ``upsert_parquet``'s dir swap there is NO window where the table
    path is absent — readers polling ``read_manifested`` during a
    commit always see a complete version (the previous one until the
    marker lands, the new one after).

    ``keep`` is the reader-grace contract: a reader that resolved
    version N keeps scanning a live directory as long as fewer than
    ``keep`` commits land during its scan. Size it to
    ceil(max reader scan time / min commit interval); the default 2
    tolerates one commit landing mid-scan (keep=1 would delete the
    dir an in-flight reader is on as soon as the SECOND commit
    lands)."""
    from .fsutil import manifest_commit, manifest_resolve

    current = manifest_resolve(spark, table_root)
    if current is None:
        merged = df
    else:
        target = spark.read.parquet(current)
        merged = target.join(df.select(key), on=key, how="left_anti").unionByName(df)
    tmp = table_root.rstrip("/") + ".__stage__"
    merged.write.mode("overwrite").parquet(tmp)
    manifest_commit(spark, table_root, tmp, keep=keep)
