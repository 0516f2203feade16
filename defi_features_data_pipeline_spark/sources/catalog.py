"""Parquet-directory catalog.

The reference organizes tables into medallion-layer databases on S3 +
Glue (`/root/reference/README.md:121-143`; layer writes
`src/pipelines/raw/defi_events.py:38-45`). Here a Catalog maps
``(layer, table)`` to a Parquet path rooted at a base dir; on a real
cluster the base dir is an object-store prefix and the call sites
don't change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

class Catalog:
    """Layered Parquet catalog: ``base/<layer>/<table>/`` directories.

    Mirrors the reference's 4-layer medallion databases
    (db_raw/db_stage/db_analytics/db_sandbox) without a metastore
    dependency; swap ``base`` for an object-store URI in production.
    """

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base

    def path(self, layer: str, table: str) -> str:
        return os.path.join(self.base, layer, table)

    def exists(self, layer: str, table: str) -> bool:
        # _SUCCESS / parquet part files indicate a committed write;
        # checked via the Hadoop FS API so object-store bases work too
        from .fsutil import has_committed_data

        return has_committed_data(self.spark, self.path(layer, table))

    def read(self, layer: str, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(layer, table))
