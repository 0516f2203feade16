"""Serving sink (S10): the upsert-by-key contract ``upsert(df) /
read()``.

The reference serves features by upserting into MongoDB keyed on
``walletAddress`` (`/root/reference/src/pipelines/features/
save_defi_features_features_db.py:28-34,78-88`). ``ParquetServingSink``
implements the same contract as a manifest-pointer upsert on any Hadoop
filesystem (sinks.upsert_manifested); tests/test_serving_contract.py
holds its behavioral suite. A Mongo transport is out of scope
(KNOWN_LIMITS §5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class ParquetServingSink:
    """Manifest-pointer parquet upsert (the committed default)."""

    def __init__(self, spark, table_root: str, key: str):
        self.spark = spark
        self.table_root = table_root
        self.key = key

    def upsert(self, df: DataFrame) -> None:
        from .sinks import upsert_manifested

        upsert_manifested(self.spark, df, self.table_root, self.key)

    def read(self) -> DataFrame:
        from .fsutil import manifest_resolve

        current = manifest_resolve(self.spark, self.table_root)
        if current is None:
            raise FileNotFoundError(
                f"no committed version under {self.table_root}"
            )
        return self.spark.read.parquet(current)
