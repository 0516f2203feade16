from .catalog import Catalog
from .sinks import incremental_insert, upsert_parquet

__all__ = [
    "Catalog",
    "incremental_insert",
    "upsert_parquet",
]
