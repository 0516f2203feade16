"""PySpark-native analytics engine with the query & data-processing
capabilities of Spectral-Finance/defi-features-data-pipeline.

The reference (read-only at /root/reference) is a medallion ELT system whose
relational semantics live in ~26 Athena SQL files; this package re-expresses
those semantics Spark-first (DataFrame/SQL + Catalyst + Parquet), plus the
large-scale training-data operators (dedup, similarity search, text
analysis, multimodal plumbing) a 100 TB pipeline needs.

Layout
------
- ``session``    SparkSession factory (AQE, Arrow, UTC, tuned shuffle).
- ``sources``    table catalog over Parquet dirs; sinks (incremental
                 append, key-upsert); the raw-layer API extractors.
- ``operators``  reusable relational operators the reference composes in
                 SQL: as-of join, latest-per-group, disjunctive join,
                 union-distinct spine — plus dedup / similarity /
                 multimodal extensions.
- ``functions``  scalar expression helpers (address normalization, epoch
                 math, clamp ladders, text analysis).
- ``pipelines``  the DeFi feature pipeline itself (stage → analytics →
                 features → data-quality), mirroring the reference's SQL
                 semantics 1:1 (file:line cited in each docstring).
- ``streaming``  Structured-Streaming variants of the incremental layer.
- ``plans``      plan-inspection helpers (explain text, corpus-broadcast
                 audit).
"""

__version__ = "0.1.0"
