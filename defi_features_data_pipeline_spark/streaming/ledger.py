"""Micro-batch replay harness and first-seen ledger for the streaming gates.

The streaming gates replay a bounded table as an ordered file-source
stream (``foreachBatch`` under ``Trigger.AvailableNow``) and prove the
incremental result equals the batch one. ``replay`` is that shared
loop; ``first_seen_ledger`` is the dedup-ledger state transition built
on it — the reference's watermark INSERT
(`stage_tranformation_queries.py:20`) applied to keys.

Per gate call, ``STREAM_STATE_METRICS[gate]`` gets one footer-counted
record per non-empty batch (``batch``, ``arrivals``,
``state_rows_appended``; zero Spark jobs), and
``STREAM_OP_SECONDS[gate]`` the seconds spent inside batch bodies
(bench.py reports ``harness_sec = total - operator_sec``).
"""

from __future__ import annotations

import glob
import os
import time
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import StructType

from ..sources.fsutil import scratch_dir

STREAM_STATE_METRICS: dict[str, list] = {}
STREAM_OP_SECONDS: dict[str, float] = {}

# one range-ordered layout for every gate: partition i holds the i-th
# order range and becomes the i-th micro-batch
REPLAY_FILES = 4


def parquet_footer_rows(path: str) -> int:
    """Exact row count of a parquet directory from its file footers —
    no Spark job (footer counts are exact by the parquet spec)."""
    return sum(
        pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
        for name in os.listdir(path)
        if name.startswith("part-") and name.endswith(".parquet")
    )


def timed_foreach(gate: str, fn):
    """Wrap a foreachBatch body so its wall time accumulates into
    ``STREAM_OP_SECONDS[gate]``. Resets the accumulator at wrap time,
    so each query invocation reports only its own run."""
    STREAM_OP_SECONDS[gate] = 0.0

    def wrapped(batch_df, batch_id):
        t0 = time.time()
        try:
            return fn(batch_df, batch_id)
        finally:
            STREAM_OP_SECONDS[gate] += time.time() - t0

    return wrapped


def replay(
    spark: SparkSession,
    gate: str,
    source: DataFrame,
    order: str,
    body: Callable[[DataFrame, int], DataFrame],
    root: str | None = None,
) -> DataFrame:
    """Replay ``source`` as ``REPLAY_FILES`` micro-batches in ``order``
    range order and return the union of what ``body`` produced.

    ``body(batch_df, batch_id)`` returns the batch's output frame; it is
    written to ``<root>/out/batch=<id>`` with overwrite, so a replayed
    batch replaces its own output. Empty batches are skipped. ``root``
    is the call's scratch dir (``scratch_dir(gate)`` by default).

    The file source triggers in (mtime, path) order and parallel part
    writes finish in any order, so the staged files are restamped to
    follow path order, which under ``repartitionByRange`` is ``order``
    range order."""
    root = root or scratch_dir(gate)
    src = os.path.join(root, "src")
    source.repartitionByRange(REPLAY_FILES, F.col(order)).write.mode(
        "overwrite"
    ).parquet(src)
    files = sorted(glob.glob(os.path.join(src, "part-*.parquet")))
    base = int(time.time()) + 10
    for i, p in enumerate(files):
        os.utime(p, (base + i, base + i))
    # one trigger per file, so batch i consumes exactly files[i]
    arrivals = [pq.ParquetFile(p).metadata.num_rows for p in files]

    metrics: list = []
    STREAM_STATE_METRICS[gate] = metrics
    written: dict[int, str] = {}

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = os.path.join(root, "out", f"batch={batch_id}")
        body(batch_df, batch_id).write.mode("overwrite").parquet(out)
        written[batch_id] = out
        # a segment gate's output is the state it appends; the ledger
        # replaces this count with its key-store append
        n_out = parquet_footer_rows(out)
        metrics.append(
            dict(batch=batch_id, arrivals=arrivals[batch_id], state_rows_appended=n_out)
        )

    q = (
        spark.readStream.schema(source.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(timed_foreach(gate, run))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(*written.values())


def first_seen_ledger(
    spark: SparkSession,
    gate: str,
    source: DataFrame,
    order: str,
    key: str,
    keys: Callable[[DataFrame], DataFrame],
    verdict: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Exact streaming first-seen dedup over an append-only key store.

    Per micro-batch, ``keys(batch_df)`` projects the batch to rows
    carrying ``order`` and ``key`` (repeats allowed). Each row is
    tagged with ``__prior`` (true iff an earlier batch stored its key,
    else null) and ``__first`` (the smallest ``order`` holding the key
    in this batch); ``verdict`` maps that frame to the batch's output.
    A key is first seen at row r iff ``__prior`` is null and
    ``r[order] == __first``. Because batches arrive in ``order`` range
    order, "first held by a smaller order value" is the same verdict
    the batch operator computes over the whole table.

    The keys seen for the first time append to ``<root>/seen/batch=<id>``
    with ``dropDuplicates(key)``, so the store holds each key exactly
    once by construction (ties in ``order`` and repeated rows included)
    and the store join is 1:≤1. The store listing is kept in memory: it
    only grows by the dir this ledger just wrote.
    ``STREAM_STATE_METRICS[gate]`` reports the rows each batch appended
    to the store."""
    root = scratch_dir(gate)
    store: dict[int, str] = {}
    by_key = Window.partitionBy(key)

    def body(batch_df: DataFrame, batch_id: int) -> DataFrame:
        rows = keys(batch_df)
        if store:
            seen = (
                spark.read.schema(StructType([rows.schema[key]]))
                .parquet(*store.values())
                .select(key, F.lit(True).alias("__prior"))
            )
            rows = rows.join(seen, key, "left")
        else:
            rows = rows.withColumn("__prior", F.lit(None).cast("boolean"))
        # one key pass, two uses; the window reuses the join's partitioning
        j = rows.withColumn(
            "__first", F.min(order).over(by_key)
        ).localCheckpoint(eager=True)
        seen_dir = os.path.join(root, "seen", f"batch={batch_id}")
        j.filter(
            F.col("__prior").isNull() & (F.col(order) == F.col("__first"))
        ).select(key).dropDuplicates([key]).write.mode("overwrite").parquet(
            seen_dir
        )
        store[batch_id] = seen_dir
        return verdict(j)

    out = replay(spark, gate, source, order, body, root=root)
    for m in STREAM_STATE_METRICS[gate]:
        m["state_rows_appended"] = parquet_footer_rows(store[m["batch"]])
    return out
