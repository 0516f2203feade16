"""SparkSession factory.

Local-mode testing config mirrors what we'd deploy on a real cluster:
AQE on (runtime broadcast conversion + skew-join splitting), Arrow on
(fast pandas interchange for the Pandas-UDF extensions), UTC session
timezone (duckdb-oracle comparability), shuffle partitions sized to
cores locally (on a 1000-executor cluster this would be set to
~2-3x total cores or left to AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_local_dir() -> str | None:
    """Scratch dir when SPARK_GRAFT_LOCAL_DIR is unset: the checkout
    root when this package sits inside a git checkout (the one
    location with observed multi-hour file longevity on this box),
    else None — Spark then uses java.io.tmpdir, where it creates and
    removes its own blockmgr-*/spark-* dirs."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if os.path.isdir(os.path.join(repo, ".git")):
        return os.path.join(repo, ".spark_scratch")
    return None


def get_spark(
    app_name: str = "defi_features_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism so bench.py and
    tests follow the driver's sizing.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast policy — the sf10-probe lesson made structural:
        # ESTIMATE-driven broadcasts are off (-1). A static size
        # estimate is compressed-bytes × pruning ratios — its margin to
        # the true in-memory size is unbounded, and both 100×-probe
        # failures were corpus-scaled frames whose estimate happened to
        # sit under the threshold. Broadcasts now happen only when
        # (a) the query EXPLICITLY broadcast()s a frame it can prove
        # bounded (dims, top-k results, centroid tables), or (b) AQE
        # converts a shuffle join at RUNTIME from the materialized
        # stage's ACTUAL size (64 MB) — true at any scale by
        # definition. tests/test_plan_sweep.py enforces (a) never
        # covers a corpus-scaled subtree.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Shuffle/spill scratch OUTSIDE /tmp: a tmp reaper deleted the
        # blockmgr dir 40 min into an r9 bench run ("temp_local_...: No
        # such file or directory" → SparkContext shutdown, half the
        # sf10 probe lost). Long-running local sessions need scratch
        # space nothing else garbage-collects; on a real cluster this
        # is SPARK_LOCAL_DIRS on the executor disks.
        # r10 addendum: the reaper found ~/.spark_graft_tmp too (a
        # temp_local block vanished 13 min into the sf10 probe's
        # session — whatever sweeps this box is not /tmp-specific).
        # The repo tree is the one location with observed multi-hour
        # file longevity (testdata_scale/ persists across the whole
        # round), so scratch now defaults INSIDE the repo, gitignored.
        # That rationale only holds for a git-checkout layout; anywhere
        # else Spark's own default applies (SPARK_GRAFT_LOCAL_DIR
        # overrides either way).
    )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR") or _default_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
