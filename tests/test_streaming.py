"""Structured-Streaming incremental layer (SURVEY §2.9): availableNow
file stream with checkpoint tracking — the streaming expression of the
reference's high-watermark INSERT."""

import os

import pyspark.sql.functions as F

from defi_features_data_pipeline_spark.streaming import stream_append_incremental


def test_available_now_incremental(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    df1 = spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)], "id long, k string, v double")
    df1.write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    transform = lambda d: d.withColumn("v2", F.col("v") * 2)  # noqa: E731

    stream_append_incremental(spark, src, schema, transform, out, ckpt)
    assert spark.read.parquet(out).count() == 2

    # second run with no new files: nothing re-processed (exactly-once)
    stream_append_incremental(spark, src, schema, transform, out, ckpt)
    assert spark.read.parquet(out).count() == 2

    # new file arrives -> only the increment is processed
    spark.createDataFrame([(3, "c", 30.0)], "id long, k string, v double").write.mode(
        "append"
    ).parquet(src)
    stream_append_incremental(spark, src, schema, transform, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert {r["v2"] for r in got.collect()} == {20.0, 40.0, 60.0}
    assert os.path.isdir(ckpt)


def test_windowed_streaming_aggregation(spark, tmp_path):
    """Watermark + windowed agg over a bounded file stream (memory sink)."""
    src = str(tmp_path / "evsrc")
    spark.createDataFrame(
        [(i, 1704067200 + i * 60, float(i)) for i in range(30)],
        "id long, epoch long, v double",
    ).withColumn("ts", F.timestamp_seconds(F.col("epoch"))).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_agg")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT n, sv FROM win_agg ORDER BY sv").collect()
    assert sum(r["n"] for r in rows) == 30
    assert len(rows) == 3  # 30 minutes of events in 10-minute windows


def test_stateful_custom_operator(spark, tmp_path):
    """applyInPandasWithState: custom stateful streaming operator —
    per-key cumulative counts surviving across micro-batches."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    src = str(tmp_path / "state_src")
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "k string, v long"
    ).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    out_schema = StructType(
        [StructField("k", StringType()), StructField("total", LongType())]
    )
    state_schema = StructType([StructField("n", LongType())])

    def count_keys(key, pdf_iter, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"k": [key[0]], "total": [n]})

    collected = []

    def run_batch():
        q = (
            spark.readStream.schema(schema).parquet(src)
            .groupBy("k")
            .applyInPandasWithState(
                count_keys, out_schema, state_schema, "update",
                GroupStateTimeout.NoTimeout,
            )
            .writeStream.foreachBatch(
                lambda df, _epoch: collected.extend(
                    (r["k"], r["total"]) for r in df.collect()
                )
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_batch()
    assert dict(collected) == {"a": 2, "b": 1}

    # second micro-batch: state carries over via the checkpoint (a: 2+1, c: new)
    spark.createDataFrame([("a", 9), ("c", 5)], "k string, v long").write.mode(
        "append"
    ).parquet(src)
    collected.clear()
    run_batch()
    assert dict(collected) == {"a": 3, "c": 1}  # b unchanged -> not re-emitted


def test_streaming_dedup_with_watermark(spark, tmp_path):
    """Streaming dropDuplicates within a watermark — the streaming
    flavor of exact dedup (duplicate events across micro-batches are
    emitted once; state expires past the watermark)."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "dd_src")
    spark.createDataFrame(
        [(1, "k1", 1_700_000_000), (2, "k2", 1_700_000_010), (3, "k1", 1_700_000_020)],
        "event_id long, dedup_key string, epoch long",
    ).withColumn("ts", F.timestamp_seconds(F.col("epoch"))).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    collected = []

    def run():
        q = (
            spark.readStream.schema(schema).parquet(src)
            .withWatermark("ts", "1 hour")
            .dropDuplicates(["dedup_key"])
            .writeStream.foreachBatch(
                lambda df, _e: collected.extend(r["dedup_key"] for r in df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    assert sorted(collected) == ["k1", "k2"]  # duplicate k1 suppressed

    # duplicates arriving in a later batch are suppressed by state
    spark.createDataFrame(
        [(4, "k1", 1_700_000_030), (5, "k3", 1_700_000_040)],
        "event_id long, dedup_key string, epoch long",
    ).withColumn("ts", F.timestamp_seconds(F.col("epoch"))).write.mode("append").parquet(src)
    collected.clear()
    run()
    assert collected == ["k3"]


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: a streaming event source enriched against a
    static dimension (the streaming expression of the pipeline's
    token-metadata join)."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "ss_src")
    spark.createDataFrame(
        [(1, "tokA", 5.0), (2, "tokB", 7.0), (3, "tokX", 1.0)],
        "event_id long, token string, qty double",
    ).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    dim = spark.createDataFrame(
        [("tokA", 18), ("tokB", 6)], "token string, decimals long"
    )

    collected = []
    q = (
        spark.readStream.schema(schema).parquet(src)
        .join(dim, "token", "inner")  # static side broadcast per micro-batch
        .withColumn("scaled", F.col("qty") / F.pow(F.lit(10.0), F.col("decimals")))
        .writeStream.foreachBatch(
            lambda df, _e: collected.extend(
                (r["event_id"], r["decimals"]) for r in df.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(collected) == [(1, 18), (2, 6)]  # tokX dropped (inner)


def test_stateful_counter_invariant_to_microbatching(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: splitting the
    input across many micro-batches (maxFilesPerTrigger=1, one row per
    file) must produce the same final per-key state as one big batch —
    the state fold is associative/commutative (count + max) and the
    update-mode collapse takes the monotone max."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = str(tmp_path / "statesrc")
    rows = [(1, 100), (2, 50), (1, 300), (1, 200), (2, 400)]
    for i, (uid, ts) in enumerate(rows):
        spark.createDataFrame([(uid, ts)], "user_id long, ts_s long").coalesce(
            1
        ).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    ev = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)

    def fold(key, pdf_iter, state):
        if state.exists:
            n, mx = state.get
        else:
            n, mx = 0, None
        for pdf in pdf_iter:
            n += len(pdf)
            m = int(pdf["ts_s"].max())
            mx = m if mx is None or m > mx else mx
        state.update((n, mx))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "last_ts": [mx]})

    res = ev.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id bigint, n_events bigint, last_ts bigint",
        stateStructType="n bigint, mx bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        res.writeStream.format("memory")
        .queryName("stateful_mb_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["user_id"]: (r["n_events"], r["last_ts"])
        for r in spark.table("stateful_mb_test")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"), F.max("last_ts").alias("last_ts")
        )
        .collect()
    }
    assert got == {1: (3, 300), 2: (2, 400)}
    # multiple batches really happened: update rows accumulate per batch
    assert spark.table("stateful_mb_test").count() > 2


def test_foreachbatch_upsert_newer_wins_across_batches(spark, tmp_path):
    """foreachBatch merge-newer upsert: micro-batches arriving OUT OF
    TIME ORDER (older events in a later batch) must not regress a key —
    the per-batch merge joins the committed store rows for the batch's
    keys and re-elects the latest."""
    from pyspark.sql import Window

    from defi_features_data_pipeline_spark.sources.fsutil import (
        manifest_resolve,
        read_manifested,
    )
    from defi_features_data_pipeline_spark.sources.sinks import upsert_manifested

    src = str(tmp_path / "oosrc")
    # file order != time order: the NEWEST event for user 1 (t=900)
    # lands in the FIRST file, an older one (t=500) in a later file
    batches = [[(1, 900, 10.0)], [(2, 100, 5.0)], [(1, 500, 99.0)], [(2, 700, 7.0)]]
    for rows in batches:
        spark.createDataFrame(
            rows, "user_id long, last_ts long, value double"
        ).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    ev = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)

    root = str(tmp_path / "serving")
    w = Window.partitionBy("user_id").orderBy(F.col("last_ts").desc())

    def merge_newer(batch_df, _bid):
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if manifest_resolve(spark, root) is not None:
            prev = read_manifested(spark, root).join(
                latest.select("user_id"), "user_id", "semi"
            )
            latest = (
                prev.unionByName(latest)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        upsert_manifested(spark, latest, root, "user_id")

    q = ev.writeStream.foreachBatch(merge_newer).trigger(availableNow=True).start()
    q.awaitTermination()
    got = {
        r["user_id"]: (r["last_ts"], r["value"])
        for r in read_manifested(spark, root).collect()
    }
    assert got == {1: (900, 10.0), 2: (700, 7.0)}


def test_bitmap_distinct_invariant_to_microbatching(spark, tmp_path):
    """The foreachBatch bitmap OR-merge store must converge to the
    exact distinct counts under adversarial micro-batching
    (maxFilesPerTrigger=1 with duplicate users split across batches)
    — OR is commutative/associative/idempotent, so any batch slicing
    yields the same store."""
    from pyspark.sql import functions as F

    from defi_features_data_pipeline_spark.operators.sketches import (
        bitmap_counts_from_store,
        bitmap_or_merge_sink,
    )

    src = str(tmp_path / "bmsrc")
    # users deliberately repeated across files; one spans buckets (70000)
    files = [[("a", 1), ("a", 2)], [("a", 2), ("b", 1)],
             [("a", 70000), ("b", 1)], [("b", 70000), ("a", 1)]]
    for rows in files:
        spark.createDataFrame(rows, "event_type string, user_id long").coalesce(
            1
        ).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    ev = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    root = str(tmp_path / "bitmaps")
    sink = bitmap_or_merge_sink(spark, root, ["event_type"], "user_id")
    q = ev.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = {
        r.event_type: r.n_distinct
        for r in bitmap_counts_from_store(spark, root, ["event_type"]).collect()
    }
    assert got == {"a": 3, "b": 2}


def test_session_window_merges_at_exact_gap_boundary(spark, tmp_path):
    """Two events exactly gap seconds apart MERGE into one session
    under Spark's session_window (touching windows merge; only
    diff > gap splits) — the boundary rule the streaming_sessionize
    oracle encodes. Caught at sf0.1 (one exact-1800s pair); pinned
    here so a Spark semantics change announces itself."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "gapsrc")
    base = 1_704_579_374
    rows = [(1, base), (1, base + 1800), (1, base + 3601)]
    spark.createDataFrame(rows, "user_id long, t long").withColumn(
        "ts", F.col("t").cast("timestamp")
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    ev = spark.readStream.schema(schema).parquet(src)
    sess = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        sess.writeStream.format("memory")
        .queryName("gap_boundary_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.n, r.w.start.timestamp(), r.w.end.timestamp())
        for r in spark.table("gap_boundary_test").collect()
    )
    spark.sql("DROP TABLE IF EXISTS gap_boundary_test")
    # exact-gap pair merged (n=2); diff=1801 split (n=1)
    assert [n for n, _, _ in got] == [1, 2]


def test_streaming_quarantine_serves_good_rows(spark, tmp_path):
    """Quarantine-mode DQ on the streaming serving path (r6 verdict
    #8): rows violating a row-attributable constraint land in the
    quarantine sink with their reasons; clean rows are upserted and
    served; nothing is silently dropped (clean ∪ quarantine == input);
    and a second incremental pass processes only the NEW file."""
    from defi_features_data_pipeline_spark.pipelines.defi.quality import (
        DEFI_FEATURES_SUITE,
    )
    from defi_features_data_pipeline_spark.streaming import (
        stream_upsert_with_quarantine,
    )

    src = str(tmp_path / "features_stream")
    serve = str(tmp_path / "serving")
    quarantine = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    cols = (
        "wallet_address string, total_collateral_eth double, "
        "risk_factor double, borrow_count long, "
        "unique_borrow_protocol_count long, unique_lending_protocol_count long, "
        "deposit_count long, liquidation_count long, repay_count long"
    )

    def row(w, borrow=1, deposit=1, repay=0):
        return (w, 10.0, 0.5, borrow, 1, 1, deposit, 0, repay)

    batch1 = spark.createDataFrame(
        [
            row("0xgood1"),
            row("0xgood2"),
            row("0xbad_neg_deposit", deposit=-3),  # exist_negative_count
            row("0xbad_neg_repay", repay=-1),
        ],
        cols,
    )
    batch1.write.mode("append").parquet(src)
    run = lambda c=ckpt: stream_upsert_with_quarantine(  # noqa: E731
        spark,
        src,
        batch1.schema,
        DEFI_FEATURES_SUITE,
        serve,
        quarantine,
        c,
        key="wallet_address",
    )
    run()
    served = {r["wallet_address"] for r in spark.read.parquet(serve).collect()}
    quar = spark.read.parquet(quarantine).collect()
    assert served == {"0xgood1", "0xgood2"}
    assert {r["wallet_address"] for r in quar} == {
        "0xbad_neg_deposit",
        "0xbad_neg_repay",
    }
    assert all(r["dq_reasons"] == ["exist_negative_count"] for r in quar)
    assert len(served) + len(quar) == 4  # nothing silently dropped

    # incremental pass: one new file, one new bad row — only the new
    # file is processed (checkpoint), serving upserts, quarantine grows
    spark.createDataFrame(
        [row("0xgood3"), row("0xbad2", borrow=-9)], cols
    ).write.mode("append").parquet(src)
    run()
    served2 = {r["wallet_address"] for r in spark.read.parquet(serve).collect()}
    quar2 = spark.read.parquet(quarantine).collect()
    assert served2 == {"0xgood1", "0xgood2", "0xgood3"}
    assert len(quar2) == 3
    batch_ids = {r["dq_batch_id"] for r in quar2}
    assert len(batch_ids) == 2  # two micro-batches, attributable for replay

    # crash-replay idempotency: restart from a checkpoint whose last
    # batch's commit marker never landed — the classic crash-between-
    # sink-writes window (checkpoint copied to a fresh path: Spark
    # caches metadata-log state per checkpoint path in-process). The
    # replayed batch OVERWRITES its own dq_batch_id partition, so the
    # quarantine sink holds exactly the same rows, never duplicates.
    import os
    import shutil

    ckpt2 = str(tmp_path / "ckpt_replay")
    shutil.copytree(ckpt, ckpt2)
    commits = os.path.join(ckpt2, "commits")
    last_commit = max(
        f for f in os.listdir(commits) if not f.startswith(".")
    )
    os.remove(os.path.join(commits, last_commit))
    crc = os.path.join(commits, f".{last_commit}.crc")
    if os.path.exists(crc):  # stale Hadoop checksum blocks the rewrite
        os.remove(crc)
    run(ckpt2)
    quar3 = spark.read.parquet(quarantine).collect()
    assert len(quar3) == 3
    assert {(r["wallet_address"], r["dq_batch_id"]) for r in quar3} == {
        (r["wallet_address"], r["dq_batch_id"]) for r in quar2
    }


def test_streaming_pipeline_serves_through_quarantine_gate(
    spark, tmp_path_factory
):
    """E2E: the streaming pipeline's serving step now routes through
    the quarantine gate — on a healthy lake every wallet reaches the
    serving sink and the quarantine sink exists and is EMPTY (feature
    counts are aggregates that cannot go negative from well-formed
    fixtures; the bad-row diversion itself is pinned by
    test_streaming_quarantine_serves_good_rows on the same operator +
    suite). Equivalence with batch output is pinned by
    test_defi_pipeline.py::test_streaming_mode_equivalence."""
    from defi_features_data_pipeline_spark.pipelines.defi import run_pipeline
    from defi_features_data_pipeline_spark.pipelines.defi.fixtures import generate

    base = str(tmp_path_factory.mktemp("quarantine_lake"))
    generate(spark, base, scale=0.2)
    features = run_pipeline(spark, base, now_epoch=1_767_225_600, streaming=True)
    n_wallets = features.count()
    serve_dir = f"{base}/features/defi_features_serving"
    quarantine_dir = f"{base}/features/defi_features_quarantine"
    assert spark.read.parquet(serve_dir).count() == n_wallets
    assert spark.read.parquet(quarantine_dir).count() == 0

def test_stateful_timeout_evicts_state(spark, tmp_path):
    """The timeout/state-eviction path of applyInPandasWithState —
    the adversarial leg that pins its coverage equivalence with Spark
    4's transformWithStateInPandas (KNOWN_LIMITS §8, closed as a
    permanent environment limit in r11: the new API's worker imports
    google.protobuf, absent from this image with installs forbidden).
    EVENT-time timeout, deliberately: timers fire on WATERMARK advance
    driven by data, so the test is deterministic — no wall-clock
    sleeps (a ProcessingTimeTimeout under trigger(availableNow) keeps
    scheduling micro-batches against the wall clock; measured: the
    run never terminates). A key that stops receiving events gets its
    callback fired with hasTimedOut=True once the watermark passes its
    timer, evicts its state, emits a tombstone — and a later arrival
    restarts the count from zero, proving the eviction was real."""
    from datetime import datetime, timedelta

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType, LongType, StringType, StructField, StructType,
    )

    t0 = datetime(2024, 1, 1)

    def _write(rows):
        spark.createDataFrame(
            [(k, t0 + timedelta(seconds=s)) for k, s in rows],
            "k string, ts timestamp",
        ).write.mode("append").parquet(src)

    src = str(tmp_path / "ttl_src")
    _write([("a", 0), ("a", 1), ("b", 1)])
    schema = spark.read.parquet(src).schema

    out_schema = StructType(
        [
            StructField("k", StringType()),
            StructField("total", LongType()),
            StructField("evicted", BooleanType()),
        ]
    )
    state_schema = StructType([StructField("n", LongType())])
    t0_ms = int(t0.timestamp() * 1000)

    def count_with_ttl(key, pdf_iter, state):
        if state.hasTimedOut:
            n = state.get[0] if state.exists else 0
            state.remove()
            yield pd.DataFrame(
                {"k": [key[0]], "total": [n], "evicted": [True]}
            )
            return
        n = state.get[0] if state.exists else 0
        max_ts_ms = 0
        for pdf in pdf_iter:
            n += len(pdf)
            max_ts_ms = max(
                max_ts_ms, int(pdf["ts"].max().timestamp() * 1000)
            )
        state.update((n,))
        # TTL: 30 event-seconds of silence after this key's last event
        state.setTimeoutTimestamp(max_ts_ms + 30_000)
        yield pd.DataFrame({"k": [key[0]], "total": [n], "evicted": [False]})

    collected = []

    def run_batch():
        q = (
            spark.readStream.schema(schema).parquet(src)
            .withWatermark("ts", "10 seconds")
            .groupBy("k")
            .applyInPandasWithState(
                count_with_ttl, out_schema, state_schema, "update",
                GroupStateTimeout.EventTimeTimeout,
            )
            .writeStream.foreachBatch(
                lambda df, _epoch: collected.extend(
                    (r["k"], r["total"], r["evicted"]) for r in df.collect()
                )
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ttl_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_batch()
    assert set(collected) == {("a", 2, False), ("b", 1, False)}

    # run 2: only `a` speaks, 100 event-seconds later — the watermark
    # advances past b's timer (t0+31s): b's callback fires with
    # hasTimedOut=True, evicts, and emits the tombstone with its
    # final count. `a` re-registers a fresh timer with its data.
    _write([("a", 100)])
    collected.clear()
    run_batch()
    assert set(collected) == {("a", 3, False), ("b", 1, True)}

    # run 3: `b` returns — the count restarts from ZERO (state was
    # truly removed) while `a` continues from its surviving state
    _write([("b", 101), ("a", 102)])
    collected.clear()
    run_batch()
    assert set(collected) == {("a", 4, False), ("b", 1, False)}


def test_first_seen_ledger_matches_batch_semantics(spark, monkeypatch):
    """The shared ledger (streaming/ledger.py) over a hand-built stream
    of three order values, i.e. three range files and three
    micro-batches: batch 0 carries key "a" twice at the same order
    value, and later batches repeat a, b and c. The verdicts must equal
    the batch rule "key first held by a smaller order value", the store
    must hold each key once, and every store read must list exactly the
    dirs the earlier batches wrote."""
    from pyspark.sql.readwriter import DataFrameReader

    from defi_features_data_pipeline_spark.streaming.ledger import (
        STREAM_STATE_METRICS,
        first_seen_ledger,
    )

    rows = [
        (1, 0, "a"), (1, 1, "a"), (1, 2, "b"),
        (2, 3, "b"), (2, 4, "c"),
        (3, 5, "a"), (3, 6, "c"), (3, 7, "d"),
    ]
    src = spark.createDataFrame(rows, "t long, id long, k string")

    reads = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        reads.append(list(paths))
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    out = first_seen_ledger(
        spark,
        "ledger_unit",
        src,
        "t",
        "k",
        lambda b: b,
        lambda j: j.select(
            "id",
            (
                F.coalesce(F.col("__prior"), F.lit(False))
                | (F.col("__first") < F.col("t"))
            ).alias("dup"),
        ),
    )
    got = {r["id"]: r["dup"] for r in out.collect()}
    monkeypatch.undo()

    first = {}
    for t, _, k in rows:
        first[k] = min(first.get(k, t), t)
    assert got == {i: first[k] < t for t, i, k in rows}

    metrics = STREAM_STATE_METRICS["ledger_unit"]
    batches = [m["batch"] for m in metrics]
    assert len(batches) == 3
    assert [m["arrivals"] for m in metrics] == [3, 2, 3]
    assert [m["state_rows_appended"] for m in metrics] == [2, 1, 1]

    store_reads = [r for r in reads if "/seen/" in r[0]]
    seen_root = os.path.dirname(store_reads[0][0])
    written = [os.path.join(seen_root, f"batch={b}") for b in batches]
    assert store_reads == [written[:i] for i in range(1, len(written))]
    assert sorted(os.listdir(seen_root)) == sorted(
        os.path.basename(w) for w in written
    )
    keys = [r["k"] for r in spark.read.parquet(*written).collect()]
    assert sorted(keys) == ["a", "b", "c", "d"]


def test_gate_scratch_is_one_dir_per_gate(spark, tmp_path, monkeypatch):
    """Each scratch-staging gate holds one dir under one per-process
    root: a second call reclaims the first call's dir (whose frame was
    collected first), nothing else lands in the temp dir, and the exit
    hook leaves it empty."""
    import tempfile

    import __spark_entry__ as entry
    from defi_features_data_pipeline_spark.sources import fsutil
    from conftest import SF_DIR

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.setattr(fsutil, "_scratch_root", None)
    monkeypatch.setattr(fsutil, "_scratch_last", {})
    gates = [
        "streaming_count_min",  # replay
        "streaming_url_dedup",  # first_seen_ledger
        "streaming_dedup",  # _stream_table
        "streaming_foreachbatch_upsert",
        "jsonl_ingest_roundtrip",
    ]
    qs = entry.queries()
    for _ in range(2):
        for gate in gates:
            assert qs[gate](spark, SF_DIR).collect()

    root = fsutil._scratch_root
    assert os.listdir(tmp) == [os.path.basename(root)]
    owned = sorted(os.listdir(root))
    assert len(owned) == len(gates)
    assert all(any(d.startswith(f"{g}_") for d in owned) for g in gates)
    fsutil._remove_scratch()
    assert os.listdir(tmp) == []


def test_run_stream_drops_its_view(spark):
    """The memory-sink harness returns its frame and drops the sink's
    temp view, so a session keeps no ``stream_*`` view per call."""
    from defi_features_data_pipeline_spark.queries.extensions import (
        q_streaming_dedup,
    )
    from conftest import SF_DIR

    assert q_streaming_dedup(spark, SF_DIR).collect()
    names = [t.name for t in spark.catalog.listTables()]
    assert not [n for n in names if n.startswith("stream_")]
