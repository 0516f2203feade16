"""Benchmark of the DeFi features pipeline (``run_pipeline``).

    python3 pipeline_bench/run.py --workload daily_increment --seed 1 --seconds 10 --trace 0

Run from the repository root. Closed loop: one ``run_pipeline`` call at
a time, from this process, on a local Spark session with
``SPARK_GRAFT_CPUS`` cores (default: all). The seed drives the raw base
lake and the increment derived from it. Timed runs of an increment
repeat, each on a restored lake, until ``--seconds`` have passed (at
least one); the metrics are medians over them. A backfill is timed
once: only the session's first pipeline run starts cold. Every timed
run's served table is checked against the DuckDB oracle.

Workloads (BENCHMARK.json gives the reasons; it leaves out
daily_increment so that the timed runs of its workloads fit the time
the benchmark is given):
  daily_increment      batch run over one new day on a lake already processed in batch
  streaming_increment  the same day, streaming run, on a lake warmed by a streaming run
  backfill             batch run over a fresh lake holding the raw base only; the
                       first timed run is the session's first pipeline run

Run time is dominated by per-run fixed cost (job scheduling, planning),
not data volume, so the default fixture scale is small: generating the
base is part of set-up and grows with scale.

The last stdout line is the result: ``{"correct", "attempted",
"failed", "metrics"}`` with the end-to-end metrics (``--trace 0``) or
the per-layer metrics (``--trace 1``, which replaces the timed runs by
one untraced reference run and one traced run). The line before it is
the full record: stamp, every metric, set-up parts, and with
``--trace 1`` the spans of the traced run. All lakes, checkpoints and
Spark scratch live under one temp root in the working directory,
removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = {
    "daily_increment": {"streaming": False, "increment": True},
    "streaming_increment": {"streaming": True, "increment": True},
    "backfill": {"streaming": False, "increment": False},
}
SCALE = 1.0
DRIVER_MEMORY = "2g"
MAX_PROCESS_S = 150  # no new timed run starts if it could end past this
TMP_PARENT = ".pipeline_bench_tmp"


def _stamp(spark, args) -> dict:
    try:
        git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True).stdout.strip() or None
    except OSError:  # no git on PATH
        git = None
    h = hashlib.sha256()
    for top in ("defi_features_data_pipeline_spark", "pipeline_bench", "tests"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    h.update(f.encode())
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
    return {
        "git_sha": git,  # None outside a git checkout; source_sha still pins the code
        "source_sha": h.hexdigest()[:16],
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "scale": args.scale,
        "seed": args.seed,
        "workload": args.workload,
    }


class PeakRss:
    """Peak resident set of a process, sampled from /proc while active."""

    def __init__(self, pid: int):
        self.path, self.peak_kb = f"/proc/{pid}/status", 0
        self._stop = threading.Event()

    def _sample(self):
        while True:
            with open(self.path) as f:
                kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS"))
            self.peak_kb = max(self.peak_kb, kb)
            if self._stop.wait(0.05):
                return

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


def _restore(src: str, lake: str) -> None:
    shutil.rmtree(lake, ignore_errors=True)
    shutil.copytree(src, lake)


def bench(spark, args, tmp: str, t_start: float, t_session: float) -> tuple[dict, dict]:
    import lake as lk
    import oracle
    from tracing import Tracer
    from defi_features_data_pipeline_spark.pipelines.defi import run_pipeline

    cfg = WORKLOADS[args.workload]
    base, lake, inc, warm = (os.path.join(tmp, n) for n in ("base", "lake", "inc", "warm"))
    record: dict = {"stamp": _stamp(spark, args), "setup": {"session_s": t_session}}

    t = time.perf_counter()
    lk.generate_base(spark, base, args.seed, args.scale)
    record["setup"]["generate_s"] = time.perf_counter() - t
    if cfg["increment"]:
        t = time.perf_counter()
        inc_rows = lk.derive_increment(base, inc, args.seed)
        input_rows = sum(inc_rows.values())
        input_bytes = lk.dir_bytes(inc)
        record["setup"]["increment_s"] = time.perf_counter() - t
        record["increment_rows"] = inc_rows
    else:
        input_rows = lk.parquet_rows(base, [p for p in lk.tree_state(base) if p.startswith("raw/")])
        input_bytes = lk.dir_bytes(os.path.join(base, "raw"))
    record["input"] = {"rows": input_rows, "bytes": input_bytes}

    # increments: the warm-up run is the lake's processed history (and its
    # streaming checkpoints), and fills the JVM and codegen caches
    t = time.perf_counter()
    shutil.copytree(base, lake)
    if cfg["increment"]:
        run_pipeline(spark, lake, now_epoch=oracle.NOW, streaming=cfg["streaming"])
        spark.catalog.clearCache()
        shutil.copytree(lake, warm)
    record["setup"]["warmup_s"] = time.perf_counter() - t
    start_state = warm if cfg["increment"] else base

    jvm = spark.sparkContext._jvm
    jvm_pid = jvm.ProcessHandle.current().pid()
    restore_s, want = [], None

    def one_run(trace: bool) -> dict:
        nonlocal want
        t = time.perf_counter()
        _restore(start_state, lake)
        if cfg["increment"]:
            lk.add_increment(inc, lake, record["increment_rows"])
        spark.catalog.clearCache()
        # every run starts from a collected heap, so GC timing left over
        # from the previous run does not land in this one
        gc.collect()
        jvm.System.gc()
        restore_s.append(time.perf_counter() - t)
        before = lk.tree_state(lake)
        tracer = Tracer(spark) if trace else None
        with PeakRss(jvm_pid) as rss:
            t = time.perf_counter()
            with tracer or contextlib.nullcontext():
                run_pipeline(spark, lake, now_epoch=oracle.NOW, streaming=cfg["streaming"])
            run_s = time.perf_counter() - t
        written = lk.written_files(before, lk.tree_state(lake))
        got = oracle.served_rows(lake)
        if want is None:
            want = oracle.oracle_rows(lake, tmp)
        bad = oracle.mismatches(got, want)
        out = {"run_s": run_s, "peak_rss_mb": rss.peak_kb / 1024,
               "bytes_written": sum(written.values()), "digest": oracle.digest(got),
               "mismatches": bad[:5], "n_mismatches": len(bad)}
        if tracer is not None:
            out["tracer"], out["written"] = tracer, written
        return out

    def guarded_run(trace: bool) -> dict:
        try:
            return one_run(trace)
        except Exception as e:  # a raising run (incl. a DQ halt) is a failed run
            return {"error": f"{type(e).__name__}: {e}"[:500]}

    # --trace 1 replaces the timed loop by one untraced reference run and
    # the traced run; the end-to-end figures then come from the reference.
    runs = []
    t_timed = time.perf_counter()
    while True:
        runs.append(guarded_run(trace=False))
        elapsed = time.perf_counter() - t_timed
        last = runs[-1].get("run_s", elapsed)
        if (args.trace or not cfg["increment"] or elapsed >= args.seconds
                or time.perf_counter() - t_start + 1.5 * last > MAX_PROCESS_S):
            break
    traced = guarded_run(trace=True) if args.trace else None
    attempted = len(runs) + (traced is not None)
    failed = sum("error" in r or r["n_mismatches"] > 0 for r in runs + [traced] if r)

    ok = [r for r in runs if "run_s" in r]
    if not ok:
        raise RuntimeError(f"every timed run failed: {runs[0].get('error')}")
    run_s = statistics.median(r["run_s"] for r in ok)
    record["setup"]["restore_s"] = statistics.median(restore_s)
    setup_s = sum(record["setup"].values())
    e2e = {
        "run_s": (run_s, "s"),
        "rows_per_s": (input_rows / run_s, "rows/s"),
        "setup_s": (setup_s, "s"),
        "write_amp": (statistics.median(r["bytes_written"] for r in ok) / input_bytes, "ratio"),
        "peak_rss_mb": (max(r["peak_rss_mb"] for r in ok), "MB"),
    }
    digests = {r["digest"] for r in ok}
    record["runs"] = runs

    if args.trace:
        if "error" in traced:
            raise RuntimeError(f"traced run failed: {traced['error']}")
        tracer, written = traced.pop("tracer"), traced.pop("written")
        record["traced_run"], record["spans"] = traced, tracer.spans
        digests.add(traced["digest"])
        inc_events = sum(v for k, v in record.get("increment_rows", {}).items()
                         if k in lk.EVENT_TABLES)
        stage_rows = lk.parquet_rows(lake, [p for p in written if p.startswith("stage/transpose_")])
        if cfg["increment"] and stage_rows != inc_events:
            failed += 1
            record["stage_rows_mismatch"] = {"appended": stage_rows, "increment": inc_events}
        layers = _layer_metrics(tracer, lake, written, stage_rows)
        layers["run.trace_overhead_s"] = (traced["run_s"] - run_s, "s")
    if len(digests) > 1:
        failed += 1
        record["digest_mismatch"] = sorted(digests)
    e2e["error_rate"] = (failed / attempted, "ratio")  # record only: zero when healthy

    def named(metrics):
        return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    record["metrics"] = named({**e2e, **layers}) if args.trace else named(e2e)
    shown = layers if args.trace else {k: v for k, v in e2e.items() if k != "error_rate"}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": named(shown)}
    return record, result


def _layer_metrics(tracer, lake: str, written: dict, stage_rows: int) -> dict:
    import lake as lk

    times, counts, stream = tracer.layer_times(), tracer.layer_counts(), tracer.streaming_counts()

    def rows(*prefixes):
        return lk.parquet_rows(lake, [p for p in written if p.startswith(prefixes)])

    serving = "features/defi_features_serving"
    m = {}
    for layer in ("stage", "analytics", "merge", "features_dq", "publish", "serving"):
        m[f"{layer}.wall_s"] = (times[layer]["wall_s"], "s")
        m[f"{layer}.jobs"] = (counts[layer]["jobs"], "count")
    for layer in ("stage", "analytics"):
        m[f"{layer}.busy_s"] = (times[layer]["busy_s"], "s")
    for layer in ("stage", "analytics", "features_dq"):
        m[f"{layer}.tasks"] = (counts[layer]["tasks"], "count")
        m[f"{layer}.shuffle_write_bytes"] = (counts[layer]["shuffle_write_bytes"], "B")
    m["stage.rows_appended"] = (stage_rows, "count")
    m["analytics.rows_appended"] = (rows("analytics/transpose_"), "count")
    m["merge.rows_appended"] = (rows("analytics/the_graph_historical_market_data_and_"), "count")
    m["features_dq.rows"] = (rows("analytics/defi_features/"), "count")
    m["publish.bytes_written"] = (lk.bytes_under(written, "analytics/defi_features_certified/"), "B")
    m["serving.rows_served"] = (lk.parquet_rows(lake, [
        os.path.join(serving, p) for p in lk.tree_state(os.path.join(lake, serving))]), "count")
    m["serving.rows_quarantined"] = (rows("features/defi_features_quarantine/"), "count")
    m["serving.bytes_written"] = (lk.bytes_under(
        written, "features/", "_checkpoints/defi_features_serving/"), "B")
    m["streaming.wall_s"] = (times["streaming"]["wall_s"], "s")
    for k, v in stream.items():
        m[f"streaming.{k}"] = (v, "ms" if k.endswith("_ms") else "count")
    m["run.unattributed_s"] = (times["run"]["unattributed_s"], "s")
    m["run.jobs"] = (counts["run"]["jobs"], "count")
    return m


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=SCALE)
    args = p.parse_args(argv)

    from defi_features_data_pipeline_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    os.makedirs(os.path.join(ROOT, TMP_PARENT), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, TMP_PARENT))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(tmp, d))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    tempfile.tempdir = None
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        t_start = time.perf_counter()
        # the heap starts at its maximum, so peak RSS follows what the
        # runs touch rather than when the JVM chose to grow the heap
        heap = os.environ["SPARK_DRIVER_MEMORY"]
        spark = get_spark(app_name="pipeline_bench", extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp}/tmp",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        })
        record, result = bench(spark, args, tmp, t_start, time.perf_counter() - t_start)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, TMP_PARENT))
        except OSError:  # another run still owns a sibling temp root
            pass
    if os.path.exists(tmp):
        raise RuntimeError(f"scratch left behind: {tmp}")
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
