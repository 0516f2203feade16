"""Per-layer tracing for one ``run_pipeline`` call, from outside the
package: the callables ``runner`` calls into are wrapped for the
duration of a traced run. Each wrapper records a span (name, layers,
start, end, parent) and runs the call under a per-layer Spark job
group; jobs, tasks and shuffle bytes are then read from the status
tracker and the JVM status store, and streaming progress from a
``StreamingQueryListener``. Spans stay in memory until the run ends."""

from __future__ import annotations

import functools
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

from defi_features_data_pipeline_spark.pipelines.defi import quality, runner
from defi_features_data_pipeline_spark.sources import fsutil, sinks
from defi_features_data_pipeline_spark.streaming import incremental

LAYERS = ("stage", "analytics", "merge", "features_dq", "publish", "serving", "streaming")
GROUP = "pipeline-bench:"
MERGED = "analytics/the_graph_historical_market_data_and_account_positions"
FEATURE_VIEWS = [n for n in dir(runner) if n.startswith("view_")] + ["assemble_defi_features"]


def _insert_layers(args, kwargs) -> tuple[str, ...]:
    target = kwargs.get("target_path", args[2] if len(args) > 2 else "")
    if "/stage/" in target:
        return ("stage",)
    return ("merge",) if target.rstrip("/").endswith(MERGED) else ("analytics",)


def _stream_append_layers(args, kwargs) -> tuple[str, ...]:
    target = kwargs.get("target_dir", args[4] if len(args) > 4 else "")
    return ("stage" if "/stage/" in target else "analytics", "streaming")


class _Progress(StreamingQueryListener):
    def __init__(self):
        self.progress, self.started, self.terminated = [], 0, 0

    def onQueryStarted(self, event):
        self.started += 1

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1


class Tracer:
    """Install with ``with Tracer(spark) as t: run_pipeline(...)``;
    then ``t.spans`` and ``t.layer_counts()``."""

    def __init__(self, spark):
        self.spark, self.sc = spark, spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.listener = _Progress()

    # --- wrapping ---------------------------------------------------------
    def _wrap(self, owner, name: str, layers) -> None:
        fn = getattr(owner, name)
        layers_of = layers if callable(layers) else (lambda a, k, L=layers: L)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span_layers = layers_of(args, kwargs)
            stack = getattr(self._local, "stack", None)
            if stack is None:
                stack = self._local.stack = []
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            prev_desc = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobGroup(GROUP + span_layers[0], name)
            span = {"name": name, "layers": list(span_layers),
                    "parent": stack[-1]["id"] if stack else 0,
                    "thread": threading.current_thread().name,
                    "start": time.perf_counter() - self.t0}
            with self._lock:
                span["id"] = len(self.spans) + 1
                self.spans.append(span)
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span["end"] = time.perf_counter() - self.t0
                stack.pop()
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
                self.sc.setLocalProperty("spark.job.description", prev_desc)

        setattr(owner, name, traced)
        self._patched.append((owner, name, fn))

    def __enter__(self):
        self.t0 = time.perf_counter()
        self._jobs_before = set(self.sc.statusTracker().getJobIdsForGroup(None))
        for name in ("stage_events", "stage_market_data", "stage_account_positions"):
            self._wrap(runner, name, ("stage",))
        self._wrap(runner, "incremental_insert", _insert_layers)
        self._wrap(runner, "enrich_events", ("analytics",))
        self._wrap(runner, "merge_market_positions", ("merge",))
        for name in FEATURE_VIEWS + ["run_quality_gate"]:
            self._wrap(runner, name, ("features_dq",))
        self._wrap(quality.DEFI_FEATURES_SUITE, "evaluate", ("features_dq",))
        self._wrap(fsutil, "snapshot_publish", ("publish",))
        self._wrap(runner, "upsert_parquet", ("serving",))
        self._wrap(sinks, "upsert_parquet", ("serving",))
        self._wrap(incremental, "stream_append_incremental", _stream_append_layers)
        self._wrap(incremental, "stream_upsert_with_quarantine", ("serving", "streaming"))
        self.spark.streams.addListener(self.listener)
        return self

    def __exit__(self, *exc):
        self.t_end = time.perf_counter() - self.t0
        for owner, name, fn in reversed(self._patched):
            if owner is quality.DEFI_FEATURES_SUITE:
                delattr(owner, name)  # back to the class method
            else:
                setattr(owner, name, fn)
        deadline = time.monotonic() + 10
        while self.listener.terminated < self.listener.started and time.monotonic() < deadline:
            time.sleep(0.05)
        self.spark.streams.removeListener(self.listener)
        return False

    # --- counts -------------------------------------------------------------
    def _job_counts(self, job_ids) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        tasks = shuffle = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    stage = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                tasks += stage.numCompleteTasks()
                shuffle += stage.shuffleWriteBytes()
        return {"jobs": len(job_ids), "tasks": tasks, "shuffle_write_bytes": shuffle}

    def streaming_counts(self) -> dict[str, float]:
        last: dict = {}
        out = {"batches": 0, "input_rows": 0, "trigger_ms": 0, "wal_commit_ms": 0}
        for p in self.listener.progress:
            out["batches"] += 1
            out["input_rows"] += p.numInputRows
            out["trigger_ms"] += p.durationMs.get("triggerExecution", 0)
            out["wal_commit_ms"] += p.durationMs.get("walCommit", 0)
            last[str(p.runId)] = p
        out["state_rows"] = sum(op.numRowsTotal for p in last.values() for op in p.stateOperators)
        return out

    def layer_counts(self) -> dict[str, dict[str, int]]:
        """Jobs/tasks/shuffle bytes per layer. Micro-batch jobs run under
        the query's run id as job group; they count toward the layer of
        the query's sink (foreachBatch → serving, file sink → stage)."""
        tracker = self.sc.statusTracker()
        jobs = {layer: set(tracker.getJobIdsForGroup(GROUP + layer)) for layer in LAYERS}
        for run_id in {str(p.runId) for p in self.listener.progress}:
            sink = next(p.sink.description for p in self.listener.progress
                        if str(p.runId) == run_id)
            layer = "serving" if "ForeachBatch" in sink else "stage"
            jobs[layer] |= set(tracker.getJobIdsForGroup(run_id))
        jobs["run"] = set(tracker.getJobIdsForGroup(None)) - self._jobs_before
        return {layer: self._job_counts(sorted(ids)) for layer, ids in jobs.items()}

    def layer_times(self) -> dict[str, dict[str, float]]:
        """wall_s: union of the layer's spans; busy_s: summed spans whose
        parent is outside the layer (so nested calls count once)."""
        by_id = {s["id"]: s for s in self.spans}
        out = {}
        for layer in LAYERS:
            spans = [s for s in self.spans if layer in s["layers"]]
            out[layer] = {
                "wall_s": _union(spans),
                "busy_s": sum(s["end"] - s["start"] for s in spans
                              if layer not in by_id.get(s["parent"], {}).get("layers", ())),
            }
        out["run"] = {"unattributed_s": self.t_end - _union(self.spans)}
        return out


def _union(spans) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s in sorted(spans, key=lambda s: s["start"]):
        if cur_end is None or s["start"] > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s["start"], s["end"]
        else:
            cur_end = max(cur_end, s["end"])
    return total + (cur_end - cur_start if cur_end is not None else 0.0)
