"""Fixed-cost decomposition for the <1.5 s bench tail (r12 verdict
item 2): where does a small query's wall time actually go at sf0.1 —
Python-side construction, driver-side analysis/optimization, or job
execution (and how many jobs/stages/tasks does one noop run schedule)?

Usage: python tools/profile_fixed_cost.py [sf_dir] query [query ...]

Per query, after one warm-up execution, reports (median of --runs):
- construct_s: fn(spark, sf_dir) — plan building + analysis trigger
- plan_s:      force physical planning via explainString (no jobs)
- exec_s:      noop write of the pre-built frame
- jobs/stages/tasks: the jobs the exec started, in any job group
  (read from the status store), and their stages/tasks;
  construct_jobs the same for construct_s
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    argv = sys.argv[1:]
    runs = 3
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    if argv and os.path.isdir(argv[0]):
        sf_dir, names = argv[0], argv[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", argv

    import __spark_entry__ as mod
    from defi_features_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="profile_fixed_cost")
    spark.sparkContext.setLogLevel("ERROR")
    qs = mod.queries()
    jvm = spark._sc._jvm
    tracker = spark.sparkContext.statusTracker()
    jsc = spark.sparkContext._jsc.sc()

    def jobs_after(mark: int) -> list[int]:
        """Ids of the jobs started after job ``mark``, in any job group:
        micro-batch jobs run under their stream's group, so the default
        group alone misses them. The status store lists newest first."""
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        ids = []
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= mark:
                break
            ids.append(jid)
        return ids

    def newest_job() -> int:
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.nonEmpty() else -1

    def job_stage_task_count(mark: int):
        ids = jobs_after(mark)
        n_stages = 0
        n_tasks = 0
        for jid in ids:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    n_stages += 1
                    n_tasks += si.numCompletedTasks
        return len(ids), n_stages, n_tasks

    # warm-up
    try:
        qs["pricing_summary"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:
        pass

    out = {}
    for name in names:
        if name not in qs:
            print(f"SKIP unknown {name}", file=sys.stderr)
            continue
        fn = qs[name]
        # warm-up run (codegen caches, artifact builds)
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
            continue
        cons, plan, execs, jobs, stages, tasks, cjobs = [], [], [], [], [], [], []
        for _ in range(runs):
            c0 = newest_job()
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            c1 = job_stage_task_count(c0)
            t1b = time.time()
            jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            t2 = time.time()
            j0 = newest_job()
            t2b = time.time()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.time()
            j1 = job_stage_task_count(j0)
            cons.append(t1 - t0)
            plan.append(t2 - t1b)
            execs.append(t3 - t2b)
            cjobs.append(c1[0])
            jobs.append(j1[0])
            stages.append(j1[1])
            tasks.append(j1[2])
        out[name] = {
            "construct_s": round(statistics.median(cons), 3),
            "construct_jobs": int(statistics.median(cjobs)),
            "plan_s": round(statistics.median(plan), 3),
            "exec_s": round(statistics.median(execs), 3),
            "total_s": round(
                statistics.median(c + p + e for c, p, e in zip(cons, plan, execs)),
                3,
            ),
            "jobs": int(statistics.median(jobs)),
            "stages": int(statistics.median(stages)),
            "tasks": int(statistics.median(tasks)),
        }
        print(json.dumps({name: out[name]}), flush=True)
    outfile = os.environ.get("PROFILE_OUT")
    if outfile:
        with open(outfile, "w") as f:
            json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
