"""Per-query job/stage/task audit — the status-tracker method VERDICT r7/r8
used to separate job-floor cost from plan waste.  Runs each named query at
the given SF exactly like bench.py's timed pass (noop sink, DataFrame built
inside the timed section) three times and prints, per attempt, one line
with wall seconds, construction seconds, Spark job, stage and task counts,
then one line per Spark job from the AppStatusStore: job id, wall, task
count and callsite/description — so a multi-job query's wall can be
attributed to specific collects/broadcasts/actions instead of guessed at.

Usage: python tools/jobaudit.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and "/" in args[0] else "/root/testdata/sf0.1"
    names = args

    from bench import shuffle_partitions_for
    from flockdb_spark.operators.classes import QueryClass, query_class
    from flockdb_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(
        app_name="flockdb-jobaudit",
        shuffle_partitions=shuffle_partitions_for(sf_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    from flockdb_spark.queries import params_for, store_for

    st = store_for(spark, sf_dir)
    st.edges.count()
    st.metadata.count()
    params_for(spark, sf_dir)
    st.edges.limit(10).write.format("noop").mode("overwrite").save()

    tracker = spark.sparkContext.statusTracker()
    jsc = spark.sparkContext._jsc.sc().statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()

    for name in names:
        for attempt in range(3):
            # attempt-boundary hygiene, same as bench.py's pass boundary:
            # force a full GC OUTSIDE the timed section so ContextCleaner's
            # weak-ref shuffle/broadcast cleanup from the previous attempt
            # cannot bleed into this attempt's wall (r11: an sf3.0 x91 probe
            # without this degraded 9s -> 28s -> 67s across attempts from
            # carried shuffle state, not the plan)
            spark._jvm.System.gc()
            # each attempt runs in a query scope of its own: a unique job
            # group (attempts share nothing, so each attempt's job/stage/
            # task counts are exact, not cumulative) and its caches
            # released at the end
            with query_class(spark, QueryClass.SELECT_COPY):
                group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
                t0 = time.perf_counter()
                df = qs[name](spark, sf_dir)
                c1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
            job_ids = sorted(tracker.getJobIdsForGroup(group) or [])
            n_stages = 0
            n_tasks = 0
            for j in job_ids:
                info = jsc.getJobInfo(j)
                if info.isEmpty():
                    continue
                for s in info.get().stageIds():
                    si = jsc.getStageInfo(s)
                    if not si.isEmpty():
                        n_stages += 1
                        n_tasks += si.get().numTasks()
            print(
                f"{name} attempt={attempt} wall={dt:.3f}s construct={c1 - t0:.3f}s "
                f"jobs={len(job_ids)} stages={n_stages} tasks={n_tasks}",
                flush=True,
            )
            for j in job_ids:
                try:
                    jd = store.job(j)
                except Exception:
                    continue
                sub, comp = jd.submissionTime(), jd.completionTime()
                ms = (
                    comp.get().getTime() - sub.get().getTime()
                    if sub.isDefined() and comp.isDefined()
                    else -1
                )
                dtxt = " ".join(str(jd.name()).split())[:110]
                print(
                    f"  job {j:>4} {ms / 1000.0:7.3f}s tasks={jd.numTasks():>4} {dtxt}",
                    flush=True,
                )
    spark.stop()


if __name__ == "__main__":
    main()
