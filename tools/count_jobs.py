"""Per-query Spark job/stage/task counter: fresh JVM, the engine's session
(session.get_spark) with bench's file split size, one query per job group.

Usage: python tools/count_jobs.py SF_DIR QUERY [QUERY...]
Env: CJ_CPUS (default 32), CJ_MEM (default 16g).

Prints one JSON line {query: {"sec": s, "jobs": n, "stages": n,
"tasks": n}, ...}. Job/stage/task counts come from the public
StatusTracker keyed by a per-query job group — the evidence layer for
"this change removed N Spark jobs per micro-batch" claims, where
wall-clock alone is noise-bound at sf0.1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from entity_etl_spark.queries import REGISTRY
    from entity_etl_spark.session import get_spark

    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    cpus = os.environ.get("CJ_CPUS", "32")

    spark = get_spark(
        "cj",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.driver.memory": os.environ.get("CJ_MEM", "16g"),
            # job history must cover one whole query's jobs/stages so the
            # counter reads complete groups (bench queries run hundreds of
            # jobs in streaming harnesses)
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    REGISTRY["incremental_scan"].fn(spark, sf_dir).count()  # warm-up

    def next_job_id() -> int:
        # job-group attribution is thread-local and misses jobs submitted
        # by Structured Streaming's micro-batch thread; the DAGScheduler's
        # monotonically increasing job counter sees every job regardless
        # of submitting thread
        v = sc._jsc.sc().dagScheduler().nextJobId()
        return v if isinstance(v, int) else int(v.get())

    out = {}
    for name in names:
        j0 = next_job_id()
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, sf_dir).count()
        sec = time.perf_counter() - t0
        j1 = next_job_id()
        # status store updates asynchronously; give it a beat
        time.sleep(0.5)
        tracker = sc.statusTracker()
        stages: set[int] = set()
        for jid in range(j0, j1):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for sid in stages:
            sinfo = tracker.getStageInfo(sid)
            if sinfo is not None:
                tasks += sinfo.numTasks
        out[name] = {
            "sec": round(sec, 3),
            "jobs": j1 - j0,
            "stages": len(stages),
            "tasks": tasks,
        }
        print(f"## {name}: {json.dumps(out[name])}", file=sys.stderr, flush=True)
        spark.catalog.clearCache()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
