"""Solo query timer: fresh JVM, the engine's session (session.get_spark)
with bench's file split size, one query.

Usage: python tools/time_query.py SF_DIR QUERY [QUERY...]
Env: TQ_CPUS (default 32), TQ_MEM (default 16g), TQ_PARTS (default
TQ_CPUS), TQ_INITIAL_PARTS (default TQ_PARTS), TQ_RUNS (default 2,
best-of). Prints one JSON line {query: best_sec, ...} — the A/B harness
for partition-sizing / plan experiments without dragging a whole bench
run behind one knob.
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
    cpus = os.environ.get("TQ_CPUS", "32")
    parts = os.environ.get("TQ_PARTS", cpus)
    runs = int(os.environ.get("TQ_RUNS", "2"))

    spark = get_spark(
        "tq",
        master=f"local[{cpus}]",
        shuffle_partitions=int(parts),
        extra_conf={
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
                os.environ.get("TQ_INITIAL_PARTS", parts),
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.driver.memory": os.environ.get("TQ_MEM", "16g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    REGISTRY["incremental_scan"].fn(spark, sf_dir).count()  # warm-up

    out = {}
    for name in names:
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
        print(f"## {name}: {out[name]}s", file=sys.stderr, flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
