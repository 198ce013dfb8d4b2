"""Benchmark of the entity_etl_spark pipeline on seeded, generated inputs.

Run from the repository root:

    python3 perfbench/run.py --workload cron_steady --seed 1 --seconds 12 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same workload with spans around
the engine's public calls, tracing every other cycle, and reports the
per-layer metrics. A ``<span>.wall_s`` metric is that span's self time per
cycle (its duration minus its child spans), and ``trace.overhead_ms`` is
the median traced cycle minus the median untraced one.

``--fault drop_body`` (cron_steady) makes the receiver lose one body and
``--fault skip_batch`` (neardup_stream) makes one data-bearing micro-batch
read as empty; the output checks must then fail and the exit code is 1.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS, run_workload  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", choices=("drop_body", "skip_batch"))
    args = ap.parse_args()
    if args.fault and (args.fault == "drop_body") != (args.workload == "cron_steady"):
        ap.error(f"--fault {args.fault} does not apply to {args.workload}")

    try:
        import entity_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    # everything the run writes, Spark's scratch space included, stays
    # under the checkout and is removed at the end
    scratch = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # also for the short-lived launcher JVM of spark-submit
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    try:
        result = run_workload(args, work, T_START)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
