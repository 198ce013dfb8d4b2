"""Re-probe the env-blocked capabilities and emit a machine-readable
artifact so every "env-blocked" claim in SURVEY.md §8 stays auditable.

Probes (the capabilities the repo still gates behind import-try / runtime
fallbacks, with the feature each one would unlock):

- avro / fastavro  -> python-side Avro; plus a LIVE format("avro") round-trip
                      attempt (Spark ships avro core jars for internal use,
                      but the spark-avro DSv2 module is a separate artifact)
- PIL / cv2 / soundfile -> real image/video/audio codecs (ext/multimodal.py
                      env-gate; WAV/BMP/VID0 decode paths are real already)

Plus one timing probe, ``python_worker_action_s``: the median wall time
of a trivial one-row, one-partition action with and without a Python
worker (``mapInArrow`` vs a plain ``collect``). One partition runs one
task, so the probe starts one worker, not a pool. The gap is the fixed
cost a sink pays to send from the executors instead of the driver
(``sinks.http_sink``).

No installation is attempted: the environment brief forbids pip/apt, so
the probe records importability + a live format probe only.

Usage: python tools/probe_env.py [OUT.json]
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import sys
import time

MODULES = (
    "avro",
    "fastavro",
    "PIL",
    "cv2",
    "soundfile",
)


def probe() -> dict:
    out: dict = {"generated_unix": int(time.time()), "modules": {}}
    for mod in MODULES:
        try:
            m = importlib.import_module(mod)
            out["modules"][mod] = {
                "available": True,
                "version": getattr(m, "__version__", None),
            }
        except Exception as e:  # noqa: BLE001 - any import failure counts
            out["modules"][mod] = {
                "available": False,
                "error": f"{type(e).__name__}: {e}",
            }

    import pyspark

    out["pyspark_version"] = pyspark.__version__
    jar_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    out["relevant_jars"] = sorted(
        os.path.basename(j)
        for j in glob.glob(os.path.join(jar_dir, "*avro*"))
    )

    # live spark-avro probe: core avro jars ship with Spark but the
    # format("avro") DSv2 module (spark-avro_2.13) is a separate artifact
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("probe_env")
        .getOrCreate()
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="probe_avro_")
    try:
        spark.range(3).write.format("avro").save(os.path.join(d, "t"))
        out["spark_avro_format"] = {"available": True}
    except Exception as e:  # noqa: BLE001
        out["spark_avro_format"] = {
            "available": False,
            "error": f"{type(e).__name__}: {str(e)[:200]}",
        }
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)
    out["python_worker_action_s"] = python_worker_action_s(spark)
    return out


def python_worker_action_s(spark, repeats: int = 7) -> dict:
    """Median wall seconds of a one-row, one-partition ``collect`` with and
    without a Python worker in its task, each after one warm-up run."""
    import statistics

    one_row = spark.range(1, numPartitions=1)
    actions = {
        "without_worker": one_row,
        "with_worker": one_row.mapInArrow(lambda batches: batches, "id long"),
    }
    out: dict = {"repeats": repeats}
    for name, df in actions.items():
        df.collect()  # warm-up: the worker start, codegen
        walls = []
        for _ in range(repeats):
            t = time.perf_counter()
            df.collect()
            walls.append(time.perf_counter() - t)
        out[name] = round(statistics.median(walls), 4)
    return out


if __name__ == "__main__":
    artifact = probe()
    dest = sys.argv[1] if len(sys.argv) > 1 else None
    text = json.dumps(artifact, indent=1)
    if dest:
        with open(dest, "w") as f:
            f.write(text + "\n")
        print(f"wrote {dest}")
    print(text)
