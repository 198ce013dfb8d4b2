"""Incremental-scan high-water mark (O3/O14).

Reference semantics (cache.js:99-119 ``getCheckpoint``):

- next checkpoint = max(``updatedOnMs``) over the fetched page (the reference
  sorts descending and takes the head, cache.js:106-108 — an O(n log n) max;
  here it is ``F.max``, a map-side-combined aggregate);
- keep the previous checkpoint if the page is empty or the field is
  missing/invalid (cache.js:101-104, 109-112);
- if the response had ``partialResults`` and the new max equals the previous
  checkpoint, bump +1 ms to guarantee forward progress (cache.js:114-117);
- first-run default checkpoint is 1 (cache.js:18).

The checkpoint is a driver-side scalar (one row), persisted in a tiny JSON
file per table — at 100 TB this stays O(1); only the aggregate is
distributed. A run does not pay a job for it: :func:`observe_scan` attaches
the max and the row count to the scan, and the run's first action over the
scan computes them on the way (:func:`observed_max_ts_and_count`).
"""

from __future__ import annotations

import json
import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

DEFAULT_CHECKPOINT_MS = 1  # reference cache.js:18


def max_ts(df: DataFrame, ts_field: str) -> int | None:
    """Distributed max of the event-time column in its *native unit* (None
    when the input is empty or the column is all-null/absent).

    Native unit = epoch **microseconds** for timestamp columns (full Spark
    timestamp precision, so the checkpoint excludes the max row exactly and
    the scan never re-reads it), and the raw integral value for numeric
    columns (the reference's epoch-ms ``updatedOnMs``)."""
    if ts_field not in df.columns:
        return None
    row = df.agg(F.max(_ts_native_expr(df, ts_field)).alias("m")).first()
    return None if row is None or row["m"] is None else int(row["m"])


def _ts_native_expr(df: DataFrame, ts_field: str):
    # NTZ-safe + tz-free (see tsutil): field arithmetic for TIMESTAMP_NTZ,
    # unix_micros for TIMESTAMP, raw value for numeric epoch-ms columns.
    from .tsutil import epoch_micros_any

    return epoch_micros_any(df, ts_field)


def max_ts_and_count(df: DataFrame, ts_field: str) -> tuple[int | None, int]:
    """Fused max(ts) + row count in ONE aggregate (two jobs).

    Separate ``max_ts`` and ``count()`` actions would read the input twice.
    run_incremental observes both on its scan instead and calls this only
    when that observation was lost (:func:`observed_max_ts_and_count`)."""
    if ts_field not in df.columns:
        return None, df.count()
    row = df.agg(
        F.max(_ts_native_expr(df, ts_field)).alias("m"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    mx = None if row is None or row["m"] is None else int(row["m"])
    return mx, 0 if row is None else int(row["n"])


def observe_scan(df: DataFrame, ts_field: str) -> tuple[DataFrame, Observation]:
    """``df`` with max(ts) and the row count attached as an Observation.

    The first action whose plan runs the returned frame fills the
    Observation; read it with :func:`observed_max_ts_and_count` once that
    action has returned. Requires ``ts_field`` in ``df``."""
    obs = Observation()
    observed = df.observe(
        obs,
        F.max(_ts_native_expr(df, ts_field)).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    return observed, obs


# How long a read of an Observation waits for the listener bus to deliver
# it: a bound, so a stalled bus costs the exact fallback, never a hang.
LISTENER_DRAIN_MS = 10_000


def delivered_row(obs: Observation, spark: SparkSession):
    """The JVM row an Observation was filled with, or None when none was.

    Spark fills an Observation from a query listener on the asynchronous
    listener bus, so the row may land after the action over the observed
    frame has returned. The bus is drained first (at most
    :data:`LISTENER_DRAIN_MS`), so None means that no SQL action over the
    frame ran, or that the optimizer dropped the observed node (it folds
    a filter over an in-memory source into an empty relation before
    anything runs), which delivers an empty row; not that the delivery
    was late."""
    fut = obs._jo.future()
    if not fut.isCompleted():
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(
                LISTENER_DRAIN_MS
            )
        except Py4JJavaError as e:
            # timed out: read what has landed; any other error is raised
            if not e.java_exception.getClass().getName().endswith(
                "TimeoutException"
            ):
                raise
    # read the JVM-side row directly: Observation.get cannot tell an
    # empty (dropped) observation from a failure
    row = fut.value().get().get() if fut.isCompleted() else None
    return None if row is None or row.length() == 0 else row


def observed_max_ts_and_count(
    obs: Observation, df: DataFrame, ts_field: str
) -> tuple[int | None, int]:
    """The (max ts, row count) an :func:`observe_scan` Observation saw.

    Call after the first action over the observed frame has returned.
    When no action filled the Observation (:func:`delivered_row`), the
    exact :func:`max_ts_and_count` over ``df`` — the same rows — runs, so
    a lost Observation costs jobs, never a wrong checkpoint."""
    row = delivered_row(obs, df.sparkSession)
    if row is None:
        return max_ts_and_count(df, ts_field)
    mx = row.get(0)
    return (None if mx is None else int(mx)), int(row.getLong(1))


# Backwards-compatible name for epoch-ms (long) columns.
max_ts_ms = max_ts


def next_checkpoint(
    new_max: int | None,
    previous: int,
    partial_results: bool = False,
) -> int:
    """Pure checkpoint-advance rule (reference cache.js:99-119). Units are
    whatever :func:`max_ts` produced (native units of the ts column)."""
    if new_max is None:
        return previous
    ckpt = max(new_max, previous)
    if partial_results and ckpt == previous:
        # forward-progress tie-bump (cache.js:114-117; test/cache.test.js:76-82)
        ckpt += 1
    return ckpt


def incremental_scan(df: DataFrame, ts_field: str, checkpoint: int) -> DataFrame:
    """Rows strictly newer than the checkpoint (reference bakes
    ``updatedFromMs={{checkpoint}}`` into the source request, app.js:76-82 —
    predicate pushdown by construction). Declared as a plain filter, Catalyst
    pushes it into the parquet scan (row-group stats / partition pruning).

    ``checkpoint`` is in the ts column's native unit (see :func:`max_ts`):
    epoch micros for timestamp columns, the raw value for numeric columns."""
    col = F.col(ts_field)
    dtype = dict(df.dtypes)[ts_field]
    if dtype == "timestamp_ntz":
        # NTZ column vs NTZ literal: tz-free, and the foldable literal keeps
        # the predicate pushable into the parquet scan (row-group stats).
        from .tsutil import micros_to_ntz_literal

        return df.filter(col > micros_to_ntz_literal(checkpoint))
    if dtype.startswith("timestamp"):
        return df.filter(col > F.timestamp_micros(F.lit(checkpoint)))
    return df.filter(col.cast("long") > F.lit(checkpoint))


def checkpoint_path(state_dir: str, table: str) -> str:
    return os.path.join(state_dir, f"{table}.checkpoint.json")


def load_checkpoint(state_dir: str, table: str, default: int = DEFAULT_CHECKPOINT_MS) -> int:
    try:
        with open(checkpoint_path(state_dir, table)) as f:
            return int(json.load(f)["checkpoint"])
    except Exception:
        return default


def save_checkpoint(state_dir: str, table: str, checkpoint: int) -> None:
    os.makedirs(state_dir, exist_ok=True)
    with open(checkpoint_path(state_dir, table), "w") as f:
        json.dump({"checkpoint": checkpoint}, f)
