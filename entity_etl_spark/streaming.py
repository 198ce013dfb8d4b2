"""Structured Streaming variant of the incremental pipeline.

The reference *is* a micro-batch streaming job by construction (15-min cron,
crontab:1; checkpointed incremental fetch, app.js:76-82; keyed TTL state,
cache.js:50-67 — SURVEY §0). This module maps it onto Spark Structured
Streaming natively:

- file/parquet ``readStream`` + checkpointLocation replaces the
  ``updatedFromMs`` high-water mark (the source tracks processed files;
  offsets live in the checkpoint — O1/O3/O14 for free);
- ``Trigger.AvailableNow`` drains everything pending then stops — the
  streaming twin of the reference's do…while(partialResults) page loop
  (app.js:48-59) on a cron tick;
- the keyed TTL state itself (change detection O5, last-write-wins
  O12/O15, TTL purge and refresh-on-read O13) is not a streaming state
  store: ``pipeline.run_streaming`` runs the same transition as
  ``run_incremental`` over the keyed state table inside ``foreachBatch``;
- the rest serves every ``foreachBatch`` callback: the zero-job
  empty-batch probe, batch spreading, and the per-batch-slot state kernel
  of the exactly-mergeable sketch families.

Delivery remains at-least-once toward the sink (state commits after the
batch), matching app.js:55-58; sinks must upsert by id.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def stream_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental file source (O1): new files under ``path`` are the
    micro-batches; processed-file tracking lives in the checkpoint (O14)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str,
    batch_fn: Callable[[DataFrame, int], Any],
    timeout_sec: float = 120.0,
) -> None:
    """Drain everything pending, then stop (reference page loop,
    app.js:48-59, on one cron tick). ``batch_fn(df, batch_id)`` is the sink
    (foreachBatch = at-least-once; upsert by id for effective idempotence).

    A drain still active at ``timeout_sec`` is stopped AND raised: a
    truncated availableNow run has processed a prefix of the pending
    batches, and returning normally would hand the caller silently
    partial output (checkpointed offsets make the next run resume
    correctly, so the error is retryable).

    Completion is detected by *progress*, not only by query termination:
    a caller's stateful operator with ``ProcessingTimeTimeout`` timers
    (``applyInPandasWithState``) keeps an availableNow query alive
    indefinitely (timer expiry schedules fresh zero-input micro-batches
    after the source is drained, so ``awaitTermination`` never returns
    True). availableNow plans all pending offsets up front and runs them
    in the earliest batches, so a completed batch with
    ``numInputRows == 0`` while the source reports no data available
    means every pending batch has been delivered to ``batch_fn`` — the
    drain is complete and the query is stopped gracefully (a timer that
    has not fired yet fires in a later run, from the checkpointed state).

    Two refinements close races in that detection:

    - when the progress's per-source offsets carry ``latestOffset`` (the
      availableNow wrapper latches the planned end there), drained means
      ``endOffset == latestOffset`` on EVERY source — immune to a
      zero-row planned batch (an empty file in a one-file micro-batch
      source) completing before ``isDataAvailable`` refreshes for the
      next planned batch, which could otherwise read as done with
      planned data still pending; timer-only churn never advances
      endOffset, so the signal is also stable under 50-batch timer loops;
    - the zero-input fallback (sources without latestOffset) is confirmed
      on two polls >= 1 s apart with UNCHANGED source end-offsets — a
      pending planned batch starts well inside that window and resets
      the probe."""
    import time as _time

    q = (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    finished = False

    def _drained_now() -> tuple[bool, bool, Any]:
        """(drained, strong, key): strong = offsets prove it (progress is
        published only after the batch's foreachBatch completed, so
        endOffset == latestOffset everywhere means every planned row was
        delivered); weak = zero-input heuristic needing confirmation."""
        lp = q.lastProgress
        if lp is None:
            return False, False, None
        srcs = lp.get("sources") or []
        key = tuple(repr(s.get("endOffset")) for s in srcs)

        def _off(s: dict, name: str) -> Any:
            v = s.get(name)
            # PySpark STRINGIFIES progress values: an unreported offset
            # arrives as the string "None" (FileStreamSource never fills
            # latestOffset), not JSON null
            return None if v in (None, "None", "null", "") else v

        if srcs and all(_off(s, "latestOffset") is not None for s in srcs):
            drained = all(
                _off(s, "endOffset") == _off(s, "latestOffset") for s in srcs
            )
            return drained, True, key
        st = q.status
        return (
            lp.get("numInputRows", 0) == 0
            and not st.get("isDataAvailable", True),
            False,
            key,
        )

    try:
        deadline = _time.monotonic() + timeout_sec
        candidate_key: Any = None
        candidate_at = 0.0
        while _time.monotonic() < deadline:
            # 0.2 s poll: awaitTermination returns the moment a
            # self-terminating (availableNow, timer-free) query ends, so
            # the granularity only prices the DETECTION loop for
            # timer-kept-alive stateful queries — there it bounds the
            # latency between the drain completing and the first ok
            # probe (was up to 1 s of dead wait per streaming query).
            # The >= 1.0 s unchanged-offsets confirmation window below
            # is a correctness guard and stays as-is.
            if q.awaitTermination(0.2):
                finished = True
                break
            ok, strong, key = _drained_now()
            now = _time.monotonic()
            if ok and strong:
                finished = True
                break
            if not ok or candidate_key != key:
                candidate_key = key if ok else None
                candidate_at = now
            elif now - candidate_at >= 1.0:
                finished = True
                break
    finally:
        if q.isActive:
            q.stop()
    if not finished:
        raise TimeoutError(
            f"availableNow drain still running after {timeout_sec}s — "
            "output is a prefix of the pending batches; re-run resumes "
            "from the checkpointed offsets (or raise timeout_sec)"
        )


def require_local_state_paths(*paths: str) -> None:
    """Reject URI-schemed state/checkpoint paths for the per-batch-slot
    state discipline.

    Slot WRITES go through Spark's writer (which resolves any Hadoop
    filesystem), but the read/reset side (:func:`_km_state_dirs`-style
    listings, :func:`reset_state_slots_if_fresh_checkpoint`) is
    driver-local ``os.*`` — pointed at ``hdfs://`` / ``s3a://`` (or even
    ``file://``, which ``os.path`` does not resolve) it would silently
    find no prior state, so every batch folds against the seeds and the
    "cumulative" state is silently wrong rather than loud. Until the
    read side routes through the Hadoop FileSystem API, the contract is
    plain local filesystem paths — enforced here, once, for every slot
    op."""
    for p in paths:
        if p is not None and re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", p):
            raise ValueError(
                f"slot-state path {p!r} carries a URI scheme: the "
                "per-batch-slot state kernel reads state via driver-local "
                "filesystem calls, so remote (or file://-prefixed) state "
                "dirs would silently read as empty. Pass a plain local "
                "path (strip the scheme), or mount the remote store "
                "locally."
            )


def checkpoint_query_id(checkpoint_dir: str) -> str:
    """The query id Spark records in ``<checkpoint>/metadata`` when a
    query first starts on ``checkpoint_dir``: stable across restarts of
    that checkpoint, new for a new one."""
    import json
    import os

    with open(os.path.join(checkpoint_dir, "metadata"), encoding="utf-8") as fh:
        return json.load(fh)["id"]


def _file_source_log_offset(checkpoint_dir: str, batch_id: int) -> int | None:
    """The ``logOffset`` that ``offsets/<batch_id>`` records for a
    single file source, or None when the entry is missing or its one
    source offset is not a file source's ``{"logOffset": N}`` (Kafka,
    Python DataSources and several sources all record something else).
    The offset log is ``v1``, one metadata line, then one line per
    source."""
    import json
    import os

    try:
        with open(os.path.join(checkpoint_dir, "offsets", str(batch_id)),
                  encoding="utf-8") as fh:
            lines = [ln.strip() for ln in fh if ln.strip()]
        offsets = [json.loads(ln) for ln in lines[2:]]
    except (OSError, ValueError):
        return None
    if len(offsets) != 1 or not isinstance(offsets[0], dict):
        return None
    if set(offsets[0]) != {"logOffset"}:
        return None
    n = offsets[0]["logOffset"]
    return n if isinstance(n, int) else None


def planned_batch_rows(checkpoint_dir: str, batch_id: int) -> int | None:
    """Exact planned input-row count of micro-batch ``batch_id`` of a
    SINGLE-file-source stream, read from the checkpoint's offset and
    file-source logs plus the listed files' parquet footers — ZERO Spark
    jobs (the foreachBatch frame itself is a ``LogicalRDD`` and exposes
    nothing).

    The file source's log is indexed by its own ``logOffset``, not by
    the batch id: it advances only when a batch plans new files, while
    batch ids also advance on no-data batches. Both logs are written
    BEFORE the batch runs, so during ``foreachBatch`` they are
    authoritative: the batch read the log entries after the previous
    batch's ``logOffset`` up to its own (``offsets/<batch_id>``), and
    every ``compactInterval``-th entry is ``<log_id>.compact``, carrying
    all prior entries tagged with their batchId. The count is 0 only
    when the previous batch recorded the same ``logOffset`` (a
    timer-only / zero-input batch). Anything unproven returns None —
    callers fall back to ``isEmpty()``: a source that is not a file
    source (Kafka, the rest_entities DataSource), several sources, a
    missing offset or log entry, or a listed file that is not locally
    readable parquet."""
    import json
    import os
    from urllib.parse import unquote, urlparse

    end = _file_source_log_offset(checkpoint_dir, batch_id)
    start = -1 if batch_id == 0 else _file_source_log_offset(
        checkpoint_dir, batch_id - 1
    )
    if end is None or start is None or start > end:
        return None
    sdir = os.path.join(checkpoint_dir, "sources", "0")
    total = 0
    try:
        import pyarrow.parquet as _pq

        for log_id in range(start + 1, end + 1):
            entry = os.path.join(sdir, str(log_id))
            if os.path.exists(entry):
                path, only_batch = entry, None
            else:
                path, only_batch = entry + ".compact", log_id
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if not line or not line.startswith("{"):
                        continue  # version header
                    rec = json.loads(line)
                    if only_batch is not None and rec.get("batchId") != only_batch:
                        continue
                    p = rec["path"]
                    if "://" in p:
                        u = urlparse(p)
                        if u.scheme != "file":
                            return None
                        p = unquote(u.path)
                    total += _pq.ParquetFile(p).metadata.num_rows
    except Exception:
        return None
    return total


def probe_batch_rows(
    batch_df: DataFrame, checkpoint_dir: str, batch_id: int
) -> int | None:
    """The empty-batch probe every ``foreachBatch`` callback runs first:
    0 when the batch is empty (the callback returns), else its planned
    row count for :func:`spread_batch`, or None when the count is
    unknowable. :func:`planned_batch_rows` answers with zero jobs; when
    it cannot, ``isEmpty()`` decides (one job). It is looked up as this
    module's global at call time, so patching
    ``streaming.planned_batch_rows`` reaches every callback."""
    rows = planned_batch_rows(checkpoint_dir, batch_id)
    if rows is None and batch_df.isEmpty():
        return 0
    return rows


# Rows per partition when spreading a landed micro-batch: small enough
# that test-scale batches (thousands of docs) still parallelize the
# per-doc heavy work, large enough that a task amortizes its ~5-15 ms
# scheduling cost over real work. At deployment batch sizes (millions of
# rows) the clamp to defaultParallelism is what binds, so the local
# default and the cluster behavior come from the ONE input-scaled rule.
_SPREAD_ROWS_PER_PARTITION = 256


def spread_batch(
    spark, batch_df: DataFrame, planned_rows: int | None = None
) -> DataFrame:
    """Spread a landed micro-batch across the cluster for per-row heavy
    work (tokenize / signature fold / scoring), width scaled to the
    batch's ACTUAL planned row count instead of a flat
    ``defaultParallelism``: a landed file arrives as ONE input partition,
    but a flat-width repartition makes every downstream stage of a
    kilobyte-sized batch pay parallelism× task overhead (measured: the
    sf0.1 streaming family ran 19-75 jobs of 32 tasks each over ~200 KB
    batches — task scheduling, not compute). ``planned_rows`` comes from
    :func:`planned_batch_rows`; None (unknowable) applies the at-scale
    default, full parallelism. A batch planned at one partition is
    coalesced instead: repartitioning it would run an ``Exchange
    SinglePartition`` job that moves at most 256 rows for nothing."""
    parallelism = spark.sparkContext.defaultParallelism
    if planned_rows is None:
        return batch_df.repartition(parallelism)
    parts = max(
        1, min(parallelism, -(-planned_rows // _SPREAD_ROWS_PER_PARTITION))
    )
    if parts == 1:
        return batch_df.coalesce(1)
    return batch_df.repartition(parts)


def run_slot_stream(
    spark,
    stream,
    state_dir: str,
    checkpoint_dir: str,
    slot_fn,
    *,
    timeout_sec: float = 300.0,
    coalesce: int | None = 1,
) -> None:
    """Shared per-batch-slot streaming state kernel (count-min / Bloom /
    online k-means / streaming top-k — the exactly-mergeable state
    families).

    The cycle every slot op repeats, extracted once:

    1. guard driver-local paths (:func:`require_local_state_paths`);
    2. drop stale ``batch=*`` slots when the checkpoint is fresh
       (:func:`reset_state_slots_if_fresh_checkpoint`);
    3. per micro-batch: skip empties, spread the landed single-partition
       batch across the cluster, call ``slot_fn(batch_df, batch_id)`` for
       the slot CONTENT (a partial for merge-on-read families, the
       folded cumulative state for sequential families like k-means),
       and overwrite ``state_dir/batch=<id>`` — per-slot overwrite is
       what makes at-least-once foreachBatch replay idempotent.

    ``slot_fn`` returning None skips the slot write (a batch that
    contributes nothing). ``coalesce`` controls output-file granularity
    for the sketch-sized slot tables (None = leave partitioning alone).
    Read sides stay per-op (:func:`read_state_slots` + each family's
    merge fold)."""
    import os

    require_local_state_paths(state_dir, checkpoint_dir)
    reset_state_slots_if_fresh_checkpoint(checkpoint_dir, state_dir)

    def process(batch_df, batch_id: int) -> None:
        rows = probe_batch_rows(batch_df, checkpoint_dir, batch_id)
        if rows == 0:
            return
        # a landed file / page arrives as ONE input partition; spread the
        # per-row heavy work (tokenize / signature fold / scoring) or all
        # cores but one sit idle — width scaled to the batch's size
        batch_df = spread_batch(spark, batch_df, rows)
        slot = slot_fn(batch_df, batch_id)
        if slot is None:
            return
        if coalesce is not None:
            slot = slot.coalesce(coalesce)
        slot.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"batch={batch_id}")
        )

    run_available_now(stream, checkpoint_dir, process, timeout_sec=timeout_sec)


def reset_state_slots_if_fresh_checkpoint(
    checkpoint_dir: str, state_dir: str
) -> None:
    """Remove ``state_dir/batch=*`` slots when ``checkpoint_dir`` has no
    committed offsets yet (a NEW logical run, not a crash-resume).

    The per-batch-slot state discipline (count-min / online k-means /
    Bloom) is idempotent under replays of the SAME batch sequence, but a
    fresh run pointed at a state_dir left over from a longer previous run
    would silently read the stale higher slots as final state (sequential
    reads) or double-fold them (merge-on-read). A fresh checkpoint means
    batch ids restart at 0, so any existing slot is definitionally stale;
    a resumed checkpoint keeps its slots — replay needs them.

    Driver-local ``os.*`` only — a URI-schemed path would silently no-op
    exactly where the stale-slot protection matters, so it raises instead
    (:func:`require_local_state_paths`).
    """
    import os
    import shutil

    require_local_state_paths(checkpoint_dir, state_dir)

    offsets = os.path.join(checkpoint_dir, "offsets")
    if os.path.isdir(offsets) and os.listdir(offsets):
        return  # resume: slots are live replay inputs
    if not os.path.isdir(state_dir):
        return
    for d in os.listdir(state_dir):
        if d.startswith("batch="):
            shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)


def read_state_slots(spark, state_dir: str, schema: str):
    """Read every ``state_dir/batch=<id>`` slot as one DataFrame (the
    shared read side of the per-batch-slot state discipline — count-min,
    Bloom, streaming top-k). A state dir that was never written yields
    the EMPTY frame of ``schema`` rather than a missing-path error."""
    from pyspark.errors import AnalysisException

    try:
        return (
            spark.read.schema(schema)
            # per-batch subdirs are replay slots, not partition columns
            .option("recursiveFileLookup", "true")
            .parquet(state_dir)
        )
    except AnalysisException:
        return spark.createDataFrame([], schema)
