"""Sinks (O11).

The reference PUT/POSTs each assembled batch body to a templated endpoint and
fails fast on non-2xx (app.js:88-112, http.js:10-20). Delivery is
at-least-once: state is saved only after a successful send (app.js:55-58), so
a crash between send and save re-sends — the target must upsert by id
(README.md:161-171 documents exactly that contract). The engine keeps the
same contract.

- :func:`write_parquet` / :func:`write_json` — test-harness sinks.
- :func:`http_sink` — sends the assembled bodies from one SQL action, by
  one of two paths chosen from the bodies' planned partitioning (no job
  runs to choose):

  - one partition (a tick over a page of one file split): one
    ``collect`` of the bodies, sent from the driver. A task that ran the
    sends in a Python worker would pay the worker's start, about 0.2-0.3 s
    on a small host (``tools/probe_env.py``), for a few small bodies;
  - any other partitioning: ``mapInArrow`` into the ``noop`` writer, each
    partition sending its bodies from its executor.

  Either way non-2xx raises and fails the action — fail-fast parity — and
  delivery stays at-least-once. The HTTP client is injected so tests run
  without a network.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and sorted) by join/merge keys.

    Bucketing the state table by its id column makes both recurring
    exchanges of the incremental pipeline disappear: the delta join (O5) and
    the state merge window (O12) read pre-partitioned buckets instead of
    shuffling — at 100 TB the difference between a scan and a full network
    pass per run. Readers pick the layout up via the catalog
    (``spark.table(table_name)``)."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table_name)
    )


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def http_sink(
    bodies: DataFrame,
    post: Callable | None = None,
    *,
    method: str = "PUT",
    url: str | None = None,
    headers: dict[str, str] | None = None,
    max_retries: int = 0,
    backoff_s: float = 0.5,
) -> None:
    """Send each assembled batch body (batch.py:assemble_bodies output).

    ``post`` is the injected transport; when None, a stdlib ``urllib``
    client posting to ``url`` is used. One HTTP round-trip per batch row.
    The sends run in ONE SQL action, not an RDD ``foreachPartition``: a
    SQL execution fills an Observation attached to ``bodies``, so the
    pipeline reads its body counts off this action instead of running
    its own. Which action depends on the bodies' planned partitioning
    (the physical plan's output partitioning, under AQE that of the plan
    it starts from; reading it runs no job):

    - one partition: one ``collect`` of the ``body`` column, and the
      driver sends each body in turn, as the reference's sequential
      per-batch await does (app.js:99-111). No Python worker starts.
      The pipeline plans the bodies as one partition only for a page of
      one file split (:func:`~entity_etl_spark.state.split_count`), and
      on a session of more than one core such a page's size estimate is
      at most ``spark.sql.files.openCostInBytes`` (4 MiB by default), so
      the collected bodies, a projection of that page's changed rows,
      are small. A caller's own one-partition frame is collected whole
      too.
    - any other partitioning: ``mapInArrow`` into the ``noop`` writer;
      each partition's task sends its bodies from its executor,
      partition-parallel, the distributed analogue of that loop.

    Delivery semantics (reference parity + the distributed extra):
    fail-fast on non-2xx like http.js:15-19, on either path. The
    executor path adds a failure mode the sequential reference never
    has — a task that dies MID-partition is re-run by Spark from the
    partition's first row, re-sending every body the failed attempt
    already delivered. On the driver path a failed run re-sends on the
    next one, as the reference does. So the sink is at-least-once per
    BODY on both paths, and each request carries a
    deterministic ``Idempotency-Key`` header (md5 of the body) so a
    conforming receiver can collapse replays into exactly-once effect;
    an upsert-by-id receiver (the reference's documented contract,
    README.md:161-171) is naturally idempotent and may ignore the key.

    An injected ``post`` may accept ``(body)`` or ``(body, key)``
    (arity-detected); return the HTTP status int.

    ``max_retries`` > 0 enables per-request retry with exponential
    backoff (``backoff_s * 2**attempt``) on TRANSIENT outcomes only —
    408/429/5xx and transport exceptions; 4xx client errors fail fast
    with no retry (a malformed body never heals). Retries re-send with
    the SAME idempotency key. Task-level Spark retries sit above this
    and replay whole partitions; both layers rely on the key/upsert
    contract for dedup."""
    import hashlib
    import inspect

    if post is None:
        if url is None:
            raise ValueError("http_sink needs either a post callable or a url")
        frozen_headers = dict(headers or {"Content-Type": "application/json"})
        frozen_method, frozen_url = method, url

        def post(body: str, key: str) -> int:  # pragma: no cover - network
            import urllib.error
            import urllib.request

            req = urllib.request.Request(
                frozen_url,
                data=body.encode("utf-8"),
                headers={**frozen_headers, "Idempotency-Key": key},
                method=frozen_method,
            )
            try:
                with urllib.request.urlopen(req) as resp:
                    resp.read()
                    return resp.status
            except urllib.error.HTTPError as e:
                # urlopen RAISES for non-2xx; surfacing the code as a
                # return lets send_one's transient/permanent split run —
                # otherwise a permanent 4xx lands in the generic
                # exception arm and gets retried, violating the
                # '4xx fails fast' contract. HTTPError IS the response:
                # drain and close it, or each failed attempt leaks a
                # socket until GC (fd exhaustion under long retry loops)
                try:
                    e.read()
                finally:
                    e.close()
                return e.code

    try:
        # only count parameters the (body, key) positional call can bind:
        # `def post(body, timeout=30)` must NOT be handed the key (it
        # would silently bind to timeout), and keyword-only params can't
        # receive a positional at all
        params = inspect.signature(post).parameters.values()
        positional = [
            p
            for p in params
            if p.kind
            in (
                inspect.Parameter.POSITIONAL_ONLY,
                inspect.Parameter.POSITIONAL_OR_KEYWORD,
            )
        ]
        takes_key = (
            sum(1 for p in positional if p.default is inspect.Parameter.empty)
            >= 2
            or any(p.name == "key" for p in positional)
            or any(
                p.kind == inspect.Parameter.VAR_POSITIONAL for p in params
            )
        )
    except (TypeError, ValueError):  # builtins without signatures
        takes_key = False
    sender, retries, backoff = post, max_retries, backoff_s

    def send_one(body: str) -> None:
        import time

        key = hashlib.md5(body.encode("utf-8")).hexdigest()
        for attempt in range(retries + 1):
            try:
                status = sender(body, key) if takes_key else sender(body)
            except Exception:
                if attempt >= retries:
                    raise
                time.sleep(backoff * (2**attempt))
                continue
            if 200 <= status < 300:
                return
            transient = status in (408, 429) or status >= 500
            if not transient or attempt >= retries:
                # fail-fast on non-2xx (reference http.js:15-19)
                raise RuntimeError(f"sink returned HTTP {status}")
            time.sleep(backoff * (2**attempt))

    frame = bodies.select("body")
    if _planned_single_partition(frame):
        for row in frame.collect():
            send_one(row[0])
        return

    def send_partition(batches):
        for batch in batches:
            for body in batch.column("body").to_pylist():
                send_one(body)
        yield from ()

    (
        frame.mapInArrow(send_partition, "sent long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def _planned_single_partition(df: DataFrame) -> bool:
    """Whether ``df``'s physical plan computes it as one partition. Reads
    the planned output partitioning, which runs no job; under AQE that of
    the plan AQE starts from, since the adaptive root reports none."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.inputPlan()
    return plan.outputPartitioning().getClass().getSimpleName() == "SinglePartition$"


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    split_col: str = "split",
    shard_key: str | None = None,
    n_shards: int = 8,
    max_records_per_file: int = 100_000,
    mode: str = "overwrite",
) -> None:
    """Write a prepared corpus as training shards: Hive-partitioned by
    ``split`` (train/val/test directories a loader can glob independently),
    ``n_shards`` roughly-equal files per split, each capped at
    ``max_records_per_file`` rows.

    Sharding hashes ``shard_key`` (default: every column) so content, not
    arrival order, decides placement — re-runs produce the same shard
    membership, and a shard is a valid i.i.d.-ish subsample of its split
    (loaders that stream shard-by-shard see an unbiased stream). The
    repartition is the only shuffle; maxRecordsPerFile then splits
    oversized shards at write time without another pass.
    """
    keys = [F.col(shard_key)] if shard_key else [F.col(c) for c in df.columns]
    sharded = df.repartition(n_shards, *keys)
    (
        sharded.write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(split_col)
        .parquet(path)
    )


def write_parquet_with_metrics(
    df: DataFrame, path: str, mode: str = "overwrite"
) -> dict[str, int]:
    """Parquet write whose row/item accounting rides the WRITE JOB itself
    (``Dataset.observe``): the counts are collected by accumulators
    during the one pass that writes the files — no second count() action,
    no cache. This is the audit-friendly sink shape at 100 TB, where
    re-scanning the output (or caching the input) just to count rows is
    a full extra pass over the data.

    Returns ``{"rows": ..., "null_free_rows": ...}`` — null_free counts
    rows with no NULL in any column (a cheap completeness audit that
    costs nothing extra on the same pass).
    """
    from pyspark.sql import Observation

    from .ext.expectations import not_null

    obs = Observation("write_metrics")
    df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        not_null(df.columns).alias("null_rows"),
    ).write.mode(mode).parquet(path)
    got = obs.get
    return {
        "rows": int(got["rows"]),
        "null_free_rows": int(got["rows"]) - int(got["null_rows"]),
    }


def compact_parquet(
    spark,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Small-files compaction — the table-maintenance op every
    long-running ingest needs (each incremental batch writes a few
    files; a year later the scan is metadata-bound on 100k tiny files).

    File inventory comes from the scan itself (``_metadata`` hidden
    columns — no filesystem listing pass), the target file count is
    ``ceil(total_bytes / target_file_bytes)``, the row count is observed
    on the write job itself (no re-scan of the output), and the swap is
    the two-rename generation pattern: old generation renamed aside,
    compacted generation renamed in, old one deleted last. Atomic-ISH
    like ``state.save_state``: no data is ever lost (a crash between the
    renames leaves the old generation intact at ``path + '.old'``, and
    the next run fails fast with recovery instructions instead of
    compacting half-state), but a directory swap cannot be a single
    atomic operation — a reader listing ``path`` in the instant between
    the two renames errors and must retry. On a real lakehouse this step is the table-format commit
    (Delta/Iceberg swap a manifest pointer, which IS atomic); the
    dataflow is identical.

    Returns {"files_before", "files_after", "total_bytes", "rows"}.
    """
    import math
    import os
    import shutil

    from pyspark.sql import Observation

    # Crash-reentrancy: a previous run that died between the two renames
    # leaves ``path + '.old'`` holding the ONLY good generation (and
    # possibly no ``path`` at all) — silently proceeding would compact a
    # half-state or fail mid-swap with an opaque ENOTEMPTY. Fail fast
    # with the recovery instruction instead. A stale ``.compact_tmp``
    # (crash during the write) is safe to discard: nothing referenced it.
    old = path + ".old"
    tmp = path + ".compact_tmp"
    if os.path.exists(old):
        raise RuntimeError(
            f"compact_parquet: leftover {old!r} from an interrupted "
            "compaction. Recover manually: if "
            f"{path!r} is complete, delete {old!r}; if {path!r} is "
            f"missing or partial, restore it from {old!r} first."
        )
    if os.path.exists(tmp):
        shutil.rmtree(tmp)

    df = spark.read.parquet(path)
    inv = (
        df.select(
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.file_size").alias("fs"),
        )
        .groupBy("fp")
        .agg(F.first("fs").alias("fs"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("fs").alias("total_bytes"),
        )
        .first()
    )
    n_files, total_bytes = int(inv["n_files"]), int(inv["total_bytes"])
    n_target = max(1, math.ceil(total_bytes / target_file_bytes))
    obs = Observation("compact_rows")
    df.repartition(n_target).observe(
        obs, F.count(F.lit(1)).alias("rows")
    ).write.mode("overwrite").parquet(tmp)
    rows = int(obs.get["rows"])
    os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old)
    after = len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )
    return {
        "files_before": n_files,
        "files_after": after,
        "total_bytes": total_bytes,
        "rows": rows,
    }
