"""Keyed state table with TTL — the reference's cache (O12/O13/O15).

Reference semantics (cache.js):

- state is a map ``id -> {ttl, entity}`` persisted per table
  (cache.js:27,56,91-93); entities stored with ``updatedOnMs`` stripped
  (cache.js:53) — here we store ``(id, content_hash, ttl_ms)`` instead of the
  full entity: change detection only needs the hash, which is dramatically
  smaller at 100 TB (the reference stores full copies because it is also the
  record cache; the engine's sink is idempotent by id so full copies are not
  needed).
- upsert is last-write-wins per key (Map.set, cache.js:50-58)  — O12/O15
- entries expire ``ttl < now`` and are purged each run (cache.js:60-67) — O13
- TTL is refreshed for every key *seen* this run, even when unchanged
  (cache.js:79, refresh-on-read) and for every written key (cache.js:51-57)

Batch representation: a plain DataFrame/parquet table
``(id, __content_hash, __ttl_ms)``. Streaming representation: see
streaming.py (state store with native TTL).

Scale notes: the merge keeps the latest row per key of the PAGE, then
upserts it, by one of two plans; the state is scanned and rewritten, never
shuffled:

- :func:`upsert_state`: live state rows whose id the page does not hold (a
  map-side anti-join against the broadcast page ids) union the page's rows
  with a fresh TTL. Only page-sized data crosses an exchange.
- :func:`merge_state_join`: a full outer join on id. The pipeline takes it
  when the page and the state each fit one file split (:func:`split_count`):
  both sides are read as one partition, and a shuffled hash join that
  hashes the page needs no exchange and no broadcast.

The pipeline reads and writes only the plain parquet table
(:func:`load_state` / :func:`save_state`). The bucketed warehouse layout
(:func:`save_state_bucketed` / :func:`load_state_bucketed`) is what
:func:`state_lifecycle_metrics` reports generation-swap accounting over.
"""

from __future__ import annotations

import os
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .delta import HASH_COL, ensure_content_hash, keep_latest_per_key

TTL_COL = "__ttl_ms"


def now_ms() -> int:
    return int(time.time() * 1000)


def state_schema(id_field: str, id_type: T.DataType) -> T.StructType:
    """The state table's schema: ``(id, __content_hash, __ttl_ms)``."""
    return T.StructType(
        [
            T.StructField(id_field, id_type),
            T.StructField(HASH_COL, T.StringType()),
            T.StructField(TTL_COL, T.LongType()),
        ]
    )


def state_path(state_dir: str, table: str) -> str:
    return os.path.join(state_dir, f"{table}.state.parquet")


def load_state(
    spark: SparkSession,
    state_dir: str,
    table: str,
    schema: T.StructType | None = None,
) -> DataFrame | None:
    """Load persisted state; None on first run (reference loadCache default,
    cache.js:20-35).

    Without ``schema`` the reader infers it from the files, which costs one
    Spark job per load; a caller that knows the layout passes it
    (:func:`state_schema`) and the load runs no job."""
    path = state_path(state_dir, table)
    if not os.path.exists(path):
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except Exception:
        return None


def save_state(state: DataFrame, state_dir: str, table: str) -> None:
    """Persist state (reference saveCache, cache.js:37-42).

    The next state is usually DERIVED from the current state file, so a
    direct overwrite would delete the input while the lazy plan still reads
    it (FAILED_READ_FILE race). Write to a temp dir, then swap — also makes
    the save atomic-ish: a crash mid-write leaves the old state intact,
    preserving the at-least-once contract (app.js:55-58)."""
    import shutil

    path = state_path(state_dir, table)
    tmp = path + ".tmp"
    state.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)


def append_state(new_rows: DataFrame, state_dir: str, table: str) -> None:
    """Grow state by appending ONLY the new rows (parquet append), leaving
    the existing state files untouched.

    :func:`save_state` rewrites the whole table every increment — correct,
    but O(total state) per batch: at corpus scale the fingerprint/signature
    state dwarfs any one micro-batch, so a continuously-fed pipeline pays
    O(corpus) per micro-batch forever. Appending keeps the per-batch cost
    O(batch). It is safe against the FAILED_READ_FILE race save_state's
    swap exists for, because append never deletes or replaces an existing
    file — a plan that lazily reads the current state sees its planned-time
    file snapshot unchanged. Under foreachBatch at-least-once replay a
    crashed append can leave duplicate state rows, so only a
    duplicate-insensitive consumer may read an appended table: the
    fingerprint anti-join (``exact_dedup_incremental``) and the MinHash
    (doc, sig) band buckets, deduped by the pair distinct
    (``minhash_dedup_incremental``) — the same idempotence contract the
    output append already relies on. The exact near-dup state counts
    shingles, so it is not appended here: ``ext.dedup.append_neardup_state``
    commits one dir per batch key instead, replaced whole on replay.
    Compact generations offline with sinks.compact_parquet if small
    state files accumulate."""
    path = state_path(state_dir, table)
    new_rows.write.mode("append").parquet(path)


def _bucketed_meta_path(state_dir: str, table: str) -> str:
    return os.path.join(state_dir, f"{table}.state.bucketed.json")


def load_state_bucketed(
    spark: SparkSession, state_dir: str, table: str
) -> DataFrame | None:
    """Load state from its bucketed warehouse table (None on first run).

    The catalog carries the bucket spec, so every downstream join/merge on
    the id column reads pre-partitioned buckets — the 'bucket state by id and
    both recurring exchanges disappear' design note in sinks.write_bucketed."""
    import json as _json

    meta_path = _bucketed_meta_path(state_dir, table)
    if not os.path.exists(meta_path):
        return None
    with open(meta_path, encoding="utf-8") as fh:
        meta = _json.load(fh)
    if not spark.catalog.tableExists(meta["table"]):
        return None
    return spark.table(meta["table"])


def save_state_bucketed(
    state: DataFrame,
    state_dir: str,
    table: str,
    id_field: str,
    n_buckets: int = 32,
) -> None:
    """Persist state bucketed+sorted by id, atomically via generation swap.

    The next state is derived from the current generation's table, so the
    write goes to the *other* generation first (materializing the plan while
    its input still exists), then the pointer file flips and the old
    generation drops — a crash at any point leaves a readable state, same
    contract as save_state's tmp-dir swap (app.js:55-58 at-least-once)."""
    import json as _json

    from .sinks import write_bucketed

    spark = state.sparkSession
    meta_path = _bucketed_meta_path(state_dir, table)
    old_name, gen, merges = None, 0, 0
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as fh:
            meta = _json.load(fh)
        old_name, gen = meta["table"], (meta["generation"] + 1) % 2
        merges = meta.get("merges", 1)  # pre-counter metas: >=1 save
    new_name = f"{table}_state_g{gen}"
    spark.sql(f"DROP TABLE IF EXISTS {new_name}")  # stale leftover of a crash
    # an ORPHANED location (directory present, no catalog entry — e.g. a
    # previous session's in-memory catalog died without cleanup) blocks
    # saveAsTable with LOCATION_ALREADY_EXISTS; nothing references it, so
    # clear it rather than failing the run. Goes through the session's
    # Hadoop FileSystem so it works for hdfs://, s3a://, etc. — not just
    # a local-filesystem warehouse dir
    wh = spark.conf.get("spark.sql.warehouse.dir") or ""
    if wh:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        orphan = jvm.org.apache.hadoop.fs.Path(wh, new_name.lower())
        fs = orphan.getFileSystem(hconf)
        if fs.exists(orphan):
            fs.delete(orphan, True)
    write_bucketed(state, new_name, [id_field], n_buckets=n_buckets)
    os.makedirs(state_dir, exist_ok=True)
    tmp = meta_path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        # merges: cumulative save count — every save after the first
        # drops one superseded generation, so lifecycle accounting can
        # report generations_reclaimed = merges - 1 without scanning
        _json.dump(
            {"table": new_name, "generation": gen, "merges": merges + 1},
            fh,
        )
    os.replace(tmp, meta_path)
    if old_name and old_name != new_name:
        spark.sql(f"DROP TABLE IF EXISTS {old_name}")


def state_lifecycle_metrics(
    spark: SparkSession,
    state_dir: str,
    table: str,
    *,
    now_epoch_ms: int,
    bucketed: bool = False,
) -> DataFrame:
    """One-row lifecycle accounting over a persisted state table — the
    observability the reference's ``removeExpiredEntries`` log line
    provided (cache.js:60-67), as a queryable DataFrame riding the
    merge job:

    - ``n_keys`` / ``n_live`` / ``n_expired_tombstones``: physical rows
      vs TTL-live rows vs expired rows still on disk (tombstones purge
      at the NEXT merge, so between merges the physical table is larger
      than the logical one — exactly what a vacuum planner needs to
      see);
    - ``n_files`` / ``total_bytes``: filesystem footprint (a
      compaction trigger: many small files after append-style growth);
    - ``generation`` / ``n_merges`` / ``generations_reclaimed``
      (bucketed backend): the generation-swap pointer position, the
      cumulative merge count, and how many superseded generations were
      dropped (merges - 1 — each save after the first reclaims one).

    The key counts are one distributed aggregate over the state table;
    the file walk is driver-side metadata (same class of op as a
    catalog listing), never row data."""
    if bucketed:
        import json as _json

        with open(_bucketed_meta_path(state_dir, table), encoding="utf-8") as fh:
            meta = _json.load(fh)
        state = spark.table(meta["table"])
        # resolve the table's DATA LOCATION from the catalog, not path
        # arithmetic — a metastore database location or explicit-path
        # table would silently walk a nonexistent guessed dir otherwise
        loc = next(
            r.data_type
            for r in spark.sql(
                f"DESCRIBE EXTENDED {meta['table']}"
            ).collect()
            if r.col_name == "Location"
        )
        if "://" in loc and not loc.startswith("file:"):
            # a remote location (hdfs://, s3a://) would make the local
            # os.walk below silently report 0 files / 0 bytes — the
            # exact wrong-dir class this resolution exists to avoid
            raise ValueError(
                f"state_lifecycle_metrics walks the local filesystem; "
                f"table location is remote: {loc}"
            )
        root = loc.removeprefix("file:")
        generation = meta["generation"]
        n_merges = meta.get("merges", 1)
    else:
        root = state_path(state_dir, table)
        state = spark.read.parquet(root)
        generation, n_merges = 0, 1
    from .ext.layout import parquet_file_stats

    n_files, total_bytes = parquet_file_stats(root)
    counts = state.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.count(F.when(F.col(TTL_COL) >= F.lit(now_epoch_ms), 1))
        .cast("bigint")
        .alias("n_live"),
        F.count(F.when(F.col(TTL_COL) < F.lit(now_epoch_ms), 1))
        .cast("bigint")
        .alias("n_expired_tombstones"),
    )
    return counts.select(
        "n_keys",
        "n_live",
        "n_expired_tombstones",
        F.lit(n_files).cast("bigint").alias("n_files"),
        F.lit(total_bytes).cast("bigint").alias("total_bytes"),
        F.lit(generation).cast("int").alias("generation"),
        F.lit(n_merges).cast("int").alias("n_merges"),
        F.lit(max(0, n_merges - 1)).cast("int").alias(
            "generations_reclaimed"
        ),
    )


def merge_state_join(
    state: DataFrame | None,
    incoming: DataFrame,
    id_field: str,
    *,
    ignore: Sequence[str] = ("updatedOnMs",),
    ttl_hours: float = 8.0,
    now_epoch_ms: int | None = None,
) -> DataFrame:
    """Join-based MERGE: the state transition as a full-outer join on id —
    WHEN MATCHED take the update, WHEN NOT MATCHED keep the (live) state row.

    Semantically equal to :func:`merge_state` when ``incoming`` is already
    one-row-per-key (delta.keep_latest_per_key runs first). The pipeline
    merges with it when the page and the state are each one partition
    (pipeline._transition): a shuffled hash join of two one-partition
    sides exchanges nothing. :func:`upsert_state`, its merge otherwise,
    spares the state a shuffle by broadcasting the page's ids instead.
    Against a state table bucketed by id (:func:`save_state_bucketed`)
    the join needs no shuffle on the state side either.

    TTL semantics unchanged: expired rows filtered before the join
    (cache.js:60-67); every seen key gets a fresh TTL (cache.js:79
    refresh-on-read); unmatched live state keeps its old TTL.
    """
    now_epoch_ms = now_ms() if now_epoch_ms is None else now_epoch_ms
    ttl_ms = now_epoch_ms + int(ttl_hours * 3600 * 1000)
    updates = (
        ensure_content_hash(incoming.filter(F.col(id_field).isNotNull()), exclude=ignore)
        .select(
            F.col(id_field),
            F.col(HASH_COL).alias("__u_hash"),
            F.lit(ttl_ms).alias("__u_ttl"),
        )
    )
    if state is None:
        return updates.select(
            F.col(id_field),
            F.col("__u_hash").alias(HASH_COL),
            F.col("__u_ttl").alias(TTL_COL),
        )
    live = state.filter(F.col(TTL_COL) >= F.lit(now_epoch_ms)).select(
        F.col(id_field),
        F.col(HASH_COL).alias("__s_hash"),
        F.col(TTL_COL).alias("__s_ttl"),
    )
    return live.join(updates, [id_field], "full_outer").select(
        F.col(id_field),
        F.coalesce("__u_hash", "__s_hash").alias(HASH_COL),
        F.coalesce("__u_ttl", "__s_ttl").alias(TTL_COL),
    )


def split_count(df: DataFrame) -> int:
    """How many splits Spark's file scan cuts one file of ``df``'s
    estimated size into (its FilePartition split size: one split below the
    per-file open cost, one per core above it, at most
    ``spark.sql.files.maxPartitionBytes`` each). Read from the plan's
    statistics, so it runs no job. An unknown size (a frame without
    statistics reads as huge) caps at the largest int, which no
    ``coalesce`` narrows to."""
    spark = df.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    per_core = size // spark.sparkContext.defaultParallelism
    split = min(
        conf.filesMaxPartitionBytes(), max(conf.filesOpenCostInBytes(), per_core)
    )
    return min(max(1, -(-size // split)), 2**31 - 1)


def upsert_state(
    state: DataFrame | None,
    latest: DataFrame,
    id_field: str,
    *,
    ttl_hours: float = 8.0,
    now_epoch_ms: int | None = None,
) -> DataFrame:
    """The next state from the current one and a page's ``latest`` rows:

        live(state) ⋉̸ broadcast(latest ids)  ∪  latest(id, hash, fresh ttl)

    ``latest`` holds one row per non-null key and carries ``HASH_COL``
    (:func:`~entity_etl_spark.delta.keep_latest_per_key`'s output). Every
    key it holds gets its hash and a fresh TTL; live state rows of other
    keys keep theirs; expired rows are dropped (cache.js:44-67).

    Precondition: ``state`` holds one row per key. :func:`save_state` of
    this function's output keeps it so; the union cannot create a
    duplicate, because the anti-join removed every key that ``latest``
    re-adds.

    Only page-sized data moves: the page's ids are broadcast to a
    map-side anti-join, so no window and no shuffle touch the state. The
    output has as many partitions as Spark's file scan would cut one file
    of the state's size into (:func:`split_count`).

    The pipeline uses it for a page or a state of several file splits
    (or of unknown size); a one-split page over a one-split state takes
    :func:`merge_state_join`'s one-partition plan instead, which runs no
    broadcast job (pipeline._transition)."""
    now_epoch_ms = now_ms() if now_epoch_ms is None else now_epoch_ms
    ttl_ms = now_epoch_ms + int(ttl_hours * 3600 * 1000)
    fresh = latest.select(
        F.col(id_field), F.col(HASH_COL), F.lit(ttl_ms).cast("long").alias(TTL_COL)
    )
    if state is None:
        return fresh
    live = state.filter(F.col(TTL_COL) >= F.lit(now_epoch_ms)).select(
        id_field, HASH_COL, TTL_COL
    )
    unseen = live.join(
        F.broadcast(latest.select(id_field)), [id_field], "left_anti"
    )
    # a narrow coalesce (no shuffle): the page's rows ride along with the
    # state's, and the file count follows the state's size instead of
    # gaining the page's partitions every tick
    return unseen.unionByName(fresh).coalesce(split_count(state))


def merge_state(
    state: DataFrame | None,
    incoming: DataFrame,
    id_field: str,
    *,
    ignore: Sequence[str] = ("updatedOnMs",),
    ts_field: str | None = None,
    ttl_hours: float = 8.0,
    now_epoch_ms: int | None = None,
) -> DataFrame:
    """One run's state transition. Returns the next state table.

    Steps, in reference order (cache.js:44-48 ``updateCache``):

    1. purge expired entries — ``ttl < now`` (cache.js:60-67)
    2. upsert every incoming row (id, fresh hash, fresh ttl) last-write-wins
       (cache.js:50-58)
    3. refresh TTL for every *seen* key even if unchanged — implied by (2)
       here because the engine upserts all seen rows, not only changed ones,
       which reproduces refresh-on-read (cache.js:79) exactly: unchanged rows
       rewrite an identical hash with a fresh TTL.

    ``incoming`` may hold several rows per key: it is first reduced to the
    latest row per key (:func:`~entity_etl_spark.delta.keep_latest_per_key`,
    by ``ts_field`` and then by content hash over the columns minus
    ``ignore``; a ``HASH_COL`` already on ``incoming`` is reused), then
    upserted by :func:`upsert_state`. The pipeline runs the keep-latest
    once per tick and calls :func:`upsert_state` on it directly.

    Precondition: ``state`` holds one row per key, as every
    :func:`save_state` of this function's output does.
    """
    latest = keep_latest_per_key(incoming, id_field, ts_field, exclude=ignore)
    return upsert_state(
        state, latest, id_field, ttl_hours=ttl_hours, now_epoch_ms=now_epoch_ms
    )


# ---------------------------------------------------------------------------
# SCD Type-2 history (the keep-history generalization of the upsert state)
# ---------------------------------------------------------------------------


def scd2_history(
    events: DataFrame,
    key: str,
    attr: str,
    ts: str,
    tiebreak: str,
) -> DataFrame:
    """Full SCD Type-2 rebuild: collapse a change event stream into validity
    intervals.

    The reference's cache keeps only the LATEST value per key (Map.set,
    cache.js:55-57); a warehouse-grade state table keeps every value a key
    ever had, with the interval it was valid for. This is the batch rebuild:
    change-point detection (drop rows whose ``attr`` equals the previous
    row's) then ``valid_to = lead(valid_from)`` per key.

    Output columns: ``key, attr, tiebreak, valid_from, valid_to, is_current``
    where ``valid_from``/``valid_to`` carry ``ts``'s type, ``valid_to`` is
    NULL on the open row, and ``tiebreak`` (a unique event id) makes ordering
    deterministic under equal timestamps.

    Scale: two windows over the same (key × time) ordering — Catalyst plans
    ONE Exchange on ``key`` and sorts once. Nothing else moves.
    """
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    chg = (
        events.select(key, attr, ts, tiebreak)
        .withColumn("__prev", F.lag(attr).over(w))
        .withColumn("__rn", F.row_number().over(w))
        .filter(
            (F.col("__rn") == 1) | ~F.col("__prev").eqNullSafe(F.col(attr))
        )
        .drop("__prev", "__rn")
        .withColumnRenamed(ts, "valid_from")
    )
    w2 = Window.partitionBy(key).orderBy("valid_from", tiebreak)
    return chg.withColumn("valid_to", F.lead("valid_from").over(w2)).withColumn(
        "is_current", F.col("valid_to").isNull()
    )


def merge_scd2(
    history: DataFrame | None,
    incoming: DataFrame,
    key: str,
    attr: str,
    ts: str,
    tiebreak: str,
) -> DataFrame:
    """Incremental SCD Type-2 merge: apply a batch of change events that are
    strictly newer than every row in ``history`` (the checkpoint guarantee,
    app.js:76-82) and return the next history table.

    Closed rows (``is_current = false``) pass through UNTOUCHED — no window,
    no shuffle; only the one open row per key is re-derived, by seeding the
    change-point scan with (key, current attr, valid_from) and unioning the
    incoming events. Equals :func:`scd2_history` over the full event series
    (pinned by the driver oracle and a property test) because the open row
    is, by construction, the last change-point of the prefix.

    Scale: at 100 TB of accumulated history the closed partition — the bulk
    of the table — is never read into a shuffle; the exchange carries
    |keys| + |batch| rows. This is the history-table analogue of
    merge_state_join's "state side never shuffles" discipline.
    """
    cols = [key, attr, ts, tiebreak]
    if history is None:
        return scd2_history(incoming, key, attr, ts, tiebreak)
    closed = history.filter(~F.col("is_current"))
    seed = history.filter(F.col("is_current")).select(
        key, attr, F.col("valid_from").alias(ts), tiebreak
    )
    tail = scd2_history(
        seed.unionByName(incoming.select(*cols)), key, attr, ts, tiebreak
    )
    return closed.unionByName(tail)


def apply_cdc(
    state: DataFrame | None,
    changes: DataFrame,
    id_col: str,
    ts_col: str,
    *,
    op_col: str = "op",
    tiebreak: str | None = None,
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Apply a change-data-capture batch — rows tagged I(nsert)/U(psert)/
    D(elete) — to a keyed state table and return the next state.

    The reference's cache can only upsert and expire (cache.js:50-67); a
    CDC feed also carries explicit deletes (tombstones), which TTL cannot
    express. Semantics: keep the LATEST change per key (ts, then tiebreak —
    the same last-write-wins as merge_state); a final D removes the key,
    any other op upserts the change's payload; keys without changes keep
    their state row.

    Scale shape: the changes side collapses to one row per key BEFORE the
    merge join (WindowGroupLimit prunes map-side); the state side joins on
    its own key — bucketed state layout makes it shuffle-free, tombstones
    cost nothing extra.
    """
    pcols = (
        list(payload_cols)
        if payload_cols is not None
        else [c for c in changes.columns if c not in (id_col, ts_col, op_col)]
    )
    order = [F.desc(ts_col)] + ([F.desc(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(id_col).orderBy(*order)
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(id_col),
            F.col(op_col).alias("__op"),
            *[F.col(c).alias(f"__c_{c}") for c in pcols],
        )
    )
    if state is None:
        return latest.filter(F.col("__op") != "D").select(
            F.col(id_col), *[F.col(f"__c_{c}").alias(c) for c in pcols]
        )
    merged = state.join(latest, [id_col], "full_outer")
    return (
        merged.filter(F.col("__op").isNull() | (F.col("__op") != "D"))
        .select(
            F.col(id_col),
            *[
                F.when(F.col("__op").isNotNull(), F.col(f"__c_{c}"))
                .otherwise(F.col(c))
                .alias(c)
                for c in pcols
            ],
        )
    )
