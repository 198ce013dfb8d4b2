"""Run orchestration (EP1, O16) — the reference main()/handleEntityType()
loop (app.js:13-60) re-expressed around DataFrames.

Per table, one incremental run is:

    page       = content_hash(incremental_scan(source, ts, checkpoint))
                 + observe(max ts, rows)                        # O1/O3, O5
    latest     = keep_latest_per_key(page, id, ts), cached      # O15
    delta      = changed_rows(latest, state, id)                # O5
    shaped     = apply_mapping(delta, projection_spec)          # O6-O9
    batched    = assign_batches(to_json(shaped)) + observe(items)# O9/O10
    bodies     = assemble_bodies(batched) + observe(batches, items)
    sink(bodies)                                                # O11
    state'     = upsert_state | merge_state_join(state, latest) # O12/O13
    checkpoint'= next_checkpoint(observed max ts, prev, partial)# O14

The page is hashed once and reduced to its latest row per key once; that
``latest`` is cached, and the delta and the next state both read it. A page
whose size estimate fits one file split is planned as one partition, so
neither the keep-latest window nor the body aggregate shuffles; a larger
page, or one of unknown size, keeps both exchanges. The checkpoint's max ts
and the input row count are observed on the scan under ``latest``, and the
batch and item counts on the bodies, so the sink's own action computes them
and the run pays no job to count. The items are observed once more under the
body aggregate, which consumes them all: a first action that read only some
bodies shows as a mismatch, and the run then counts exactly.

The delta and the next state each join the page to the state, by one of two
plans; neither ever shuffles the state:

- a one-split page over a state of one file split: both are read as one
  partition, and both joins are shuffled hash joins of the two
  one-partition sides, so nothing is exchanged or broadcast. The delta
  hashes the state and streams the page; the next state is a full outer
  join of the live state rows with the page's rows
  (:func:`~entity_etl_spark.state.merge_state_join`) that hashes the page.
- any other page or state: the delta is a left join against the broadcast
  state, and the next state is the live state rows whose id the page does
  not hold (an anti-join against the broadcast page ids) plus the page's
  rows (:func:`~entity_etl_spark.state.upsert_state`).

A warm run over a one-split page and state whose sink runs one action over
the bodies executes 3 jobs: the ``latest`` cache fill, the sink's action (the
bodies and their counts), and the state write. The broadcast plan adds two:
the state broadcast and the page ids broadcast. The state is read with its
known schema and the checkpoint from a file, so loading them runs no job. A
sink that runs no SQL action over the bodies (none at all, or only RDD ones
such as ``foreachPartition``) fills no Observation: the run then counts the
bodies with one exact aggregate of its own. A one-split page's bodies are
planned as one partition, which :func:`~entity_etl_spark.sinks.http_sink`
collects and sends from the driver; it sends any other bodies from the
executors.

The projection's Column tree is built once per projection and input schema
and reused by every later tick and micro-batch of that schema (the
compilers look it up in :mod:`~entity_etl_spark.colcache`), so a warm tick
does not pay the few hundred py4j calls of building it again.

State/checkpoint are saved after the sink succeeds, preserving the
reference's at-least-once contract (app.js:55-58): a crash between send and
save re-sends; the sink upserts by id so re-sends are idempotent.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import batch as batch_mod
from . import checkpoint as ckpt_mod
from . import state as state_mod
from .delta import changed_rows, keep_latest_per_key, with_content_hash
from .log import log
from .mapping import apply_mapping, to_json_rows
from .model import EngineConfig, TableSpec


def _project_to_json(delta: DataFrame, projection) -> DataFrame:
    """Row → JSON-string projection (O6-O9), by either path:

    - a spec list (the declarative grammar, mapping.py) → typed columns →
      ``to_json``;
    - a Handlebars template STRING (the reference's own .hbs dialect,
      hbs.py) → the rendered text IS the JSON — byte-faithful migration
      mode: point the engine at an unmodified reference template.

    Both compilers reuse the Column tree they built for the same
    projection and schema on an earlier tick.
    """
    if isinstance(projection, str):
        from .hbs import compile_hbs

        return delta.select(compile_hbs(projection, delta).alias("json"))
    return to_json_rows(apply_mapping(delta, projection))


@dataclass
class RunResult:
    table: str
    input_rows: int
    emitted_rows: int
    batches: int
    checkpoint_ms: int


def run_incremental(
    spark: SparkSession,
    spec: TableSpec,
    source: DataFrame,
    projection: Sequence[Mapping],
    config: EngineConfig,
    sink: Callable[[DataFrame], None],
    *,
    partial_results: bool = False,
    now_epoch_ms: int | None = None,
) -> RunResult:
    """One incremental run for one table (reference handleEntityType,
    app.js:44-60).

    ``sink`` should run ONE DataFrame action over the ``bodies`` it is
    handed (a ``collect``, a write, :func:`~entity_etl_spark.sinks.http_sink`):
    that action computes the bodies and, through Observations, the run's
    counts. A sink that runs several actions recomputes the bodies from
    the cached ``latest`` for each one, with the same bytes. A sink that
    runs none, or only RDD actions, gets the same result and pays the
    jobs of one exact count aggregate, as does one whose first action
    reads only some bodies (a ``take``, a ``show``).

    A warm run over a page and a state of one file split each runs 3
    Spark jobs with such a sink (the cache fill, the sink's action, the
    state write) and shuffles nothing; a larger page or state adds the two
    broadcast jobs of the other join plan (see the module docstring).

    The config's execution profile is active only for the DURATION of
    the run (profile_ctx, restored on exit) — RunResult carries scalars
    and every plan inside is built before return, so a production-
    profile pipeline cannot leak capped defaults into later same-process
    parity calls (r7 review)."""
    from .profile import profile_ctx

    with profile_ctx(config.profile):
        return _run_incremental_impl(
            spark,
            spec,
            source,
            projection,
            config,
            sink,
            partial_results=partial_results,
            now_epoch_ms=now_epoch_ms,
        )


@contextmanager
def _cache_at_coalesced_width(spark: SparkSession):
    """Frames cached inside keep the width AQE coalesces their last
    shuffle to, as the same plan run uncached does.

    By default a cached plan keeps its last shuffle's full partition
    count. The cached ``latest`` ends in the keep-latest shuffle, and the
    batch ids are assigned per partition of it, so without this the body
    count would depend on the caching. The setting is read when
    ``cache()`` is called and restored on exit, so it never outlives the
    run."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _transition(
    page: DataFrame,
    state: DataFrame | None,
    spec: TableSpec,
    projection,
    config: EngineConfig,
    now_epoch_ms: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One state transition over a page of fetched rows: the cached
    ``latest`` (one row per key, with its content hash) and two lazy
    frames that read it, the batched items (changed-rows → projection →
    batch ids; :func:`~entity_etl_spark.batch.assemble_bodies` makes the
    request bodies of them) and the next state (purge expired keys,
    upsert every seen key with a fresh TTL). The caller unpersists
    ``latest`` once both have run. A page that already carries
    ``HASH_COL`` is not hashed again.

    A page whose size estimate fits one file split
    (:func:`~entity_etl_spark.state.split_count`, read from plan
    statistics) is planned as one partition, with or without a state:
    that satisfies the keep-latest window's and the body aggregate's
    clustering, so neither shuffles, and its bodies are planned as one
    partition. A page of unknown size or of several splits keeps its
    exchanges.

    When the state also fits one file split, it is read as one partition
    too, and both joins are shuffled hash joins of two one-partition
    sides, which need no exchange and no broadcast (the module docstring
    has both plans). The delta's join streams the page, so the delta keeps
    the page's row order and with it the batch ids. Any other page or
    state keeps the broadcast plan.

    The delta compares against the full stored state, expired keys
    included; only the next state drops them. The next state is planned
    here, so without ``now_epoch_ms`` its TTL clock is read now."""
    one_split = state_mod.split_count(page) == 1
    if one_split:
        page = page.coalesce(1)
    with _cache_at_coalesced_width(page.sparkSession):
        latest = keep_latest_per_key(page, spec.id_field, spec.ts_field).cache()
    # The cached latest is read through a coalesce as well: AQE's first plan
    # does not know a cache stage's partitioning, and would shuffle the join
    # sides and the body aggregate, and plan the bodies over an unknown
    # partitioning, which http_sink sends from the executors.
    page_side = latest.coalesce(1) if one_split else latest
    merge_kw = dict(ttl_hours=config.state_ttl_hours, now_epoch_ms=now_epoch_ms)
    if one_split and state is not None and state_mod.split_count(state) == 1:
        # Hashing the state leaves the page as the delta's streamed side,
        # whose row order the batch ids follow. The next state is an outer
        # join, not upsert_state's anti-join: the optimizer pushes a
        # left-anti join below the state's coalesce, which puts an exchange
        # back on the state.
        state = state.coalesce(1)
        state_side = state.hint("shuffle_hash")
        next_state = state_mod.merge_state_join(
            state, page_side.hint("shuffle_hash"), spec.id_field,
            ignore=(spec.ts_field,), **merge_kw
        )
    else:
        # the page's ids are broadcast to an anti-join: no state row moves
        state_side = state
        next_state = state_mod.upsert_state(state, latest, spec.id_field, **merge_kw)
    delta = changed_rows(page_side, state_side, spec.id_field, ignore=(spec.ts_field,))
    jsons = _project_to_json(delta, projection)
    batched = batch_mod.assign_batches_distributed(jsons, config.max_batch_size)
    return latest, batched, next_state


def _load_state(
    spark: SparkSession, config: EngineConfig, spec: TableSpec, page: DataFrame
) -> DataFrame | None:
    """The stored state of ``spec``'s table, or None before its first save.

    The state's id column has the page's id type (it was merged from
    earlier pages), so a known schema spares the inference job; a page
    without the id column (a schemaless empty fetch) leaves it inferred."""
    return state_mod.load_state(
        spark,
        config.state_dir,
        spec.name,
        schema=state_mod.state_schema(
            spec.id_field, page.schema[spec.id_field].dataType
        )
        if spec.id_field in page.columns
        else None,
    )


def _purge_expired(
    state: DataFrame | None,
    config: EngineConfig,
    spec: TableSpec,
    now_epoch_ms: int | None,
) -> None:
    """Save ``state`` without its expired keys: the transition of an empty
    page, which sends nothing but still purges (cache.js:60-67,101-104)."""
    if state is not None:
        now = state_mod.now_ms() if now_epoch_ms is None else now_epoch_ms
        state_mod.save_state(
            state.filter(F.col(state_mod.TTL_COL) >= F.lit(now)),
            config.state_dir,
            spec.name,
        )


def _body_counts():
    """The run's batch and emitted-item counts over the bodies frame."""
    return (
        F.count(F.lit(1)).alias("n_batches"),
        F.coalesce(F.sum("n_items"), F.lit(0)).alias("emitted"),
    )


def _run_incremental_impl(
    spark: SparkSession,
    spec: TableSpec,
    source: DataFrame,
    projection: Sequence[Mapping],
    config: EngineConfig,
    sink: Callable[[DataFrame], None],
    *,
    partial_results: bool = False,
    now_epoch_ms: int | None = None,
) -> RunResult:
    state = _load_state(spark, config, spec, source)
    checkpoint = ckpt_mod.load_checkpoint(
        config.state_dir, spec.name, config.initial_checkpoint_ms
    )

    if spec.ts_field not in source.columns or spec.id_field not in source.columns:
        # empty/schemaless fetch (a dynamic-schema source returns no rows, so
        # no columns): reference behavior for an empty page — expired state
        # entries still purge, checkpoint is kept
        _purge_expired(state, config, spec, now_epoch_ms)
        return RunResult(
            table=spec.name,
            input_rows=0,
            emitted_rows=0,
            batches=0,
            checkpoint_ms=checkpoint,
        )

    scan = ckpt_mod.incremental_scan(source, spec.ts_field, checkpoint)
    scan, scan_stats = ckpt_mod.observe_scan(scan, spec.ts_field)
    # hashed once; the sink's action fills the cached latest (and the scan
    # observation under it), the state write reads it again
    page = with_content_hash(scan, exclude=(spec.ts_field,))
    latest, batched, next_state = _transition(
        page, state, spec, projection, config, now_epoch_ms
    )
    # the sink's first action fills both Observations: the batch and item
    # counts over the bodies, and the items under the body aggregate, which
    # consumes every item even when the action reads only some bodies
    # (emitted rows = items: delta is one row per emitted item)
    item_stats, body_stats = Observation(), Observation()
    bodies = batch_mod.assemble_bodies(
        batched.observe(item_stats, F.count(F.lit(1)).alias("n"))
    )
    try:
        sink(bodies.observe(body_stats, *_body_counts()))
        items = ckpt_mod.delivered_row(item_stats, spark)
        row = ckpt_mod.delivered_row(body_stats, spark)
        if None in (items, row) or row.getLong(1) != items.getLong(0):
            # no SQL action over the bodies ran, or the first read only
            # some of them: count them exactly (this also fills the
            # cached latest and the scan observation under it)
            n_batches, emitted = bodies.agg(*_body_counts()).first()
        else:
            n_batches, emitted = row.getLong(0), row.getLong(1)
        mx, n_input = ckpt_mod.observed_max_ts_and_count(
            scan_stats, page, spec.ts_field
        )

        # state + checkpoint persist AFTER the sink (at-least-once,
        # app.js:55-58). The merge reads every seen key (latest), not the
        # delta, which reproduces TTL refresh-on-read for unchanged keys
        # (cache.js:79).
        state_mod.save_state(next_state, config.state_dir, spec.name)
    finally:
        latest.unpersist()
    new_ckpt = ckpt_mod.next_checkpoint(mx, checkpoint, partial_results)
    ckpt_mod.save_checkpoint(config.state_dir, spec.name, new_ckpt)

    result = RunResult(
        table=spec.name,
        input_rows=n_input,
        emitted_rows=emitted,
        batches=n_batches,
        checkpoint_ms=new_ckpt,
    )
    # reference per-type summary logging (app.js:56-58)
    log.info(
        "%s: input=%d emitted=%d batches=%d checkpoint=%d",
        spec.name, n_input, emitted, n_batches, new_ckpt,
    )
    return result


def run_streaming(
    spark: SparkSession,
    spec: TableSpec,
    stream: DataFrame,
    projection: Sequence[Mapping],
    config: EngineConfig,
    sink: Callable[[DataFrame], None],
    checkpoint_dir: str,
    *,
    timeout_sec: float = 120.0,
    now_epoch_ms: int | None = None,
    now_fn: Callable[[int], int] | None = None,
) -> None:
    """The whole reference program as ONE Structured Streaming job.

    ``stream`` is any streaming DataFrame (the `rest_entities` DataSource,
    Kafka, files…). Per micro-batch, foreachBatch runs the same transition
    as :func:`run_incremental` — keep-latest (O15) → changed-rows vs state
    (O5) → projection (O6-O9) → batch bodies (O10) → sink (O11) → state
    MERGE w/ TTL (O12/O13) — while the SOURCE's offset log replaces the
    checkpoint scalar (O3/O14): for the rest_entities source the offset
    literally is ``{"updatedFromMs": N}``.

    Two-layer dedup mirrors the reference exactly: offsets suppress
    re-reads (cache.js:99-119); the content-hash state suppresses re-sends
    of entities whose ``updatedOnMs`` advanced without a real change
    (cache.js:69-85 — the case offsets cannot catch).

    foreachBatch is at-least-once; the sink must upsert by id — the same
    contract the reference documents for its target (README.md:161-171).

    TTL clock: ``now_epoch_ms`` pins one deterministic now for every
    batch (nothing expires mid-run); ``now_fn(batch_id)`` advances it
    per micro-batch, so state written at batch b' is PURGED at the first
    merge whose now exceeds its ttl — the streaming-visible form of the
    reference's expiry-at-update (cache.js:60-67). A continuous
    deployment passes neither and gets the wall clock.

    An EMPTY micro-batch skips the sink but still purges expired state —
    the same contract as run_incremental's empty-fetch path (reference
    cache.js:60-67,101-104): the TTL clock ticks on every batch, so a
    quiet source cannot preserve suppression state past its ttl.

    ``sink`` may accept ``(bodies)`` or ``(bodies, batch_id)`` — the
    two-arg form receives the STREAM's batch id, which is the only
    correct label for per-batch outputs (a caller-side counter
    desynchronizes the moment an empty batch skips the sink).
    """
    import inspect

    from .streaming import probe_batch_rows, run_available_now

    try:
        sink_takes_batch_id = (
            len([
                p
                for p in inspect.signature(sink).parameters.values()
                if p.kind
                in (
                    inspect.Parameter.POSITIONAL_ONLY,
                    inspect.Parameter.POSITIONAL_OR_KEYWORD,
                )
            ])
            >= 2
        )
    except (TypeError, ValueError):  # builtins without signatures
        sink_takes_batch_id = False

    def process(batch_df: DataFrame, batch_id: int) -> None:
        now_b = now_fn(batch_id) if now_fn is not None else now_epoch_ms
        state = _load_state(spark, config, spec, batch_df)
        # zero-job empty probe (file-source checkpoint log); non-file
        # sources fall back to the take(1) job. A planned-rows>0 batch
        # emptied by caller-side transforms would run the main branch on
        # an empty frame — same resulting state (the upsert filters
        # expired rows itself), plus one empty sink append.
        if probe_batch_rows(batch_df, checkpoint_dir, batch_id) == 0:
            _purge_expired(state, config, spec, now_b)
            return
        latest, batched, next_state = _transition(
            batch_df, state, spec, projection, config, now_b
        )
        bodies = batch_mod.assemble_bodies(batched)
        try:
            if sink_takes_batch_id:
                sink(bodies, batch_id)
            else:
                sink(bodies)
            state_mod.save_state(next_state, config.state_dir, spec.name)
        finally:
            latest.unpersist()

    run_available_now(stream, checkpoint_dir, process, timeout_sec=timeout_sec)


def run_all(
    spark: SparkSession,
    catalog_specs: Sequence[TableSpec],
    sources: Mapping[str, DataFrame],
    projections: Mapping[str, Sequence[Mapping]],
    config: EngineConfig,
    sink: Callable[[DataFrame], None],
    requested: Sequence[str] | None = None,
) -> list[RunResult]:
    """Loop over tables (reference main(), app.js:20-27): tables without a
    projection spec are skipped with a warning, mirroring the missing-template
    guard (app.js:22-25); ``requested`` filters by name (app.js:62-69)."""
    req = set(requested or [])
    results = []
    for spec in catalog_specs:
        if req and spec.name not in req:
            continue
        if spec.name not in projections:
            log.warning("no projection spec for table %s; skipping", spec.name)
            continue
        results.append(
            run_incremental(
                spark, spec, sources[spec.name], projections[spec.name], config, sink
            )
        )
    return results
