"""Sink batch assembly (O10).

Reference semantics (app.js:95-107 + templates/targetBody.hbs): slice the
transformed rows into chunks of ``maxBatchSize`` and join each chunk's JSON
strings into one JSON array body per HTTP request.

Two strategies, trading determinism against scale:

- :func:`assign_batches` — deterministic global batch ids via ``row_number``
  over an explicit ordering. Exactly reproduces the reference's sequential
  ``slice`` (and is oracle-testable), but the global window funnels through a
  single partition — fine for the ≤10k-per-request sink payloads the
  reference targets, wrong for bulk data movement.
- :func:`assign_batches_distributed` — batch ids local to each partition,
  computed from ``monotonically_increasing_id`` arithmetic alone. No
  window, no exchange; ids are not contiguous, which the sink does not care
  about. This is the 100 TB path.

The arithmetic: ``monotonically_increasing_id`` is
``(partition_index << 33) + row_index``, where ``row_index`` counts the
rows of that partition from 0 in iteration order. So with ``mid`` that id
and ``N`` the batch size,

    batch_id = (mid >> 33) * 2^32 + floor((mid & (2^33 - 1)) / N)

puts rows ``k*N .. k*N + N - 1`` of each partition in batch ``k`` of that
partition's id space ``partition_index * 2^32``. It equals a ``row_number``
over ``mid`` within each partition, minus one, divided by ``N`` — the
window form this replaces — so the ids, and the bodies, are the same. Ids
of two partitions stay apart while a partition holds fewer than
``2^32 * N`` rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BATCH_COL = "__batch_id"

# The reference's request-body template, templates/targetBody.hbs,
# byte-verbatim (no trailing newline): the input to assemble_bodies_hbs
# that reproduces the reference's bodies.
TARGET_BODY_HBS = (
    "[\n{{#each entities}}{{{.}}}"
    "{{#unless @last}},{{/unless}}{{/each}}\n]"
)


_PROFILE_GUARD = object()  # sentinel: resolve guard from the active profile


def assign_batches(
    df: DataFrame,
    max_batch_size: int,
    order_by: Sequence[str],
    guard_rows: int | None | object = _PROFILE_GUARD,
) -> DataFrame:
    """Deterministic contiguous batch ids 0..ceil(n/N)-1 (reference
    app.js:95-101 ``entities.slice(i*N, (i+1)*N)``).

    Guarded: the global unpartitioned window funnels every row through
    one task, so above the guard threshold the job FAILS with a pointer
    at :func:`assign_batches_distributed`.

    **Behavior change (r7)**: the guard now applies under EVERY profile
    — the parity default raises above 5,000,000 rows (production:
    1,000,000), where earlier rounds succeeded slowly. Callers that
    genuinely want an unguarded global window pass ``guard_rows=None``
    (explicit opt-out); ``guard_rows=<int>`` overrides the profile's
    threshold for one call.

    The guard is an in-job ``raise_error`` on the row_number the window
    computes anyway — zero extra actions, the upstream lineage is never
    evaluated twice (an earlier ``limit(N+1).count()`` probe re-ran the
    caller's whole upstream plan once per call; r7 review). Caveat: it
    fires when the batch column is EVALUATED — every real consumer does
    (groupBy/agg on the batch id); an action that prunes the column
    (a bare count()) skips the window and with it the guard, so the
    guard is protection for the assembly path, not a standalone row
    limit."""
    if max_batch_size <= 0:
        raise ValueError("max_batch_size must be positive")
    from .profile import active_profile

    guard = (
        active_profile().assign_batches_max_rows
        if guard_rows is _PROFILE_GUARD
        else guard_rows
    )
    w = Window.orderBy(*[F.col(c) for c in order_by])
    rn = F.row_number().over(w)
    if guard is not None:
        src = (
            f"the {active_profile().name} profile's"
            if guard_rows is _PROFILE_GUARD
            else "the caller's explicit"
        )
        rn = F.when(
            rn > F.lit(guard),
            F.raise_error(
                F.lit(
                    f"assign_batches is a single-partition global window "
                    f"and the input exceeds {src} {guard}-row "
                    f"guard; use assign_batches_distributed (the scale "
                    f"path) or pass guard_rows=None to opt out"
                )
            ).cast("int"),
        ).otherwise(rn)
    return df.withColumn(
        BATCH_COL,
        F.floor((rn - F.lit(1)) / F.lit(max_batch_size)),
    )


def assign_batches_distributed(df: DataFrame, max_batch_size: int) -> DataFrame:
    """Parallel batch ids, unique but non-contiguous: one id space per
    map partition, ``max_batch_size`` consecutive rows of a partition per
    batch (see the module docstring for the arithmetic).

    A single projection: the ids are computed in the stage that produces
    the rows, so no rows move and no job runs for them, and there is no
    global single-task funnel like :func:`assign_batches`'s unpartitioned
    window. Batch sizes are exact."""
    if max_batch_size <= 0:
        raise ValueError("max_batch_size must be positive")
    # projected once and read twice below: the id is nondeterministic, so
    # the optimizer keeps this projection apart instead of inlining it
    mid = F.col("__mid")
    return (
        df.withColumn("__mid", F.monotonically_increasing_id())
        .withColumn(
            BATCH_COL,
            F.shiftleft(F.shiftright(mid, 33), 32)
            + F.floor(mid.bitwiseAND(F.lit((1 << 33) - 1)) / F.lit(max_batch_size)),
        )
        .drop("__mid")
    )


def assemble_bodies(
    batched: DataFrame, json_col: str = "json", batch_col: str = BATCH_COL
) -> DataFrame:
    """One JSON-array request body per batch (reference
    templates/targetBody.hbs: ``[{{#each entities}}{{{.}}},…{{/each}}]``).

    ``collect_list`` order is not deterministic across retries, so the list
    is sorted before joining. This diverges from the reference's fetch-order
    body bytes BY DESIGN: distributed retry determinism requires a canonical
    element order, and the reference's stated target (a per-id REST table
    API, README.md:161-171 — each element carries its own id) does not
    depend on element order within a request. A sink that DOES require
    fetch order cannot use a distributed engine's collect_list at all; it
    would order by an explicit column instead.
    """
    return (
        batched.groupBy(batch_col)
        .agg(F.array_sort(F.collect_list(F.col(json_col))).alias("__items"))
        .select(
            F.col(batch_col).alias("batch_id"),
            F.size("__items").alias("n_items"),
            F.concat(F.lit("["), F.array_join("__items", ","), F.lit("]")).alias(
                "body"
            ),
        )
    )


def assemble_bodies_hbs(
    batched: DataFrame,
    body_template: str,
    json_col: str = "json",
    batch_col: str = BATCH_COL,
    each_name: str | None = None,
) -> DataFrame:
    """One request body per batch rendered through a USER body template
    (the reference's templates/targetBody.hbs migrates unmodified; any
    single-``{{#each}}`` template works — hbs.compile_hbs_body).

    Same distribution shape as :func:`assemble_bodies` — one groupBy,
    per-batch collect_list sorted for retry determinism (see
    :func:`assemble_bodies` for why sorted order diverges from the
    reference's fetch-order bytes and why the reference's per-id REST
    sink tolerates it) — with the body expression compiled from the
    template instead of the fixed JSON-array form. Still zero UDFs:
    transform + array_join codegen.

    ``each_name``: when set, the template's ``{{#each NAME}}`` target
    must equal it (catches template typos — e.g. a template iterating
    ``{{#each entitys}}`` against a context that binds ``entities``).
    The reference template binds ``entities`` (app.js:103)."""
    from pyspark.sql import functions as F  # noqa: F811 (local clarity)

    from .hbs import compile_hbs_body

    return (
        batched.groupBy(batch_col)
        .agg(F.array_sort(F.collect_list(F.col(json_col))).alias("__items"))
        .select(
            F.col(batch_col).alias("batch_id"),
            F.size("__items").alias("n_items"),
            compile_hbs_body(
                body_template, F.col("__items"), each_name=each_name
            ).alias("body"),
        )
    )
