"""Changed-row detection — the reference's core operator (O5).

Reference semantics (cache.js:69-85 ``isNewOrUpdatedEntity``): an incoming
entity is emitted iff

1. its id is non-null (rows with null/missing id are dropped,
   cache.js:70-74), and
2. (a) the id is not in state, OR (b) deep equality against the stored copy
   fails, where the comparison IGNORES ``updatedOnMs`` (cache.js:16-17,53 —
   ``omit(entity, IGNORED_PROPS)``).

Spark-first design: the deep equality becomes a canonical **content hash** —
``sha2(to_json(struct(<sorted columns minus ignored>)), 256)`` — compared via
a single left join against the state table. ``to_json`` omits NULL fields,
which canonicalizes NULL and absent identically (the reference's lodash
``isEqual`` on ragged JSON objects behaves the same way for omitted keys;
SURVEY.md §7.5.2).

Scale notes (100 TB): the join shuffles both sides on the id unless the state
table is bucketed by id (then only incoming shuffles) or small enough to
broadcast. The hash is computed map-side before the shuffle, so only
(id, hash) plus carried columns move. AQE handles skewed ids.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HASH_COL = "__content_hash"


def content_hash(
    columns: Sequence[str], exclude: Sequence[str] = ()
) -> Column:
    """Canonical content hash over ``columns`` minus ``exclude``.

    Columns are sorted by name so the hash is key-order-insensitive (lodash
    isEqual parity, SURVEY.md §7.5.2); values are serialized by ``to_json``
    (NULLs omitted). The column *set and types* must be stable across runs
    for state comparison — the engine persists hashes, not re-hashes.
    """
    excluded = set(exclude)
    kept = sorted(c for c in columns if c not in excluded)
    if not kept:
        raise ValueError("content_hash: no columns left after exclusions")
    return F.sha2(F.to_json(F.struct(*[F.col(c) for c in kept])), 256)


def with_content_hash(
    df: DataFrame, exclude: Sequence[str] = (), hash_col: str = HASH_COL
) -> DataFrame:
    return df.withColumn(hash_col, content_hash(df.columns, exclude))


def ensure_content_hash(df: DataFrame, exclude: Sequence[str] = ()) -> DataFrame:
    """``df`` with :data:`HASH_COL`, reusing a hash already on the frame.

    The pipeline hashes each page once (pipeline.run_incremental) and the
    keep-latest, changed-rows and state-merge steps all read that column;
    a present ``HASH_COL`` is taken to be the hash over the same
    ``exclude`` set."""
    if HASH_COL in df.columns:
        return df
    return with_content_hash(df, exclude=exclude)


def keep_latest_per_key(
    df: DataFrame,
    id_field: str,
    ts_field: str | None,
    exclude: Sequence[str] | None = None,
) -> DataFrame:
    """Latest row per key (O15): the distributed equivalent of the
    reference's Map.set last-write-wins within a page (cache.js:55-57).

    Rows with a null id are dropped (cache.js:70-74). Order: the greater
    ``ts_field`` (skipped when None or absent), then the greater content
    hash over the columns minus ``exclude`` (default: ``ts_field``),
    computed here unless the frame already carries :data:`HASH_COL`; the
    output keeps it. So every plan that evaluates this window picks the
    same row — the emitted body and the hash the state stores come from
    one version. Rows that tie on the hash too have the same content."""
    if exclude is None:
        exclude = () if ts_field is None else (ts_field,)
    hashed = ensure_content_hash(df, exclude=exclude)
    order = [F.desc(ts_field)] if ts_field in df.columns else []
    w = Window.partitionBy(id_field).orderBy(*order, F.desc(HASH_COL))
    return (
        hashed.filter(F.col(id_field).isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def changed_rows(
    incoming: DataFrame,
    state: DataFrame | None,
    id_field: str,
    ignore: Sequence[str] = ("updatedOnMs",),
) -> DataFrame:
    """Rows of ``incoming`` that are new or changed relative to ``state``.

    ``state`` must carry ``(id_field, HASH_COL)`` (see state.py); pass None
    for a first run (everything with a non-null id is new — reference
    cache.js:75-77). Output column set == incoming's.

    The new-id half of the predicate is a left-anti join and the changed half
    a hash inequality, fused into one left join + filter so state is scanned
    once. A ``HASH_COL`` already on ``incoming`` is reused (see
    :func:`ensure_content_hash`) and dropped from the output.
    """
    incoming = incoming.filter(F.col(id_field).isNotNull())
    if state is None:
        return incoming.drop(HASH_COL)
    hashed = ensure_content_hash(incoming, exclude=ignore)
    st = state.select(
        F.col(id_field).alias("__state_id"), F.col(HASH_COL).alias("__state_hash")
    )
    joined = hashed.join(st, hashed[id_field] == st["__state_id"], "left")
    return (
        joined.filter(
            F.col("__state_id").isNull() | (F.col(HASH_COL) != F.col("__state_hash"))
        )
        .drop("__state_id", "__state_hash", HASH_COL)
    )
