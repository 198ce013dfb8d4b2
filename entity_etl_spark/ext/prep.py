"""End-to-end training-data preparation: the extension operators composed
into one declarative pipeline (the document-side analogue of
``pipeline.run_incremental``'s entity flow).

Stages — each one an already-oracle-verified operator, chained lazily so
Catalyst fuses them (clean + featurize + filter are ONE map stage; the
dedup is the only shuffle; the split is map-only again):

1. normalize text (:func:`ext.text.clean_text`)
2. quality gate (:func:`ext.text.quality_features` thresholds)
3. exact dedup, keep min id (fingerprint winners semi-join)
4. leakage-safe split hashed on the group column
   (:func:`ext.sampling.grouped_split`)

Output: the surviving corpus with ``n_tokens`` and ``split`` attached —
ready for :func:`ext.packing.pack_sequences` / shard writing.

At 100 TB this chain materializes exactly ONE intermediate — the
featurized corpus, checkpointed between the feature projection and the
quality gate (r11): a pushed-down gate re-evaluates the whole
clean+count expression tree inside FilterExec, which applies no
subexpression elimination (measured 8x the one-pass cost), and the
gated corpus has two more consumers (fingerprint branch, survivor
semi-join) that each re-ran the clean+feature scan. One executor-local
write plus cache reads replaces three scans carrying ~8x-duplicated
expression work; the only exchange still carries (fp, id) pairs and
the survivors still semi-join back broadcast. The near-dup pass
(MinHash) and the LM perplexity gate slot between stages 3 and 4 when
their cost is warranted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import fingerprint
from .sampling import grouped_split
from .text import clean_text, quality_features


def prepare_training_data(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    min_tokens: int = 20,
    min_quality: float = 0.15,
    classifier_threshold: float | None = None,
    val_fraction: float = 0.1,
    test_fraction: float = 0.1,
    per_source_cap: int | None = None,
    shuffle_seed: str | None = None,
) -> DataFrame:
    """Clean → gate → dedup → [cap] → split → [shuffle]. Returns the kept
    rows with the cleaned text, quality features, and a ``split`` column.

    ``classifier_threshold`` adds the third public quality gate (the
    DCLM/fastText-pattern linear classifier, ext/classifier.py) on top of
    the heuristic features and the perplexity-style score: docs below
    P(high quality) = threshold drop. Still one map-only predicate in the
    same scan — no extra pass.

    ``per_source_cap`` bounds any one source/domain to its top-K docs by
    quality_score (the anti-domination mixture step) — a rank<=K window
    Spark truncates map-side via WindowGroupLimit.

    ``shuffle_seed`` appends a ``shuffle_rank`` column — the reproducible
    global training permutation (operators.distributed_shuffle_rank; no
    single-reducer global sort)."""
    cleaned = docs.withColumn(text_col, clean_text(text_col))
    # checkpoint BETWEEN the feature projection and the gate: pushing
    # the gate's predicate into the feature expressions re-evaluates
    # the whole clean+count tree inside FilterExec, which (unlike
    # ProjectExec) applies no subexpression elimination — measured 8x
    # the one-pass cost at sf1 (16.4 s vs 2.0 s for 50k docs). The
    # barrier computes features exactly once; it also serves the two
    # downstream consumers (fingerprint branch + survivor semi-join)
    # that previously re-ran the clean+feature scan each.
    gated = (
        quality_features(cleaned, text_col)
        .localCheckpoint(eager=True)
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("quality_score") >= min_quality)
        )
    )
    if classifier_threshold is not None:
        from .classifier import quality_score

        gated = gated.filter(
            quality_score(F.col(text_col)) >= classifier_threshold
        )
    slim = gated.select(
        F.col(id_col).alias("__id"), fingerprint(text_col).alias("__fp")
    )
    winners = slim.groupBy("__fp").agg(F.min("__id").alias("__id"))
    deduped = gated.join(
        winners.select("__id"), gated[id_col] == winners["__id"], "left_semi"
    )
    if per_source_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(group_col).orderBy(
            F.desc("quality_score"), id_col
        )
        deduped = (
            deduped.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= per_source_cap)
            .drop("__rk")
        )
    out = grouped_split(
        deduped,
        group_col,
        val_fraction=val_fraction,
        test_fraction=test_fraction,
    )
    if shuffle_seed is not None:
        from ..operators import distributed_shuffle_rank

        out = distributed_shuffle_rank(out, id_col, seed=shuffle_seed)
    return out


def run_streaming_neardup_prep(
    spark,
    stream: DataFrame,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    min_tokens: int = 20,
    min_quality: float = 0.15,
    verify_threshold: float = 0.5,
    timeout_sec: float = 120.0,
) -> None:
    """Continuous training-data ingest with NEAR-dup suppression: the prep
    pipeline as a Structured Streaming job over any streaming docs source
    (files landing in a bucket, Kafka, the rest_entities DataSource),
    whose persistent state carries document CONTENT structure, so a
    paraphrased/near-duplicate re-send of any earlier document is
    dropped, not just byte-identical ones.

    Per micro-batch: clean → quality gate → incremental exact near-dup
    dedup (:func:`...dedup.exact_neardup_dedup_incremental`) against the
    persistent shingle inverted index → leakage-safe split → append.
    Source offsets (the checkpoint dir) make re-reads impossible; the
    content state makes re-sends harmless — the same two-layer idempotence
    as pipeline.run_streaming. The drop decision uses the exact pair set
    at any scale, and the corpus contributes only a columnar scan of the
    state per batch (document bodies are never re-read).

    State is the operator's two tables, ``doc_shingles`` ``(doc, sh)`` and
    ``doc_sizes`` ``(doc, n)`` (:func:`...dedup.load_neardup_state`). Each
    micro-batch loads every committed batch but its own, with known
    schemas (no Spark job), and commits exactly its new survivors' rows
    as one dir per table keyed ``<query id>-<batch id>`` (the query id
    from ``<checkpoint>/metadata``, so a new checkpoint never overwrites
    an old one's dirs). A replayed batch therefore replaces its own dirs
    and never sees its first attempt, and no exchange moves the
    accumulated state (it is still scanned map-side each batch).

    A landed one-file batch is planned as one partition, and over a state
    that fits one file split the operator plans it with no shuffle at
    all: a warm micro-batch runs 8 Spark jobs (the gate pin, the shingle
    pin, two broadcasts, the collect of the dropped ids, the output write
    and the two state writes) and the first, over an empty state, 6. A
    larger batch or state takes the operator's several-split plan, which
    pins and broadcasts the dropped ids instead of collecting them. A
    ``state_dir`` written in an older layout raises ``ValueError`` before
    the stream starts; convert it once with
    :func:`...dedup.migrate_neardup_state`."""
    from ..streaming import (
        checkpoint_query_id,
        probe_batch_rows,
        run_available_now,
        spread_batch,
    )
    from .dedup import (
        append_neardup_state,
        check_neardup_state,
        exact_neardup_dedup_incremental,
        load_neardup_state,
    )

    check_neardup_state(state_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = probe_batch_rows(batch_df, checkpoint_dir, batch_id)
        if rows == 0:
            return
        # one landed file = one input partition; fan out before the
        # per-doc heavy work (clean/quality/shingle fold) — width scaled
        # to the batch's size
        batch_df = spread_batch(spark, batch_df, rows)
        cleaned = batch_df.withColumn(text_col, clean_text(text_col))
        # pinned: consumed by the shingle fold, the kept anti-join and
        # the split + write — one clean+quality scan, not three
        gated = (
            quality_features(cleaned, text_col)
            # barrier BELOW the gate: FilterExec applies no
            # subexpression elimination, so a pushed-down gate
            # re-evaluates the whole feature tree ~8x (see
            # prepare_training_data); the ckpt was already here for
            # the multi-consumer pin and now also pays the features
            # exactly once
            .localCheckpoint(eager=True)
            .filter(
                (F.col("n_tokens") >= min_tokens)
                & (F.col("quality_score") >= min_quality)
            )
        )
        key = f"{checkpoint_query_id(checkpoint_dir)}-{batch_id}"
        shingles, sizes = load_neardup_state(
            spark, state_dir, gated.schema[id_col].dataType, exclude=key
        )
        kept, shingles_delta, sizes_delta = exact_neardup_dedup_incremental(
            gated,
            shingles,
            sizes,
            id_col=id_col,
            text_col=text_col,
            threshold=verify_threshold,
        )
        out = grouped_split(kept, group_col)
        out.write.mode("append").partitionBy("split").parquet(out_dir)
        # exactly the new survivors' rows: O(batch) state growth
        append_neardup_state(state_dir, shingles_delta, sizes_delta, key)

    run_available_now(stream, checkpoint_dir, process, timeout_sec=timeout_sec)
