"""Deduplication operators (E1/E2, SURVEY §2.3).

Generalizes the reference's two dedup behaviors — exact key dedup
(cache.js:55-57, Map.set) and content-change suppression (cache.js:69-85) —
to corpus-scale document dedup:

- :func:`exact_dedup` / :func:`fingerprint` — exact content dedup via hash
  group (E1). One shuffle on the fingerprint; at 100 TB hash first so only
  (fingerprint, id) columns shuffle, never the document bodies.
- :func:`shingles` + :func:`jaccard_pairs` — exact n-gram Jaccard near-dup
  pairs via shingle equi-join. Quadratic in the worst case; the LSH variants
  below are the scale path, this is the ground-truth oracle.
- :func:`minhash_signatures` + :func:`lsh_candidate_pairs` — MinHash + banded
  LSH: per-doc signature (map-side only), band buckets, candidate pairs from
  bucket self-join, optional exact-Jaccard verification of candidates.
  Everything stays in built-in expressions (xxhash64); no Python UDF.
- :func:`simhash` — 64-bit SimHash per document (token-hash bit-majority),
  near-dups = signatures within Hamming distance k (joined on rotated
  prefixes at scale; exact XOR-popcount filter here).

Design note vs spark.ml's MinHashLSH: the ml implementation requires a
sparse-vector pipeline (CountVectorizer) whose vocabulary build is itself a
giant shuffle; hashing shingles directly with xxhash64 skips the vocabulary
entirely and keeps the signature computation embarrassingly parallel.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import colcache
from .. import state as state_mod


# --------------------------------------------------------------------- E1
def fingerprint(text_col: str | Column, algo: str = "md5") -> Column:
    """Content fingerprint column (E1). md5 is 128-bit — collision-safe at
    any corpus size that fits on disk."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    if algo == "md5":
        return F.md5(col)
    if algo == "sha256":
        return F.sha2(col, 256)
    if algo == "xxhash64":
        return F.xxhash64(col).cast("string")
    raise ValueError(f"unknown fingerprint algo: {algo}")


def exact_dedup(
    df: DataFrame, content_cols: Sequence[str], id_col: str
) -> DataFrame:
    """Keep one deterministic representative (min id) per distinct content.

    Hash-groupBy on a fingerprint of the content columns. The aggregation
    exchange carries ONLY (fingerprint, id) — the fingerprint is computed
    map-side and the document bodies never ride the fp-keyed shuffle. Winner
    ids (min per fingerprint) are then semi-joined back onto the original
    rows; at moderate dup rates the winner set is small enough for AQE to
    broadcast that join, otherwise it is an id-keyed join — either way the
    wide rows move at most once, never grouped by fingerprint."""
    fp = F.md5(F.concat_ws("\x00", *[F.col(c) for c in content_cols]))
    slim = df.select(F.col(id_col).alias("__id"), fp.alias("__fp"))
    winners = (
        slim.groupBy("__fp").agg(F.min("__id").alias("__id")).select("__id")
    )
    return df.join(winners, df[id_col] == winners["__id"], "left_semi")


# ------------------------------------------------------------------ shingles
def tokens(text_col: str | Column) -> Column:
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(col)), r"\s+")


def nonempty_tokens(text_col: str | Column) -> Column:
    """Whitespace tokens with empty strings dropped — the canonical
    tokenization every token-keyed operator AND its DuckDB oracle
    (``regexp_split_to_array(trim(lower(text)), '\\s+')`` + ``tok <> ''``)
    must share; keep the two in lockstep."""
    return F.filter(tokens(text_col), lambda t: t != "")


def shingles(text_col: str | Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a text column, as array<string>, in
    first-occurrence order; texts with fewer than ``k`` tokens get [].

    Higher-order functions run interpreted, and a lambda re-evaluates
    every non-lambda expression it captures once per element. So no
    lambda here captures the tokenization: the token array is bound to
    the outer lambda's variable (a one-element ``transform``), split runs
    once per row, and the shingles come from zipping the ``k`` shifted
    views of that variable, which is linear in the document's length.

    The tree of a named column is built once per (column, ``k``)
    (:mod:`~entity_etl_spark.colcache`)."""
    if isinstance(text_col, str):
        return colcache.cached(
            ("shingles", text_col, k), lambda: _shingles(F.col(text_col), k)
        )
    return _shingles(text_col, k)


def _shingles(text_col: Column, k: int) -> Column:
    def from_tokens(toks: Column) -> Column:
        n = F.size(toks)
        # view j holds the tokens at j, j+1, ..., j+n-k; the length is
        # clamped because slice() rejects a negative one (short texts take
        # the otherwise() branch)
        views = [
            F.slice(toks, j + 1, F.greatest(n - (k - 1), F.lit(1)))
            for j in range(k)
        ]
        return F.when(
            n >= k,
            F.array_distinct(
                F.transform(
                    F.arrays_zip(*views),
                    lambda s: F.concat_ws(" ", *(s[str(j)] for j in range(k))),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.transform(F.array(tokens(text_col)), from_tokens)[0]


def _spread_input(df: DataFrame) -> DataFrame:
    """Spread the CPU-heavy map side across all cores: a small parquet
    file arrives as ONE scan partition (maxPartitionBytes) and would
    serialize per-doc work (shingling, hashing) through a single task.
    File count proxies partition count plan-side (no RDD conversion); an
    input already split across >= parallelism files is left alone.

    An input that exposes NO files (a checkpointed / staged micro-batch,
    an in-memory frame) is trusted as-is: its partitioning was chosen by
    the materializing caller (e.g. streaming.spread_batch's input-scaled
    width), and a blind full-parallelism re-repartition would both pay an
    extra exchange and undo that sizing (the streaming batch path once
    repartitioned the same tiny batch twice). So the caller of a fileless
    frame chooses its width: a single-partition in-memory frame shingles
    in one task. :func:`exact_neardup_dedup_incremental` relies on this,
    since a one-partition batch is what selects its one-partition plan."""
    files = df.inputFiles() or ()
    if not files:
        return df
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if len(files) < parallelism:
        return df.repartition(parallelism)
    return df


def _shingle_rows_with_size(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """``(doc, sh, n, __pos)`` rows: one row per distinct k-shingle per
    doc, each carrying the doc's distinct-shingle-set size ``n`` computed
    map-side from the UN-exploded array (``F.size``) — no per-doc
    aggregation ever re-counts it downstream. ``__pos`` is the shingle's
    position in that array, so the ``__pos == 0`` rows are one
    ``(doc, n)`` row per doc, selected map-side instead of by a per-doc
    dedup shuffle.

    Shape: ``shingles()`` is evaluated once per row, in its own Project
    below the Generate, and both the element and the size ride ONE
    generator expression over that column,
    ``arrays_zip(__shs, array_repeat(size(__shs), size(__shs)))``. The
    generator's input must stay an expression: over a bare column the
    optimizer infers ``size(__shs) > 0 AND isnotnull(__shs)`` and pushes
    that filter below the Project, inlining ``shingles()`` twice more per
    row, as does the form with the whole ``shingles()`` expression inside
    the generator. On 800 docs of 60 tokens (k=3, 4 cores) this shape
    takes ~115 ms of executor CPU against ~270 ms for the inline one, and
    sf0.1 ``streaming_neardup_prep`` ran 10.7 s against 12.3 s. No
    expensive expression sits beside the generator in a select (the
    kmeans_lloyd ~17x per-element trap, pinned in tests/test_plans.py)."""
    shs = F.col("__shs")
    z = F.arrays_zip(shs, F.array_repeat(F.size(shs), F.size(shs)))
    return (
        df.select(
            F.col(id_col).alias("doc"), shingles(text_col, k).alias("__shs")
        )
        .select("doc", F.posexplode(z).alias("__pos", "__z"))
        .select(
            "doc",
            F.col("__z")["__shs"].alias("sh"),
            F.col("__z")["1"].alias("n"),
            "__pos",
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    *,
    max_shingle_df: int | None = None,
    observation=None,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id_a < id_b, jaccard >= threshold).

    Shape: explode distinct shingles → self equi-join on shingle (the only
    shuffle, keyed by shingle) → per-pair intersection count → Jaccard from
    per-doc distinct-shingle counts. Ground truth for the LSH variants; at
    100 TB run :func:`lsh_candidate_pairs` first and feed candidates here.

    ``max_shingle_df`` caps the doc-frequency of a shingle before the
    self-join (ext.graph.within_group_pairs → cap_hot_groups): a
    stop-shingle shared by B docs contributes C(B, 2) rows to one task's
    join. Capped runs UNDERESTIMATE Jaccard (dropped shingles still count
    toward sizes but not intersections) — a stated candidate-recall
    trade, reported via ``observation``; default None is exact.

    An input of fewer files than cores is spread over every core before
    shingling; a fileless input (in memory, checkpointed) keeps its own
    partitioning (:func:`_spread_input`), so its caller chooses the
    width: a single-partition in-memory frame shingles in one task.
    """
    from .graph import within_group_pairs

    df = _spread_input(df)
    sh = df.select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(text_col, k)).alias("sh"),
    )
    # per-doc distinct-shingle-set size = size() of the UN-exploded
    # array: a map-only projection (no explode, no aggregation, no
    # shuffle — shingles() emits the distinct set). The first r11 form
    # carried n on every (doc, sh) row instead and folded min(n_a)/
    # min(n_b) into the pair aggregation; that widened the ONE truly
    # giant frame in the query — the sum C(df_s, 2) join fan-out — by
    # two agg buffers and measured 1.4x SLOWER at sf1
    # (neardup_keep_best 44.6 -> 59.2 s paired). Sizes re-attach AFTER
    # the aggregation, on the small verified-pair set.
    sizes = df.select(
        F.col(id_col).alias("doc"),
        F.size(shingles(text_col, k)).alias("n_sh"),
    )
    inter = (
        within_group_pairs(
            sh,
            "sh",
            "doc",
            item_a="doc_a",
            item_b="doc_b",
            max_group_size=max_shingle_df,
            observation=observation,
            dropped_metric="jac_rows_in_dropped_shingles",
            max_metric="jac_max_shingle_df",
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    *,
    max_shingle_df: int | None = None,
    observation=None,
) -> DataFrame:
    """Exact n-gram containment pairs: max(|A∩B|/|A|, |A∩B|/|B|) >= threshold.

    Containment is the asymmetric complement to Jaccard: a short document
    quoted verbatim inside a long one has near-1.0 containment but low
    Jaccard (the union is dominated by the long doc), so Jaccard-threshold
    dedup misses subsumption — the classic boilerplate/quotation case in
    pre-training corpora (CCNet/Gopher use containment for exactly this).

    Same physical shape as :func:`jaccard_pairs` (one shingle-keyed
    shuffle, per-pair intersection count, per-doc sizes from a map-only
    ``size()`` projection joined onto the aggregated pair set); only
    the final ratio differs, so the 100 TB story is identical — run
    :func:`lsh_candidate_pairs` first and verify candidates here.

    Emits ``doc_a < doc_b`` with both directed containments and the max.
    """
    from .graph import within_group_pairs

    df = _spread_input(df)
    # narrow (doc, sh) rows through the pair join; sizes re-attach
    # post-aggregation (see jaccard_pairs — carrying them through the
    # C(df_s, 2) fan-out measured 1.4x slower at sf1)
    sh = df.select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(text_col, k)).alias("sh"),
    )
    sizes = df.select(
        F.col(id_col).alias("doc"),
        F.size(shingles(text_col, k)).alias("n_sh"),
    )
    inter = (
        within_group_pairs(
            sh,
            "sh",
            "doc",
            item_a="doc_a",
            item_b="doc_b",
            max_group_size=max_shingle_df,
            observation=observation,
            dropped_metric="cont_rows_in_dropped_shingles",
            max_metric="cont_max_shingle_df",
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    inter = inter.join(sa, "doc_a").join(sb, "doc_b")
    raw_max = F.col("n_inter") / F.least("n_a", "n_b")
    return (
        inter.filter(raw_max >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_inter") / F.col("n_a"), 6).alias(
                "containment_a"
            ),
            F.round(F.col("n_inter") / F.col("n_b"), 6).alias(
                "containment_b"
            ),
            F.round(raw_max, 6).alias("max_containment"),
        )
    )


# ------------------------------------------------------------------- MinHash
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne)


def portable_minhash_params(num_hashes: int) -> list[tuple[int, int, int]]:
    """Deterministic (a, b, c) coefficient triples for the PORTABLE
    cross-engine MinHash family (the simhash md5-prefix precedent):

        lo, hi = the two 32-bit ints from md5(shingle) hex prefixes
        h_i    = ((a_i*lo) % p + (b_i*hi) % p + c_i) % p,  p = 2^31-1

    Every intermediate stays under 2^63 (a_i < p ~ 2^31, lo < 2^32, so
    a_i*lo < 2^63; the per-term mod keeps the sum < 3*2^31), so Spark's
    ANSI bigint arithmetic and DuckDB BIGINT evaluate it identically —
    the whole signature restates relationally at any SF. Coefficients
    come from a pinned-seed PRNG so the Spark expression and the oracle
    SQL embed the same literals."""
    import random

    r = random.Random(20260815)
    return [
        (
            r.randrange(1, MINHASH_PRIME),
            r.randrange(1, MINHASH_PRIME),
            r.randrange(0, MINHASH_PRIME),
        )
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    k: int = 3,
    *,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document MinHash signature: array<long> of length num_hashes.

    Each shingle string is hashed ONCE to a long (xxhash64); the
    num_hashes family derives from that long (xxhash64(h0, i) — long
    input, far cheaper than re-hashing strings). signature[i] = grouped
    min_i over the doc's shingle hashes.

    Physical shape: explode + groupBy(doc) with num_hashes min() columns.
    Partial (map-side) aggregation collapses shingles to one row per doc
    per partition before the shuffle, so the exchange carries ~|docs| rows,
    not |shingles|. An equivalent zero-shuffle higher-order fold
    (aggregate + zip_with) was benchmarked and loses: its fused expression
    costs seconds of codegen compilation and allocates a num_hashes array
    per shingle, while 32 flat min() aggregates stay in vectorized
    whole-stage codegen.

    Docs with fewer than k tokens have no shingles and are dropped (their
    Jaccard similarity is undefined).

    ``hash_fn="md5"`` switches to the portable cross-engine family
    (:func:`portable_minhash_params`): the shingle hashes md5 ONCE into
    two 32-bit halves and the num_hashes family is 2-universal integer
    arithmetic over them — an ANSI oracle can restate the identical
    signature at any SF. xxhash64 (default) stays the cheaper JVM-side
    choice when no cross-engine replay is needed."""
    sh = df.select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col, k)).alias("__s")
    )
    if hash_fn == "xxhash64":
        sh = sh.withColumn("__h0", F.xxhash64("__s"))
        fams = [F.xxhash64("__h0", F.lit(i)) for i in range(num_hashes)]
    elif hash_fn == "md5":
        sh = sh.withColumn("__m", F.md5("__s")).select(
            "doc",
            F.conv(F.substring("__m", 1, 8), 16, 10).cast("long").alias("__lo"),
            F.conv(F.substring("__m", 9, 8), 16, 10).cast("long").alias("__hi"),
        )
        p = F.lit(MINHASH_PRIME)
        fams = [
            (
                (F.lit(a) * F.col("__lo")) % p
                + (F.lit(b) * F.col("__hi")) % p
                + F.lit(c)
            )
            % p
            for a, b, c in portable_minhash_params(num_hashes)
        ]
    else:
        raise ValueError(f"unknown minhash hash_fn: {hash_fn}")
    agg = sh.groupBy("doc").agg(
        *[F.min(fam).alias(f"__h{i}") for i, fam in enumerate(fams)]
    )
    return agg.select(
        "doc",
        F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    *,
    max_bucket_size: int | None = None,
    observation=None,
    right_ids: DataFrame | None = None,
    portable_keys: bool = False,
) -> DataFrame:
    """Banded-LSH candidate pairs from MinHash signatures (doc_a < doc_b).

    Docs agreeing on all rows of any band collide into a bucket; pairs are
    the bucket self-join. The band index is mixed into a single 64-bit
    bucket key (cross-band hash collisions are vanishingly rare and get
    removed by exact verification anyway), so the join key is one long.
    ``portable_keys=True`` swaps the xxhash64 bucket key for the exact
    ``band_min..min`` string — collision-free and byte-identical in any
    ANSI engine, so an oracle restates the candidate set verbatim (wider
    join key, only worth it for cross-engine replay).

    ``max_bucket_size`` caps the self-join fan-out: a degenerate bucket
    (B near-identical docs, or a stop-shingle signature collision) emits
    O(B²) pairs — one hot bucket can dominate an entire stage at corpus
    scale. Buckets above the cap are dropped BEFORE the join (their pairs
    are overwhelmingly intra-group near-dups that other, smaller buckets
    of the same docs still surface; the canonical mitigation in MinHash
    dedup deployments). The per-bucket count is a window over the
    bucket-partitioned exchange the join needs anyway — no extra shuffle.
    Pass an ``Observation`` as ``observation`` to account for what the
    cap dropped: after the first action, ``obs.get`` carries
    ``lsh_rows_in_dropped_buckets`` and ``lsh_max_bucket_size``.

    ``right_ids`` (a one-column DataFrame of doc ids) restricts the
    GREATER side of every emitted pair to those docs: incremental dedup
    only ever drops batch docs, so pairing the full bucket membership
    against batch members only keeps the join fan-out at
    O(bucket x batch-members) instead of O(bucket^2) — at increment N
    the buckets contain the whole accumulated corpus, and the unrestricted
    self-join would regenerate (and then discard) every settled
    corpus-corpus pair each batch. Bucket-size caps/accounting apply
    BEFORE the restriction, so capped behavior is identical either way.

    ``signatures`` MUST be materialized (cached / checkpointed / read from
    storage): each of the ``bands`` bucket expressions references the sig
    column, and Catalyst's projection collapse would otherwise inline — and
    recompute — the full signature fold once per band, and again for each
    side of the self-join (:func:`minhash_near_dups` handles this). Tune
    bands×rows for the target threshold t ≈ (1/bands)^(1/rows)."""
    from .caps import cap_hot_groups

    if portable_keys:
        band_keys = [
            F.concat_ws(
                "_",
                F.lit(str(i)),
                *[
                    F.element_at("sig", i * rows_per_band + j + 1)
                    for j in range(rows_per_band)
                ],
            )
            for i in range(bands)
        ]
    else:
        band_keys = [
            F.xxhash64(
                F.lit(i), F.slice("sig", i * rows_per_band + 1, rows_per_band)
            )
            for i in range(bands)
        ]
    b = signatures.select(
        "doc",
        F.explode(F.array(*band_keys)).alias("bucket"),
    )
    b = cap_hot_groups(
        b,
        ["bucket"],
        max_bucket_size,
        observation=observation,
        dropped_metric="lsh_rows_in_dropped_buckets",
        max_metric="lsh_max_bucket_size",
    )
    r = b
    if right_ids is not None:
        ids = right_ids.select(
            F.col(right_ids.columns[0]).alias("doc")
        )
        r = b.join(ids, "doc", "left_semi")
    left = b.alias("l")
    right = r.alias("r")
    return (
        left.join(
            right,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .distinct()
    )


def materialize_signatures(
    sig: DataFrame, path: str | None = None
) -> DataFrame:
    """Materialize a signature table for its multi-consumer downstream
    (band explode × both self-join sides would otherwise recompute the
    signature fold once each).

    ``path=None`` → ``localCheckpoint(eager=True)``: executor-memory/disk
    blocks, zero filesystem setup — right for single-process and
    test-scale runs, but blocks are LOST on executor death and pin
    executor storage for the job's lifetime.

    ``path`` given → write parquet once, return a scan of the file: the
    deployment form. Survives executor loss, caps memory at scan-batch
    granularity, and a later incremental run (
    :func:`minhash_dedup_incremental`) reads the same table as its
    ``corpus_sigs`` state instead of recomputing corpus signatures."""
    if path is None:
        from ..profile import active_profile

        if active_profile().warn_unmaterialized_signatures:
            import logging

            logging.getLogger("entity_etl_spark").warning(
                "minhash signatures falling back to localCheckpoint "
                "(signature_path=None) under the %s profile: blocks are "
                "lost on executor death and pin executor storage — pass "
                "signature_path for a durable, state-reusable table",
                active_profile().name,
            )
        return sig.localCheckpoint(eager=True)
    sig.write.mode("overwrite").parquet(path)
    return sig.sparkSession.read.parquet(path)


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    verify_threshold: float | None = 0.5,
    max_bucket_size: int | None = None,
    observation=None,
    signature_path: str | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup pairs, optionally exact-verified.

    ``hash_fn="md5"`` runs the portable cross-engine signature family
    AND exact string band keys (:func:`portable_minhash_params`), making
    the emitted pair set deterministic and fully restatable by an ANSI
    oracle at any SF; xxhash64 (default) is the cheaper production form.

    Default 64 hashes / 16 bands keeps rows-per-band 4 with an S-curve
    threshold (1/16)^(1/4) ~= 0.50 — aligned with the default
    ``verify_threshold`` (the r5 default 32/8 put the S-curve at ~0.59,
    so pairs with Jaccard 0.5-0.6 were majority-missed; sf1 measured 76%
    recall). Recall is still probabilistic near the threshold — the
    ``minhash_near_dups`` registry gate measures it against the exact
    join; use :func:`jaccard_pairs` / :func:`prefix_filter_pairs` when
    the policy needs the exact pair set.

    The scale pipeline: signatures (map-side) → banded buckets (small
    shuffle) → candidates (bucket join) → exact Jaccard only on candidates
    (join back to shingles of candidate docs only).

    ``max_bucket_size`` / ``observation`` pass through to
    :func:`lsh_candidate_pairs` (hot-bucket cap + dropped accounting).

    ``signature_path`` switches signature materialization from
    ``localCheckpoint`` (fine single-process; at cluster scale it pins
    executor storage and dies with the executor) to a STORAGE-backed
    persist: signatures are written to parquet at that path once and every
    downstream consumer (band explode, both self-join sides, incremental
    reuse in a later run) scans the file — the deployment-path form of
    "persist the signature table"."""
    rows_per_band = num_hashes // bands
    df = _spread_input(df)
    # materialize signatures: the band expressions and the self-join would
    # otherwise re-inline (and re-run) the signature fold bands×2 times
    sig = materialize_signatures(
        minhash_signatures(df, id_col, text_col, num_hashes, k,
                           hash_fn=hash_fn),
        signature_path,
    )
    cand = lsh_candidate_pairs(
        sig,
        bands,
        rows_per_band,
        max_bucket_size=max_bucket_size,
        observation=observation,
        portable_keys=hash_fn == "md5",
    )
    if verify_threshold is None:
        return cand
    # the candidate set is consumed three times by verification (two sides
    # of the doc semi-join + the pair join); materialize it once so the LSH
    # graph runs once — candidates are tiny relative to the corpus, and the
    # concurrent scans of a lazy cache would race and recompute it
    cand = cand.localCheckpoint(eager=True)
    return jaccard_verify(cand, df, id_col, text_col, k, verify_threshold)


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard for an explicit candidate-pair set (doc_a, doc_b).

    Joins each side's distinct-shingle ARRAY onto the pair and computes
    |A∩B| / |A∪B| with array_intersect — no shingle explode, no per-shingle
    join: two hash joins keyed by doc id, then per-row array math. Shingles
    are computed only for docs appearing in a candidate pair (semi-join
    first), so verify cost scales with candidate count, not corpus size."""
    cand_docs = (
        pairs.select(F.col("doc_a").alias("__cd"))
        .unionByName(pairs.select(F.col("doc_b").alias("__cd")))
        .distinct()
    )
    sh = (
        df.join(cand_docs, df[id_col] == cand_docs["__cd"], "left_semi")
        .select(F.col(id_col).alias("__doc"), shingles(text_col, k).alias("__sh"))
        # materialized once: both pair sides consume it, and without this
        # each side re-scans the corpus and rebuilds the shingle arrays
        .localCheckpoint(eager=True)
    )
    a = sh.select(F.col("__doc").alias("doc_a"), F.col("__sh").alias("__sh_a"))
    b = sh.select(F.col("__doc").alias("doc_b"), F.col("__sh").alias("__sh_b"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - inter
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs via prefix filtering (AllPairs/PPJoin,
    Bayardo et al. WWW'07; Chaudhuri et al. ICDE'06) — 100% recall by the
    prefix lemma (modulo the 2^-64 hash-collision fine print below),
    versus the MinHash-LSH path's tunable-S-curve recall.

    Order every doc's distinct shingles by ascending global document
    frequency (rarest first); a pair with Jaccard >= t MUST share at least
    one shingle inside both docs' first ``n - ceil(t*n) + 1`` shingles
    (the SSJoin prefix lemma, with the length filter ``min >= t*max``).
    So the inverted index is built over the PREFIXES only — the high-df
    stop-shingles that make the naive shingle self-join
    (:func:`jaccard_pairs`) quadratic on word-soup corpora sort to the
    END of every doc and never enter the index. Candidates are then
    exact-verified (:func:`jaccard_verify`), so the output equals
    :func:`jaccard_pairs` exactly at ANY corpus size — this is the
    deterministic scale path for threshold-pinned dedup policies, while
    MinHash-LSH remains the tunable recall/cost trade.

    Shape: one groupBy(shingle) for the df table, one doc-partitioned
    window for the rank (both partial-aggregate/sort map-side), the
    prefix-only equi-join, then candidate-scoped verification. At 100 TB
    the df table is a broadcast-sized dictionary of distinct shingles'
    counts only when the shingle vocabulary is small; otherwise it joins
    shuffle-side — either way postings lists are bounded by the rare-first
    ordering, not by a recall-losing cap.

    The index pipeline runs on ``xxhash64(shingle)`` longs, not shingle
    strings (8-byte shuffle/join keys). Collision fine print: a 64-bit
    collision can merge two set elements, and merging two SHARED shingles
    LOWERS hashed Jaccard ((i-1)/(u-1) < i/u), so candidate recall is
    probabilistic at the 2^-64 scale, not absolute — a pair sitting
    exactly at the threshold could in principle fail the hashed prefix or
    length filter (expected colliding vocabulary pairs ~= |vocab|^2 /
    2^65; ~3e-9 even at a billion distinct shingles). Verification
    re-scores surviving candidates on the TRUE string shingle sets, so
    false positives are removed exactly; callers needing the output
    bitwise-equal to :func:`jaccard_pairs` under an adversarial
    (collision-crafting) input should index the strings instead."""
    from pyspark.sql import Window

    eps = 1e-9  # float slack: always LENGTHEN the prefix / KEEP the pair
    df = _spread_input(df)
    sh = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array_distinct(
                F.transform(
                    shingles(text_col, k), lambda s: F.xxhash64(s)
                )
            )
        ).alias("sh"),
    )
    sdf = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    wdoc = Window.partitionBy("doc")
    ranked = sh.join(sdf, "sh").select(
        "doc",
        "sh",
        F.row_number().over(wdoc.orderBy("__df", "sh")).alias("__rn"),
        F.count(F.lit(1)).over(wdoc).alias("__n"),
    )
    prefix = ranked.filter(
        F.col("__rn")
        <= F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n") - eps) + 1
    )
    a = prefix.select(
        F.col("doc").alias("doc_a"),
        "sh",
        F.col("__n").alias("__na"),
        F.col("__rn").alias("__ra"),
    )
    b = prefix.select(
        F.col("doc").alias("doc_b"),
        F.col("sh").alias("__shb"),
        F.col("__n").alias("__nb"),
        F.col("__rn").alias("__rb"),
    )
    # PPJoin positional filter: matching at positions (ra, rb) bounds the
    # total overlap by 1 + min(remaining suffixes); pairs that cannot reach
    # the minimum overlap ceil(t/(1+t)*(na+nb)) are pruned IN the join
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("__na") + F.col("__nb"))
        - eps
    )
    cand = (
        a.join(
            b,
            (a["sh"] == b["__shb"])
            & (a["doc_a"] < b["doc_b"])
            & (
                F.least("__na", "__nb").cast("double")
                >= F.lit(threshold) * F.greatest("__na", "__nb") - eps
            )
            & (
                1
                + F.least(
                    F.col("__na") - F.col("__ra"), F.col("__nb") - F.col("__rb")
                )
                >= min_overlap
            ),
        )
        .select("doc_a", "doc_b")
        .distinct()
        # verification consumes the candidate set three times (both sides
        # of the doc semi-join + the pair join); run the LSH-free candidate
        # graph once
        .localCheckpoint(eager=True)
    )
    return jaccard_verify(cand, df, id_col, text_col, k, threshold)


# ------------------------------------------------------------------- SimHash
def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document: bit b of the signature is the majority
    vote of bit b across the doc's token hashes.

    Implemented as 64 conditional-sum aggregates over exploded tokens —
    entirely JVM-side, map-side combined. Output: (doc, simhash long).

    ``hash_fn="md5"`` derives the 64 token bits from the repo's PORTABLE
    cross-engine hash (two 32-bit ints from md5 hex prefixes — the only
    hash both Spark and DuckDB evaluate identically): bits 0..31 from
    md5[1:8], bits 32..63 from md5[9:16]. Each half stays inside a
    positive 32-bit range so an ANSI oracle can restate the whole
    signature without 64-bit overflow; xxhash64 (default) is cheaper
    JVM-side and the right choice when no cross-engine replay is
    needed."""
    tok = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(text_col)).alias("t"),
    )
    if hash_fn == "xxhash64":
        tok = tok.withColumn("h", F.xxhash64("t"))
        half = {"lo": F.col("h"), "hi": F.shiftright("h", 32)}
    elif hash_fn == "md5":
        tok = tok.withColumn("__m", F.md5("t"))
        half = {
            "lo": F.conv(F.substring("__m", 1, 8), 16, 10).cast("long"),
            "hi": F.conv(F.substring("__m", 9, 8), 16, 10).cast("long"),
        }
    else:
        raise ValueError(f"unknown simhash hash_fn: {hash_fn}")
    aggs = [
        F.sum(
            F.when(
                F.shiftright(half["hi" if b >= 32 else "lo"], b % 32)
                .bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    votes = tok.groupBy("doc").agg(*aggs)
    sig = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig.bitwiseOR(term)
    return votes.select("doc", sig.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    *,
    max_block_size: int | None = None,
    observation=None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Pairs of docs whose SimHashes are within ``max_hamming`` bits.

    Blocked join (the standard pigeonhole construction): split the 64-bit
    signature into ``max_hamming + 1`` equal blocks — a pair within Hamming
    distance ``max_hamming`` differs in at most ``max_hamming`` blocks, so
    it must agree EXACTLY on at least one block. Each doc explodes into one
    (block_idx, block_bits) key per block; candidates come from an equi-join
    on that key (a hash join — never an all-pairs nested loop), and the
    exact XOR-popcount Hamming filter refines candidates to true pairs.
    ``distinct`` collapses pairs that collide in several blocks.

    Cost: |docs| × blocks rows in the join (tiny — (doc, long, int, long)),
    candidate count driven by block-key collisions, not |docs|². A hot
    block key (a corpus of near-identical docs collapses whole signature
    blocks) still fans out O(B²): ``max_block_size`` drops oversized
    (blk, key) groups before the join, same contract and accounting
    (``simhash_rows_in_dropped_blocks`` / ``simhash_max_block_size`` on
    ``observation``) as :func:`lsh_candidate_pairs`. NOTE the pigeonhole
    never-miss guarantee then holds only for pairs retaining at least one
    un-dropped shared block — the cap trades recall on mega-groups for a
    bounded stage, exactly like the LSH cap."""
    blocks = max_hamming + 1
    bits = 64 // blocks
    # signatures are one row per doc; materialize so the 64-aggregate
    # simhash fold runs once, not once per self-join side
    sig = simhash(df, id_col, text_col, hash_fn).localCheckpoint(eager=True)
    mask = (1 << bits) - 1
    blocked = sig.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright("simhash", i * bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("bk"),
    ).select("doc", "simhash", "bk.blk", "bk.key")
    from .caps import cap_hot_groups

    blocked = cap_hot_groups(
        blocked,
        ["blk", "key"],
        max_block_size,
        observation=observation,
        dropped_metric="simhash_rows_in_dropped_blocks",
        max_metric="simhash_max_block_size",
        repartition=max_block_size is not None,
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def drop_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    method: str = "exact",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    verify_threshold: float | None = 0.5,
    max_bucket_size: int | None = None,
    signature_path: str | None = None,
    hash_fn: str | None = None,
    observation=None,
) -> DataFrame:
    """Corpus-level near-dup removal: keep one representative per near-dup
    group (the standard keep-the-smaller-id policy over verified pairs, as
    used by large text-corpus pipelines: every doc that appears as the
    GREATER id of a verified pair is dropped, so each connected group keeps
    at least its minimum-id member).

    ``method='exact'`` (default) takes the pair set from the deterministic
    shingle equi-join (:func:`jaccard_pairs`) — the kept-set contract is
    then EXACT at any corpus size, which is what a threshold-pinned dedup
    policy needs (round-5's sf1 rehearsal showed LSH at default params
    misses a minority of near-threshold pairs, silently inflating the kept
    set). ``method='prefix'`` is equally exact via the prefix-filter
    join (:func:`prefix_filter_pairs`) — prefer it at thresholds >~0.6,
    where prefixes shrink and the counting join's fan-out doesn't.
    ``method='minhash'`` keeps the probabilistic MinHash-LSH
    candidate path — cheaper on corpora where the exact join's stop-shingle
    fan-out dominates, at a measured recall trade
    (``minhash_near_dups``'s recall gate is the meter).

    Returns df minus dropped docs — the "switch your corpus to the deduped
    one" API; the pair functions are the pair-level forensic view.
    ``max_bucket_size`` / ``signature_path`` / ``hash_fn`` /
    ``observation`` thread through to the LSH candidate stage (hot-bucket
    cap + drop accounting; storage-backed signature persist; md5 portable
    vs xxhash64 engine-native hash family) and are REJECTED with the
    exact methods: a caller that tuned the r5-default MinHash path (this
    became ``method='exact'`` in r6) must not silently lose its signature
    persist or hot-bucket cap."""
    if method != "minhash":
        lsh_only = {
            "max_bucket_size": max_bucket_size,
            "signature_path": signature_path,
            "hash_fn": hash_fn,
            "observation": observation,
        }
        passed = [name for name, v in lsh_only.items() if v is not None]
        if passed:
            raise ValueError(
                f"{passed} apply only to method='minhash' "
                f"(got method={method!r})"
            )
    if method == "exact":
        pairs = jaccard_pairs(
            df, id_col, text_col, k,
            0.5 if verify_threshold is None else verify_threshold,
        )
    elif method == "prefix":
        # also exact (AllPairs prefix filtering): wins over the counting
        # join at higher thresholds, where prefixes shrink to (1-t) of
        # each doc and the stop-shingle postings never enter the index
        pairs = prefix_filter_pairs(
            df, id_col, text_col, k,
            0.5 if verify_threshold is None else verify_threshold,
        )
    elif method == "minhash":
        pairs = minhash_near_dups(
            df, id_col, text_col,
            num_hashes=num_hashes, bands=bands, k=k,
            verify_threshold=verify_threshold,
            max_bucket_size=max_bucket_size,
            signature_path=signature_path,
            observation=observation,
            **({} if hash_fn is None else {"hash_fn": hash_fn}),
        )
    else:
        raise ValueError(f"unknown near-dup method: {method!r}")
    losers = pairs.select(F.col("doc_b").alias("__loser")).distinct()
    return df.join(losers, df[id_col] == losers["__loser"], "left_anti")


# ------------------------------------------------------------------ E1/E2
def repeated_substring_windows(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 24,
    stride: int = 8,
) -> DataFrame:
    """Cross-document repeated-substring detection — the exact-substring
    dedup signal (cf. Lee et al., "Deduplicating Training Data Makes
    Language Models Better"), re-expressed as a shingle-window equi-join
    instead of a suffix array.

    Each document is cut into ``k``-char windows every ``stride`` chars;
    a window occurring in >= 2 DISTINCT documents marks boilerplate /
    copied spans. Output per doc: ``n_windows``, ``n_dup_windows`` (window
    occurrences shared with another doc), ``dup_frac`` — threshold on
    dup_frac to drop templated or plagiarized docs, or use the windows
    themselves to locate the spans to cut.

    Scale: windows explode inside one codegen stage; the per-window
    distinct-doc count partial-aggregates map-side. At 100 TB group on
    ``xxhash64(window)`` (8 bytes) instead of the window text — same
    statistics modulo astronomically-unlikely collisions; the text form
    here keeps the DuckDB oracle exact. A suffix array finds arbitrary-
    length repeats; stride-k windows find repeats >= k+stride-1 chars with
    a bounded, shuffle-friendly row count (len/stride rows per doc).
    """
    wins = (
        docs.select(id_col, text_col)
        .filter(F.length(text_col) >= k)
        .withColumn(
            "__p",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.length(text_col) - (k - 1),
                    F.lit(stride),
                )
            ),
        )
        .select(
            F.col(id_col), F.expr(f"substring({text_col}, __p, {k})").alias("w")
        )
    )
    win_stats = wins.groupBy("w").agg(
        F.countDistinct(id_col).alias("__nd")
    )
    return (
        wins.join(win_stats, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum((F.col("__nd") >= 2).cast("long"))
            .cast("bigint")
            .alias("n_dup_windows"),
            F.round(
                F.sum((F.col("__nd") >= 2).cast("long")) / F.count(F.lit(1)), 4
            ).alias("dup_frac"),
        )
    )


def candidate_pruned_bodies(
    corpus: DataFrame,
    cand_pairs: DataFrame,
    id_col: str,
    text_col: str,
    pushdown_limit: int | None,
) -> DataFrame:
    """Corpus bodies restricted to docs in a candidate pair, as a SCAN
    predicate, not just a join.

    jaccard_verify's semi-join restricts what *shuffles*; a file-backed
    corpus would still *scan* every body row per increment. When the
    candidate-doc count fits ``pushdown_limit``, collect the ids (one
    cap-guarded single-job probe over the tiny pinned pair set) and push
    them into the corpus read as ``isin`` literals — parquet row-group
    stats then prune the read itself (PushedFilters In(id), asserted in
    tests), so per-increment corpus I/O scales with candidate count, not
    corpus size. Above the limit (or None) the full projection is
    returned and the downstream semi-join does the restriction alone.

    Sizing the limit: ParquetFilters only expands an In to per-value
    row-group predicates up to ``spark.sql.parquet.pushdown.
    inFilterThreshold`` (default 10); beyond that it degrades to a
    min/max RANGE filter, which still prunes when ids are clustered
    (incremental out_dirs append in id order, so recent-candidate ranges
    skip settled files) but not for scattered ids. Keep the limit small
    (the 1k default), or raise the threshold conf alongside it — a
    100k-literal In would bloat every task's serialized plan for a
    filter parquet can't use."""
    corpus_bodies = corpus.select(id_col, text_col)
    if pushdown_limit is None:
        return corpus_bodies
    cand_ids = (
        cand_pairs.select(F.col("doc_a").alias("__cd"))
        .unionByName(cand_pairs.select(F.col("doc_b").alias("__cd")))
        .distinct()
    )
    # limit+1 bounds the probe: more rows back = candidate set too large
    # to inline as literals; keep the full-scan + semi-join path
    probe = [r[0] for r in cand_ids.limit(pushdown_limit + 1).collect()]
    if len(probe) > pushdown_limit:
        return corpus_bodies
    return corpus_bodies.filter(F.col(id_col).isin(probe))


def minhash_dedup_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_sigs: DataFrame | None = None,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    verify_threshold: float = 0.5,
    max_bucket_size: int | None = None,
    new_sigs_only: bool = False,
    candidate_pushdown_limit: int | None = 1_000,
) -> tuple[DataFrame, DataFrame]:
    """Incremental NEAR-dup dedup: drop batch docs near-duplicate to the
    accumulated corpus (or to a smaller-id batch sibling) — the MinHash
    twin of :func:`exact_dedup_incremental`, completing the incremental
    dedup story for continuously-fed training pipelines.

    With ``new_sigs_only=True`` the second return value is ONLY the
    state DELTA: batch survivors' signatures, plus — on a first run
    where ``corpus_sigs`` had to be computed in-call from a non-empty
    ``corpus`` — those corpus signatures too (they exist nowhere else
    yet, so omitting them would make later increments silently blind to
    the original corpus). Pair it with state.append_state so per-batch
    state persistence costs O(batch) instead of rewriting the
    accumulated table every increment.

    ``candidate_pushdown_limit``: the verify step needs corpus BODIES
    only for docs in a candidate pair. The semi-join inside
    :func:`jaccard_verify` restricts what *shuffles*, but a file-backed
    ``corpus`` would still *scan* every body row per increment. When the
    candidate-doc count is within this limit, the ids are collected
    (one cap-guarded single-job probe over the tiny pinned pair set) and
    pushed into the corpus scan as an ``isin`` filter — parquet
    row-group stats then prune the read itself, so per-increment corpus
    I/O scales with candidate count, not corpus size. Above the limit
    (or with None) it falls back to the full scan + semi-join.

    ``corpus_sigs`` is the persisted signature STATE (one (doc, sig) row
    per kept corpus doc; computed from ``corpus`` on the first run).
    Returns ``(kept_batch, next_sigs)``: batch survivors, and the
    signature state grown by exactly the survivors' signatures — corpus
    BODIES are touched only for docs appearing in a candidate pair (the
    verify semi-join), never rescanned wholesale.

    Scale: per increment, signature cost is O(|batch| shingles) map-side;
    the LSH band join shuffles (doc, band-bucket) longs; verification
    joins bodies for candidate docs only. The signature state is the only
    thing that persists — at 100 TB bucket it by ``doc``.

    Ordering contract: winners are smaller ids (keep-min-id, matching the
    batch-mode :func:`drop_near_dups` policy), so state ids are assumed
    to precede batch ids — in a deployment where they don't, substitute a
    priority column for the id in the pair ordering.
    """
    rows_per_band = num_hashes // bands
    computed_corpus_sigs = None
    if corpus_sigs is None:
        # first run only: fold the corpus once and pin it — every later
        # increment loads the persisted state instead
        corpus_sigs = minhash_signatures(
            corpus, id_col, text_col, num_hashes, k
        ).localCheckpoint(eager=True)
        computed_corpus_sigs = corpus_sigs
    # pinned because it has THREE consumers (band buckets, kept_sigs,
    # and the caller's state persist) — without the barrier each one
    # re-runs the full shingle fold over the batch lineage, which for a
    # streaming batch includes the clean/quality-gate scan
    batch_sigs = minhash_signatures(
        batch, id_col, text_col, num_hashes, k
    ).localCheckpoint(eager=True)
    all_sigs = corpus_sigs.unionByName(batch_sigs)
    # only pairs whose GREATER side is a batch doc can drop anything:
    # corpus-corpus pairs were settled in earlier increments, so the
    # bucket join's right side is restricted to batch docs up front
    # (O(bucket x batch) fan-out, not O(bucket^2))
    # pinned: jaccard_verify consumes the pair set three times (both
    # sides of the cand_docs union + the final pair join), and the
    # losers checkpoint would re-run the band explode + bucket join for
    # each without this barrier
    cand_b = lsh_candidate_pairs(
        all_sigs,
        bands,
        rows_per_band,
        max_bucket_size=max_bucket_size,
        right_ids=batch_sigs.select("doc"),
    ).localCheckpoint(eager=True)
    bodies = candidate_pruned_bodies(
        corpus, cand_b, id_col, text_col, candidate_pushdown_limit
    ).unionByName(batch.select(id_col, text_col))
    verified = jaccard_verify(
        cand_b, bodies, id_col, text_col, k, verify_threshold
    )
    # one pinned evaluation of the whole candidate+verify pipeline; the
    # kept anti-join and kept_sigs semi-join both read this tiny table
    losers = (
        verified.select(F.col("doc_b").alias("__loser"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    kept = batch.join(losers, batch[id_col] == losers["__loser"], "left_anti")
    kept_sigs = batch_sigs.join(
        kept.select(F.col(id_col).alias("doc")), "doc", "left_semi"
    )
    if new_sigs_only:
        # the delta must include in-call-computed corpus signatures: they
        # are persisted nowhere else, and a caller pairing this with
        # append_state would otherwise lose the original corpus from the
        # state forever (later increments silently stop matching it)
        if computed_corpus_sigs is not None:
            return kept, computed_corpus_sigs.unionByName(kept_sigs)
        return kept, kept_sigs
    return kept, corpus_sigs.unionByName(kept_sigs)


# ---------------------------------------- exact near-dup state (two tables)
# The persisted state of :func:`exact_neardup_dedup_incremental`: narrow
# (doc, sh) shingle rows plus one (doc, n) row per doc, ``n`` the doc's
# distinct-shingle-set size. Each table is a set of dirs under its
# state_path: an increment writes one dir per table, named by its key, and
# a key is COMMITTED once both tables hold its dir. Each doc id enters the
# state at most once (the operator leaves stored docs out of its deltas)
# and a dir is written under a ``_tmp-`` name and renamed over its key, so
# the state is duplicate-free by construction and loads with no dedup.
NEARDUP_SHINGLES = "doc_shingles"
NEARDUP_SIZES = "doc_sizes"
# Size-tiered merge: when FANOUT dirs share a tier they are unioned into one
# dir of the next tier, so a table holds at most FANOUT - 1 dirs per tier
# (plus the newest increment's own, which its writer never merges, so that
# a replay of it still finds and replaces its dir by key): 31 dirs up to
# 4^10 increments, each row rewritten about log4(increments) times. The
# bound matters because Spark lists more than 32 paths
# (spark.sql.sources.parallelPartitionDiscovery.threshold) with a Spark
# job, which cost 2 jobs and ~100 tasks per batch once a load passed 32.
_NEARDUP_FANOUT = 4
# A merged dir is ``merge<tier>-<hash of its members>``; its ``_members``
# file (ignored by Spark's reader) lists the dirs it replaces.
_NEARDUP_MERGED = re.compile(r"merge(\d+)-[0-9a-f]{12}$")
_NEARDUP_MEMBERS = "_members"


def neardup_state_schemas(
    id_type: T.DataType,
) -> tuple[T.StructType, T.StructType]:
    """The ``(doc, sh)`` and ``(doc, n)`` schemas; ``id_type`` is the
    batch's id column type."""
    return (
        T.StructType(
            [T.StructField("doc", id_type), T.StructField("sh", T.StringType())]
        ),
        T.StructType(
            [T.StructField("doc", id_type), T.StructField("n", T.IntegerType())]
        ),
    )


def _neardup_entries(state_dir: str, table: str) -> tuple[set[str], bool]:
    """``(dirs, flat)``: the finished dir names of ``table`` and whether
    parquet files sit at its root (an old flat layout)."""
    root = state_mod.state_path(state_dir, table)
    if not os.path.isdir(root):
        return set(), False
    dirs, flat = set(), False
    for name in os.listdir(root):
        if os.path.isdir(os.path.join(root, name)):
            if not name.startswith(("_", ".")):
                dirs.add(name)
        elif name.endswith(".parquet"):
            flat = True
    return dirs, flat


def check_neardup_state(state_dir: str) -> None:
    """Raise ``ValueError`` when ``state_dir`` holds an old flat layout:
    parquet files at a table's root (the single-table, legacy and
    append-only two-table layouts, which may hold replay duplicates)."""
    for table in (NEARDUP_SHINGLES, NEARDUP_SIZES):
        if _neardup_entries(state_dir, table)[1]:
            raise ValueError(
                f"{state_dir!r} holds a flat {table} table: an old near-dup "
                "state layout. Convert it once with "
                "ext.dedup.migrate_neardup_state(spark, state_dir)."
            )


def _neardup_live(state_dir: str) -> tuple[list[str], set[str]]:
    """``(live, superseded)``: the committed dirs that no committed merged
    dir lists as a member, and the dirs some committed merged dir lists
    (their rows sit in it)."""
    sh_dirs, _ = _neardup_entries(state_dir, NEARDUP_SHINGLES)
    committed = sh_dirs & _neardup_entries(state_dir, NEARDUP_SIZES)[0]
    superseded = set()
    root = state_mod.state_path(state_dir, NEARDUP_SHINGLES)
    for name in committed:
        if _NEARDUP_MERGED.match(name):
            with open(os.path.join(root, name, _NEARDUP_MEMBERS)) as fh:
                superseded.update(json.load(fh))
    return sorted(committed - superseded), superseded


def _drop_neardup_dirs(state_dir: str, names) -> None:
    for table in (NEARDUP_SHINGLES, NEARDUP_SIZES):
        root = state_mod.state_path(state_dir, table)
        for name in names:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def load_neardup_state(
    spark, state_dir: str, id_type: T.DataType, exclude: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """``(shingles, sizes)`` over every committed key but ``exclude`` (the
    current increment's own key, so a replayed increment never sees its
    first attempt), read with their known schemas: loading runs no Spark
    job and no dedup. Empty frames when nothing is committed yet. Dirs a
    committed merge replaced are skipped and deleted here, so a crash
    between a merge's rename and its member deletion still loads
    duplicate-free."""
    check_neardup_state(state_dir)
    live, superseded = _neardup_live(state_dir)
    _drop_neardup_dirs(state_dir, superseded)
    names = [name for name in live if name != exclude]

    def load(table: str, schema: T.StructType) -> DataFrame:
        if not names:
            # an empty local relation, which the planner sizes at 0 bytes;
            # createDataFrame's own frame has unknown statistics, which
            # read as huge and would take the several-split plan
            return spark.createDataFrame([], schema).limit(0)
        root = state_mod.state_path(state_dir, table)
        return spark.read.schema(schema).parquet(
            *(os.path.join(root, name) for name in names)
        )

    sh_schema, n_schema = neardup_state_schemas(id_type)
    return load(NEARDUP_SHINGLES, sh_schema), load(NEARDUP_SIZES, n_schema)


def _write_neardup_dir(
    df: DataFrame, state_dir: str, table: str, name: str, members=()
) -> None:
    """Write ``df`` as dir ``name`` of ``table``: under ``_tmp-<name>``,
    then renamed over ``name``, so a rewrite replaces it whole."""
    root = state_mod.state_path(state_dir, table)
    tmp, final = os.path.join(root, "_tmp-" + name), os.path.join(root, name)
    df.write.mode("overwrite").parquet(tmp)
    if members:
        with open(os.path.join(tmp, _NEARDUP_MEMBERS), "w") as fh:
            json.dump(list(members), fh)
    if os.path.exists(final):
        shutil.rmtree(final)
    os.replace(tmp, final)


def append_neardup_state(
    state_dir: str, shingles_delta: DataFrame, sizes_delta: DataFrame, key: str
) -> None:
    """Commit one increment's deltas as the dirs of ``key`` (the streaming
    runner's ``<query id>-<batch id>``): writing a key again replaces its
    dirs, and a crash between the two tables leaves a key that does not
    load. Then merge the other live dirs (see ``_NEARDUP_FANOUT``)."""
    if key.startswith(("_", ".")) or _NEARDUP_MERGED.match(key):
        raise ValueError(f"{key!r} is a reserved near-dup state dir name")
    _write_neardup_dir(shingles_delta, state_dir, NEARDUP_SHINGLES, key)
    _write_neardup_dir(sizes_delta, state_dir, NEARDUP_SIZES, key)
    spark = sizes_delta.sparkSession
    tiers: dict[int, list[str]] = {}
    for name in _neardup_live(state_dir)[0]:
        if name != key:
            m = _NEARDUP_MERGED.match(name)
            tiers.setdefault(int(m.group(1)) if m else 0, []).append(name)
    tier = 0
    while tier <= max(tiers, default=-1):
        group = sorted(tiers.get(tier, ()))
        if len(group) < _NEARDUP_FANOUT:
            tier += 1
            continue
        members = group[:_NEARDUP_FANOUT]
        digest = hashlib.md5(",".join(members).encode()).hexdigest()[:12]
        merged = f"merge{tier + 1}-{digest}"
        for table, delta in (
            (NEARDUP_SHINGLES, shingles_delta),
            (NEARDUP_SIZES, sizes_delta),
        ):
            root = state_mod.state_path(state_dir, table)
            rows = spark.read.schema(delta.schema).parquet(
                *(os.path.join(root, name) for name in members)
            )
            _write_neardup_dir(rows, state_dir, table, merged, members)
        _drop_neardup_dirs(state_dir, members)
        tiers[tier] = group[_NEARDUP_FANOUT:]
        tiers.setdefault(tier + 1, []).append(merged)


def migrate_neardup_state(spark, state_dir: str) -> None:
    """One-shot conversion of an old flat near-dup state dir — single-table
    ``(doc, sh, n)``, legacy ``(doc, sh)``, the append-only two tables, or
    a mix — to one committed dir. Its rows are the deduplicated ``(doc,
    sh)`` rows, and ``n`` is recounted over them, which is the right size
    whatever layout (or replay duplication) each row came from. The flat
    files are deleted last, so a crashed migration reruns."""
    root = state_mod.state_path(state_dir, NEARDUP_SHINGLES)
    flat = [
        os.path.join(root, name)
        for name in (os.listdir(root) if os.path.isdir(root) else ())
        if name.endswith(".parquet")
    ]
    if flat:
        rows = spark.read.parquet(*flat).select("doc", "sh").distinct()
        sizes = rows.groupBy("doc").agg(
            F.count(F.lit(1)).cast("int").alias("n")
        )
        _write_neardup_dir(rows, state_dir, NEARDUP_SHINGLES, "migrated")
        _write_neardup_dir(sizes, state_dir, NEARDUP_SIZES, "migrated")
    for table in (NEARDUP_SHINGLES, NEARDUP_SIZES):
        root = state_mod.state_path(state_dir, table)
        for name in os.listdir(root) if os.path.isdir(root) else ():
            if os.path.isfile(os.path.join(root, name)):
                os.remove(os.path.join(root, name))


def exact_neardup_dedup_incremental(
    batch: DataFrame,
    corpus_shingles: DataFrame,
    corpus_sizes: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental near-dup dedup with EXACT recall: drop batch docs whose
    n-gram Jaccard with the accumulated corpus (or a smaller-id batch
    sibling) reaches ``threshold`` — same keep-min-id policy as
    :func:`minhash_dedup_incremental`, but the persistent state is the
    corpus' SHINGLE INVERTED INDEX instead of MinHash signatures, so the
    pair set is the exact one: a threshold-pinned dedup policy keeps its
    contract at any corpus size (the r5 sf1 rehearsal showed LSH
    signatures silently keep extra near-threshold docs).

    State is one layout of two tables (:func:`load_neardup_state`):
    ``corpus_shingles`` = narrow ``(doc, sh)`` rows and ``corpus_sizes`` =
    one ``(doc, n)`` row per doc. The pair join's fan-out frame — the one
    giant frame here — carries the two ids and the sizes the batch rows
    already hold, the aggregation keeps one count buffer, and the corpus
    sizes attach on the (candidate-bounded) aggregated pair set. A first
    increment passes the empty frames. Old
    flat dirs are converted once by :func:`migrate_neardup_state`;
    loading one raises until then.

    Both sides of the candidate equi-join carry complete shingle sets, so
    the per-pair match count IS the exact intersection — no verification
    pass and NO document-body reads at all: per increment the corpus
    contributes only a columnar scan of the (doc, sh) state. The join's
    right side is restricted to batch docs (corpus-corpus pairs settled
    in earlier increments), keeping fan-out at O(shared-shingle x batch).

    Precondition: both state frames are duplicate-free (what
    :func:`load_neardup_state` returns; a duplicated row would double its
    shingles in the intersection counts) and doc ids are unique within
    the batch. While the sizes fit the broadcast threshold no state row
    crosses a shuffle: the batch ids are broadcast, the state side drops
    batch docs map-side (a batch may resend a doc an earlier increment
    stored), and the same scan of the sizes finds those ``stored`` docs.

    Two plans, chosen from plan statistics (no Spark job):

    - **One partition.** When the pinned batch shingles are one partition
      of known size and each state frame fits one file split
      (:func:`~entity_etl_spark.state.split_count`), the state sides and
      the pair join's left side are coalesced to one partition and the
      pair join is a shuffled hash join over them: one partition
      satisfies the join's and the pair aggregation's clustering, so
      nothing is exchanged and the batch is not broadcast. The corpus
      sizes still attach by the planner's broadcast (hinting that join
      too put an exchange on both of its sides, one more job).
    - **Several splits.** Otherwise the planner sizes the pair join,
      broadcasting the batch side while it is small, and the pair
      aggregation shuffles the (batch-bounded) pairs. The corpus sizes
      attach by a broadcast of the doc-count-sized table while it fits
      the broadcast threshold and by a shuffle of slim (id, int) rows
      past it; forcing a broadcast of the PAIR side instead measured
      140 s vs 44 s at sf1, where a shared-vocabulary corpus emits
      millions of candidate pairs per batch.

    The dropped batch docs (the losers and the stored docs) leave the
    survivors and the deltas. On the one-partition plan they come back in
    one collect, one row per doc (so no more ids than the batch holds,
    and the batch fits one split), and the survivors and both deltas are
    ``isin`` filters over the batch and the pinned shingles: no pin and
    no broadcast of the dropped set. On the several-split plan the
    dropped set is pinned and broadcast to ``left_anti`` joins, and the
    delta is pinned once for both appends. Both keep a batch doc whose id
    is NULL.

    Returns ``(kept_batch, shingles_delta, sizes_delta)``: the survivors,
    and the rows of the survivors not already stored for each table,
    both read from one frame over the shingle pin (the sizes are its
    ``__pos == 0`` rows), for :func:`append_neardup_state` — so a doc
    enters the state at most once, and a resent doc is still judged and
    emitted. At 100 TB bucket the shingles by ``sh``
    (sinks.write_bucketed) so the candidate join is shuffle-free, and
    store ``xxhash64(sh)`` instead of the shingle text to cut state bytes
    ~3x (in-doc collisions are ~2^-64-improbable but make the operator
    no-longer-bitwise-exact; the text form here keeps the contract
    airtight)."""
    # pinned: consumed by the join's right side, the union'd left side
    # and the survivors' deltas. Rows carry the per-doc
    # distinct shingle-set size ``n`` (computed map-side at shingling
    # time — never a per-batch O(state) aggregation).
    batch_sh = (
        _shingle_rows_with_size(_spread_input(batch), id_col, text_col, k)
        .localCheckpoint(eager=True)
    )
    # a one-partition pin of known size over a state of one split each:
    # the planner keeps a one-partition join side unshuffled only while
    # its size estimate is known to be small (maxSinglePartitionBytes)
    one_split = batch_sh.rdd.getNumPartitions() == 1 and all(
        state_mod.split_count(df) == 1
        for df in (batch_sh, corpus_shingles, corpus_sizes)
    )
    sizes = corpus_sizes.select("doc", "n")
    if one_split:
        # one task reads every small state file: the sizes' broadcast and
        # the stored-docs scan run one task, not one per file
        sizes = sizes.coalesce(1)
    batch_ids = F.broadcast(batch.select(F.col(id_col).alias("doc")))
    corpus_shingles = corpus_shingles.select("doc", "sh").join(
        batch_ids, "doc", "left_anti"
    )
    stored = sizes.select("doc").join(batch_ids, "doc", "left_semi")
    corpus_sizes = sizes.join(batch_ids, "doc", "left_anti")
    # The batch rows already carry their doc's size, so nb and a batch
    # doc_a's na ride the pair join's fan-out rows (a corpus doc_a's row
    # carries NULL) and the aggregation keeps them as group keys, which
    # the doc ids determine: no per-batch join attaches them.
    all_sh = corpus_shingles.withColumn(
        "n", F.lit(None).cast("int")
    ).unionByName(batch_sh.select("doc", "sh", "n"))
    left = all_sh.select(
        F.col("doc").alias("doc_a"), "sh", F.col("n").alias("__nba")
    )
    right = batch_sh.select(
        F.col("doc").alias("doc_b"),
        F.col("sh").alias("__shb"),
        F.col("n").alias("__nb"),
    )
    if one_split:
        # both join sides are one partition, which the hash join's and the
        # pair aggregation's clustering accept as is: nothing is broadcast
        # or exchanged
        left, right = left.coalesce(1), right.coalesce(1).hint("shuffle_hash")
    pair_counts = (
        left.join(
            right,
            (left["sh"] == right["__shb"]) & (left["doc_a"] < right["doc_b"]),
        )
        .groupBy("doc_a", "doc_b", "__nba", "__nb")
        .agg(F.count(F.lit(1)).alias("__ni"))
    )
    # A corpus doc_a's na attaches on the candidate-bounded pair set by a
    # join left to the planner, which sizes it from the state files: a
    # broadcast of the doc-count-sized table while it fits the broadcast
    # threshold, both sides shuffled as slim (id, int) rows past it.
    # Force-broadcasting the PAIR side measured 140 s vs 44 s at sf1 (a
    # shared-vocabulary corpus emits millions of candidate pairs per
    # batch). Not one join over corpus ∪ batch sizes: that frame carries
    # the pinned batch's unknown size estimate, and the planner would
    # shuffle the whole sizes table every batch.
    corpus_na = corpus_sizes.select(
        F.col("doc").alias("doc_a"), F.col("n").alias("__nca")
    )
    scored = pair_counts.join(corpus_na, "doc_a", "left").withColumn(
        "__na", F.coalesce("__nca", "__nba")
    )
    # the batch docs left out of the deltas: the losers, and (flagged) the
    # stored docs, found on a scan of the sizes with the same broadcast of
    # batch ids. A doc may appear more than once: the collect groups the
    # repeats away, and the pinned form only ever excludes by them.
    dropped = (
        scored.filter(
            F.col("__ni") / (F.col("__na") + F.col("__nb") - F.col("__ni"))
            >= threshold
        )
        .select(F.col("doc_b").alias("__drop"), F.lit(False).alias("__stored"))
        .unionByName(
            stored.select(
                F.col("doc").alias("__drop"), F.lit(True).alias("__stored")
            )
        )
    )
    if one_split:
        # one row per dropped batch doc, grouped inside the collect's one
        # task (a single partition needs no exchange to group): at most
        # the batch's doc count, and the batch fits one file split
        rows = (
            dropped.coalesce(1)
            .groupBy("__drop")
            .agg(F.bool_or(~F.col("__stored")).alias("__lost"))
            .collect()
        )
        # the survivors and both deltas filter frames already pinned
        kept = _without(batch, id_col, [d for d, lost in rows if lost])
        delta = _without(batch_sh, "doc", [d for d, _ in rows])
    else:
        # pinned: both are anti-join build sides, and broadcasting them
        # keeps the batch from shuffling
        dropped = dropped.localCheckpoint(eager=True)
        losers = dropped.filter(~F.col("__stored"))
        kept = batch.join(
            F.broadcast(losers), batch[id_col] == losers["__drop"], "left_anti"
        )
        # pinned once for both appends; without it each append re-runs
        # the survivors plan
        delta = batch_sh.join(
            F.broadcast(dropped),
            batch_sh["doc"] == dropped["__drop"],
            "left_anti",
        ).localCheckpoint(eager=True)
    # neither delta shuffles: the sizes are the __pos == 0 rows
    return (
        kept,
        delta.select("doc", "sh"),
        delta.filter(F.col("__pos") == 0).select("doc", "n"),
    )


def _without(df: DataFrame, col: str, ids: list) -> DataFrame:
    """``df`` less the rows whose ``col`` is one of ``ids``; a row with a
    NULL ``col`` stays, as it does in a ``left_anti`` join.

    A string, integral or boolean ``col`` gets the ids as one JSON
    literal, which the optimizer folds to an array constant: one
    expression, where ``isin`` builds one literal per id. JSON round-trips
    these types exactly."""
    if not ids:
        return df
    dtype = df.schema[col].dataType
    if isinstance(dtype, (T.StringType, T.IntegralType, T.BooleanType)):
        listed = F.from_json(F.lit(json.dumps(ids)), T.ArrayType(dtype))
        hit = F.array_contains(listed, df[col])
    else:
        hit = df[col].isin(ids)
    return df.filter(df[col].isNull() | ~hit)


def repeated_substring_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    stride: int = 4,
    max_df: int = 50,
) -> DataFrame:
    """MAXIMAL cross-document repeated spans — the Lee-et-al
    exact-substring semantics ("Deduplicating Training Data Makes
    Language Models Better"), suffix-array-free.

    :func:`repeated_substring_windows` counts shared windows per doc;
    this merges ADJACENT matching windows into maximal repeated spans per
    doc pair, so callers get the actual (start, length) extents to cut:

    1. k-char windows every ``stride`` chars, with positions;
    2. prune windows found in < 2 or > ``max_df`` distinct docs (the
       high-frequency cap bounds the self-join fan-out the same way the
       contamination scan does — ubiquitous boilerplate windows would
       otherwise pair quadratically);
    3. self equi-join on window TEXT (hash join, never NLJ),
       ``doc_a < doc_b``;
    4. matches chain when they sit ``stride`` apart on the same alignment
       diagonal (``pos_a - pos_b``): islands-and-gaps via one lag + one
       running-sum window over (doc_a, doc_b, diag);
    5. each chain aggregates to its maximal span:
       ``span_len = k + max(pos_a) - min(pos_a)``.

    A chain of m adjacent matching windows certifies a repeated substring
    of exactly that extent. Two stated trade-offs vs a suffix array:
    repeats shorter than ``k + stride - 1`` may be missed (window
    sampling), and with ``stride > 1`` a repeat is found ONLY when its
    two occurrences start at offsets congruent mod ``stride`` (both
    sides' windows sit on absolute-position grids) — use
    :func:`repeated_substring_spans_cdc` when alignment cannot be
    assumed; its fingerprint positions follow CONTENT, not offsets. In
    exchange: join-shaped distribution — every stage is an equi-join or
    a keyed window, shuffling slim (id, pos, hash-sized) rows.

    At 100 TB: join on ``xxhash64(w)`` instead of the window text (8-byte
    shuffle keys; the text form here keeps the DuckDB oracle exact), and
    tighten ``max_df`` — the candidate volume is Σ_w c_w² over window
    doc-frequencies c_w ≤ max_df.
    """
    from pyspark.sql import Window

    wins = (
        docs.select(id_col, text_col)
        .filter(F.length(text_col) >= k)
        .withColumn(
            "__p",
            F.explode(
                F.sequence(
                    F.lit(1), F.length(text_col) - (k - 1), F.lit(stride)
                )
            ),
        )
        .select(
            F.col(id_col),
            F.col("__p").cast("long").alias("__p"),
            F.expr(f"substring({text_col}, __p, {k})").alias("w"),
        )
    )
    ok = (
        wins.groupBy("w")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter((F.col("__nd") >= 2) & (F.col("__nd") <= max_df))
        .select("w")
    )
    rep = wins.join(ok, "w")
    a = rep.select(
        F.col("w"), F.col(id_col).alias("doc_a"), F.col("__p").alias("pa")
    )
    b = rep.select(
        F.col("w"), F.col(id_col).alias("doc_b"), F.col("__p").alias("pb")
    )
    cand = (
        a.join(b, "w")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag")
        )
    )
    wchain = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    flagged = cand.withColumn(
        "__new",
        F.when(F.col("pa") - F.lag("pa").over(wchain) == stride, 0).otherwise(1),
    ).withColumn(
        "__chain",
        F.sum("__new").over(
            wchain.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy("doc_a", "doc_b", "diag", "__chain").agg(
        F.min("pa").cast("bigint").alias("start_a"),
        F.min("pb").cast("bigint").alias("start_b"),
        (F.lit(k) + F.max("pa") - F.min("pa")).cast("bigint").alias("span_len"),
    ).select("doc_a", "doc_b", "start_a", "start_b", "span_len")


def repeated_substring_spans_cdc(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    w: int = 8,
    max_gap: int = 64,
    max_df: int = 50,
) -> DataFrame:
    """Alignment-free repeated spans via CONTENT-DEFINED fingerprinting —
    the winnowing/0-mod-w selection from the plagiarism-detection and
    CDC-chunking literature (Schleimer et al., MOSS), fixing
    :func:`repeated_substring_spans`'s grid-alignment blind spot:

    1. every position's k-gram hashes map-side (array higher-order
       expressions — no explode until selection); a position is a
       FINGERPRINT iff ``hash % w == 0``, so selection follows content —
       two occurrences of the same block select the same relative
       positions no matter where the block sits in each doc (expected
       density 1/w);
    2. fingerprints join on k-gram text (hash equi-join; doc-frequency
       cap 2..max_df bounds fan-out);
    3. matches chain per (doc pair, diagonal) while consecutive
       fingerprints sit within ``max_gap`` chars (expected spacing is w)
       AND the stretch between them — [prev, cur + k) on both docs —
       compares equal. Verifying each LINK (not just each finished span)
       means a differing gap splits the chain into two valid spans
       instead of poisoning one glued span that a whole-span check would
       then drop entirely (two real repeated blocks separated by <
       max_gap chars of differing content used to vanish);
    4. consecutive verified stretches overlap by >= k chars, so their
       union — the whole chained span — is an exact repeat by induction;
       a final whole-span substring equality stays as cheap insurance.
       Spans are maximal at fingerprint resolution (ends can undershoot
       the true maximal repeat by < w chars).

    The hash is the repo's portable md5 recipe, so the oracle restates
    selection digit-for-digit. Shuffles carry (id, pos, k-gram) for
    selected positions only (~len/w per doc); bodies join back once,
    for candidate spans only.
    """
    from pyspark.sql import Window

    n_grams = F.length(text_col) - (k - 1)
    pos_hash_sel = F.filter(
        F.sequence(F.lit(1), n_grams),
        lambda p: (
            F.conv(
                F.substring(
                    F.md5(F.substring(F.col(text_col), p, F.lit(k)).cast("string")), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % w
            == 0
        ),
    )
    fps = (
        docs.select(id_col, text_col)
        .filter(F.length(text_col) >= k)
        .select(
            F.col(id_col),
            F.explode(pos_hash_sel).alias("__p"),
            F.col(text_col),
        )
        .select(
            F.col(id_col),
            F.col("__p").cast("long").alias("__p"),
            F.expr(f"substring({text_col}, __p, {k})").alias("w"),
        )
    )
    ok = (
        fps.groupBy("w")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter((F.col("__nd") >= 2) & (F.col("__nd") <= max_df))
        .select("w")
    )
    rep = fps.join(ok, "w")
    a = rep.select(
        F.col("w"), F.col(id_col).alias("doc_a"), F.col("__p").alias("pa")
    )
    b = rep.select(
        F.col("w"), F.col(id_col).alias("doc_b"), F.col("__p").alias("pb")
    )
    ta = docs.select(
        F.col(id_col).alias("doc_a"), F.col(text_col).alias("__ta")
    )
    tb = docs.select(
        F.col(id_col).alias("doc_b"), F.col(text_col).alias("__tb")
    )
    # bodies join onto CANDIDATE rows (selected fingerprints of paired
    # docs only) so link verification can read the gap content — heavier
    # than joining after the span aggregate, but what makes a differing
    # gap split a chain instead of dropping it
    cand = (
        a.join(b, "w")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "pa", "pb",
            (F.col("pa") - F.col("pb")).alias("diag"),
        )
        .join(ta, "doc_a")
        .join(tb, "doc_b")
    )
    wchain = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    link_ok = (
        ((F.col("pa") - F.col("__prev_pa")) <= max_gap)
        & (
            F.expr("substring(__ta, __prev_pa, __stretch)")
            == F.expr("substring(__tb, __prev_pb, __stretch)")
        )
    )
    flagged = (
        cand.withColumn("__prev_pa", F.lag("pa").over(wchain))
        .withColumn("__prev_pb", F.lag("pb").over(wchain))
        .withColumn("__stretch", F.col("pa") - F.col("__prev_pa") + k)
        .withColumn("__new", F.when(link_ok, 0).otherwise(1))
        .withColumn(
            "__chain",
            F.sum("__new").over(
                wchain.rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
    )
    spans = flagged.groupBy("doc_a", "doc_b", "diag", "__chain").agg(
        F.min("pa").cast("bigint").alias("start_a"),
        F.min("pb").cast("bigint").alias("start_b"),
        (F.lit(k) + F.max("pa") - F.min("pa")).cast("bigint").alias("span_len"),
    )
    return (
        spans.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(
            F.expr("substring(__ta, start_a, span_len)")
            == F.expr("substring(__tb, start_b, span_len)")
        )
        .select("doc_a", "doc_b", "start_a", "start_b", "span_len")
    )


def exact_dedup_incremental(
    seen_fps: DataFrame | None,
    batch: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    new_fps_only: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup: dedup a NEW batch against the accumulated
    corpus without touching corpus bodies — the shape every continuously-fed
    training pipeline needs (and the corpus-scale analogue of the
    reference's changed-row suppression, cache.js:69-85: state is a
    fingerprint table, not the data).

    With ``new_fps_only=True`` the second return value is ONLY the new
    fingerprints (not old ∪ new) — pair with state.append_state so
    per-batch persistence is O(batch), not an O(corpus) state rewrite.

    ``seen_fps``: one-column ``fp`` DataFrame of every fingerprint already
    kept (or None on the first batch). Returns ``(kept, next_seen_fps)``:
    batch rows that are (a) their fingerprint's min-id winner within the
    batch and (b) unseen in state; next state = old ∪ kept fingerprints.

    Scale: the batch shuffles as (fp, id) pairs only; the anti-join against
    state is fp-keyed — bucket the state table by fp (sinks.write_bucketed)
    and the state side never re-shuffles; bodies move once, in the final
    id-keyed semi-join. State grows by exactly the kept rows.
    """
    slim = batch.select(
        F.col(id_col).alias("__id"), fingerprint(text_col).alias("fp")
    )
    winners = slim.groupBy("fp").agg(F.min("__id").alias("__id"))
    if seen_fps is not None:
        winners = winners.join(seen_fps, "fp", "left_anti")
    kept = batch.join(
        winners.select("__id"), batch[id_col] == winners["__id"], "left_semi"
    )
    new_fps = winners.select("fp")
    if new_fps_only:
        return kept, new_fps
    next_seen = (
        new_fps if seen_fps is None else seen_fps.unionByName(new_fps)
    )
    return kept, next_seen
