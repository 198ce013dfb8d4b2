"""Extension-operator tests (E1-E5): dedup, similarity, text, multimodal."""

import math
import os
import re

import pytest
from pyspark.sql import functions as F

from entity_etl_spark.ext.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_near_dups,
    shingles,
    simhash_near_dups,
)
from entity_etl_spark.ext.multimodal import attach_binary, extract_features
from entity_etl_spark.ext.similarity import cosine, lsh_topk, topk_brute_force
from entity_etl_spark.ext.text import lang_id, quality_features, token_count

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
    (3, "completely different content about spark query engines and shuffles"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(spark, docs):
    out = exact_dedup(docs, ["text"], "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 3]


def test_shingles(spark, docs):
    row = docs.filter("doc_id = 1").select(shingles("text", 3).alias("s")).first()
    assert "the quick brown" in row["s"]
    assert all(len(s.split(" ")) == 3 for s in row["s"])


def test_shingles_short_text_empty(spark):
    df = spark.createDataFrame([(1, "two words")], ["doc_id", "text"])
    assert df.select(shingles("text", 3).alias("s")).first()["s"] == []


def spark_semantics_shingles(text, k):
    """Plain-Python transcription of ``shingles()``: Spark's ``trim``
    strips spaces only, then ``lower``, then a split on Java's ``\\s+``
    that keeps empty tokens (leading, trailing), then distinct k-joins in
    first-occurrence order; null and short texts give []."""
    if text is None:
        return []
    toks = re.split(r"[ \t\n\x0b\f\r]+", text.strip(" ").lower())
    joined = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    return list(dict.fromkeys(joined))


SHINGLE_EDGE_TEXTS = [
    None,
    "",
    "one",
    "two words",
    "four words right here",
    "five tokens make a doc",
    "   leading spaces then words",
    "trailing spaces after words   ",
    "inner   space    runs  between words",
    "\ttab led text with words",
    "words then a tab\tand\nnewline\n",
    "Mixed CASE Words mixed case words",
    "a b a b a b a b c a b",
]


def test_shingles_match_plain_python_semantics(spark):
    """Ordered arrays, not sets: the kernel's rewrite must keep every
    token rule and the first-occurrence order of array_distinct."""
    df = spark.createDataFrame(list(enumerate(SHINGLE_EDGE_TEXTS)), "i int, text string")
    for k in (1, 2, 3, 5):
        got = {
            r["i"]: r["s"]
            for r in df.select("i", shingles("text", k).alias("s")).collect()
        }
        for i, text in enumerate(SHINGLE_EDGE_TEXTS):
            assert got[i] == spark_semantics_shingles(text, k), (k, text)


def test_jaccard_pairs_finds_near_and_exact_dups(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()}
    assert pairs[(1, 4)] == 1.0           # exact dup
    assert 0.5 <= pairs[(1, 2)] < 1.0     # near dup
    assert (1, 3) not in pairs            # unrelated


def test_minhash_lsh_agrees_with_exact(spark, docs):
    got = {(r["doc_a"], r["doc_b"]) for r in
           minhash_near_dups(docs, "doc_id", "text", verify_threshold=0.5).collect()}
    assert (1, 4) in got
    assert (1, 2) in got
    assert (1, 3) not in got


def test_simhash_near_dups(spark, docs):
    got = {(r["doc_a"], r["doc_b"]) for r in
           simhash_near_dups(docs, "doc_id", "text", max_hamming=3).collect()}
    assert (1, 4) in got        # identical text -> hamming 0
    assert (1, 3) not in got


def test_cosine_column(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])], ["a", "b"]
    )
    vals = [r["c"] for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert vals[0] == pytest.approx(1.0)
    assert vals[1] == pytest.approx(0.0)


@pytest.fixture()
def vectors(spark):
    rows = []
    for i in range(20):
        angle = i * math.pi / 40
        rows.append((i, [math.cos(angle), math.sin(angle)], 0))
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_topk_brute_force(spark, vectors):
    out = topk_brute_force(vectors, vectors.filter("vec_id = 0"), k=3).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rnk"])] == [1, 2, 3]
    assert all(r["query_id"] == 0 for r in out)


def test_lsh_topk_subset_of_bucket(spark, vectors):
    out = lsh_topk(vectors, vectors.filter("vec_id = 0"), k=3, dim=2, n_planes=2)
    rows = out.collect()
    # approximate: every returned neighbor must be a real vector, ranked
    assert all(1 <= r["rnk"] <= 3 for r in rows)
    assert all(0 <= r["neighbor_id"] < 20 for r in rows)


def test_token_count_and_lang(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of the house"),
         (2, "el gato que la casa el perro que")],
        ["doc_id", "text"],
    )
    toks = {r["doc_id"]: r["n"] for r in
            df.select("doc_id", token_count("text").alias("n")).collect()}
    assert toks == {1: 8, 2: 8}
    langs = {r["doc_id"]: r["lang"] for r in
             df.select("doc_id", lang_id("text").alias("lang")).collect()}
    assert langs[1] == "en"
    assert langs[2] == "es"


def test_quality_features(spark):
    df = spark.createDataFrame([(1, "the cat sat on the mat")], ["doc_id", "text"])
    row = quality_features(df, "text").first()
    assert row["n_tokens"] == 6
    assert row["n_chars_calc"] == 22
    assert 0.0 <= row["quality_score"] <= 1.0
    assert row["stopword_ratio"] == pytest.approx(2 / 6, abs=1e-4)


def test_multimodal_plumbing(spark, docs):
    enriched = attach_binary(docs, "text")
    meta = enriched.select("doc_id", "media_meta.n_bytes").collect()
    assert all(r["n_bytes"] > 0 for r in meta)
    feats = extract_features(enriched, "doc_id", "media", mode="fake").collect()
    assert len(feats) == 4
    assert all(r["feat_dim"] == 64 and r["n_bytes"] > 0 for r in feats)
    # identical texts -> identical fake features (deterministic decode)
    by_id = {r["doc_id"]: r["feat_mean"] for r in feats}
    assert by_id[1] == by_id[4]


def test_multimodal_error_mode_raises(spark, docs):
    import py4j.protocol

    enriched = attach_binary(docs, "text")
    with pytest.raises(Exception):
        extract_features(enriched, "doc_id", "media", mode="error").collect()


def test_drop_near_dups_keeps_min_id_representative(spark, docs):
    from entity_etl_spark.ext.dedup import drop_near_dups

    out = drop_near_dups(docs, "doc_id", "text")
    kept = sorted(r["doc_id"] for r in out.collect())
    # 1,2,4 are a near-dup group -> only min id 1 survives; 3 unrelated
    assert kept == [1, 3]


def test_connected_components_chain_and_island(spark):
    from entity_etl_spark.ext.graph import connected_components

    # chain 1-2-3 (1~3 never directly paired) + island 7-8
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], ["doc_a", "doc_b"]
    )
    got = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_near_dup_groups_transitive(spark, docs):
    from entity_etl_spark.ext.dedup import jaccard_pairs
    from entity_etl_spark.ext.graph import near_dup_groups

    pairs = jaccard_pairs(docs, "doc_id", "text", 3, 0.5)
    groups = {r["doc"]: r["group_rep"] for r in near_dup_groups(pairs).collect()}
    # 1,2,4 form one near-dup component labeled by min id 1
    assert groups[1] == 1 and groups[2] == 1 and groups[4] == 1
    assert 3 not in groups  # never in any pair


def test_topk_partition_heap_matches_brute_force(spark, vectors):
    from entity_etl_spark.ext.similarity import topk_brute_force, topk_partition_heap

    q = vectors.filter("vec_id IN (0, 10)")
    exact = {(r["query_id"], r["rnk"]): r["neighbor_id"]
             for r in topk_brute_force(vectors, q, k=3).collect()}
    heap = {(r["query_id"], r["rnk"]): r["neighbor_id"]
            for r in topk_partition_heap(vectors.repartition(4), q, k=3).collect()}
    assert heap == exact


def test_topk_auto_dispatch(spark, vectors):
    from entity_etl_spark.ext.similarity import topk, topk_brute_force

    q = vectors.filter("vec_id IN (0, 10)")
    exact = {(r["query_id"], r["rnk"]): r["neighbor_id"]
             for r in topk_brute_force(vectors, q, k=3).collect()}
    # force each strategy through the dispatcher + auto at both thresholds
    for kwargs in ({"strategy": "brute"}, {"strategy": "heap"},
                   {"strategy": "auto", "heap_threshold": 1},
                   {"strategy": "auto", "heap_threshold": 10**9}):
        got = {(r["query_id"], r["rnk"]): r["neighbor_id"]
               for r in topk(vectors, q, k=3, **kwargs).collect()}
        assert got == exact, kwargs


def test_ivf_topk_high_recall_on_clustered_data(spark):
    import math

    from entity_etl_spark.ext.ivf import ivf_topk, train_centroids
    from entity_etl_spark.ext.similarity import topk_brute_force

    # two tight clusters on the unit circle -> k-means separates them and
    # probing 1 cell of 2 already finds every true neighbor
    rows = []
    for i in range(30):
        base = 0.0 if i < 15 else math.pi
        a = base + (i % 15) * 0.01
        rows.append((i, [math.cos(a), math.sin(a)], 0))
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = vecs.filter("vec_id IN (0, 20)")

    exact = {(r["query_id"], r["neighbor_id"]) for r in
             topk_brute_force(vecs, q, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in
              ivf_topk(vecs, q, k=3, n_centroids=2, n_probe=1).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall == 1.0


def test_ivf_sampled_training_keeps_recall(spark):
    """sample_fraction trains Lloyd on a hash-sample only (the 100 TB
    shape: sample for training, full corpus for assignment) — on
    well-separated clusters the recall gate must hold unchanged."""
    import math

    from entity_etl_spark.ext.ivf import ivf_topk
    from entity_etl_spark.ext.similarity import topk_brute_force

    rows = []
    for i in range(60):
        base = 0.0 if i < 30 else math.pi
        a = base + (i % 30) * 0.01
        rows.append((i, [math.cos(a), math.sin(a)], 0))
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = vecs.filter("vec_id IN (0, 40)")

    exact = {(r["query_id"], r["neighbor_id"]) for r in
             topk_brute_force(vecs, q, k=3).collect()}
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(
            vecs, q, k=3, n_centroids=2, n_probe=1, sample_fraction=0.5
        ).collect()
    }
    assert len(exact & approx) / len(exact) == 1.0


def test_pq_sampled_training_keeps_recall(spark):
    """PQ codebooks trained on a hash-sample must still pass the
    reranked recall gate (encoding always runs full-corpus)."""
    import math

    from entity_etl_spark.ext.pq import (
        encode_pq,
        pq_topk_reranked,
        train_pq_codebooks,
    )
    from entity_etl_spark.ext.similarity import topk_brute_force

    rows = []
    for i in range(60):
        base = 0.0 if i < 30 else math.pi / 2
        a = base + (i % 30) * 0.01
        rows.append(
            (i, [math.cos(a), math.sin(a), math.cos(2 * a), math.sin(2 * a)])
        )
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = vecs.filter("vec_id IN (0, 40)")
    books = train_pq_codebooks(
        vecs, m=2, k=8, iterations=2, sample_fraction=0.5
    )
    codes = encode_pq(vecs, books)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             topk_brute_force(vecs, q, k=3).collect()}
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk_reranked(
            vecs, codes, q, books, k=3, shortlist=10
        ).collect()
    }
    assert len(exact & approx) / len(exact) >= 2 / 3


def test_ivf_centroids_deterministic(spark):
    import numpy as np

    from entity_etl_spark.ext.ivf import train_centroids

    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3)], 0) for i in range(20)],
        ["vec_id", "embedding", "label"],
    )
    c1 = train_centroids(vecs, n_centroids=3, iterations=1)
    c2 = train_centroids(vecs, n_centroids=3, iterations=1)
    assert np.array_equal(c1, c2)


def test_lsh_multiprobe_recall_not_worse(spark, vectors):
    from entity_etl_spark.ext.similarity import lsh_topk, topk_brute_force

    q = vectors.filter("vec_id IN (0, 10)")
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             topk_brute_force(vectors, q, k=3).collect()}

    def recall(n_probe):
        got = {(r["query_id"], r["neighbor_id"]) for r in
               lsh_topk(vectors, q, k=3, dim=2, n_planes=2, n_probe=n_probe).collect()}
        return len(exact & got) / len(exact)

    assert recall(3) >= recall(1)  # probing more buckets never loses recall


def test_hash_sample_deterministic_and_stable_under_repartition(spark):
    from entity_etl_spark.ext.sampling import hash_sample

    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    a = sorted(r["doc_id"] for r in hash_sample(df, "doc_id", 0.3).collect())
    b = sorted(
        r["doc_id"]
        for r in hash_sample(df.repartition(7), "doc_id", 0.3).collect()
    )
    assert a == b                      # layout-independent
    assert 0.25 < len(a) / 2000 < 0.35  # ~fraction


def test_train_val_test_split_stable_under_growth(spark):
    from entity_etl_spark.ext.sampling import train_val_test_split

    small = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    big = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    s_small = {r["doc_id"]: r["split"]
               for r in train_val_test_split(small, "doc_id").collect()}
    s_big = {r["doc_id"]: r["split"]
             for r in train_val_test_split(big, "doc_id").collect()}
    # growing the corpus never reassigns existing rows
    assert all(s_big[k] == v for k, v in s_small.items())
    assert set(s_big.values()) == {"train", "val", "test"}


def test_chunking_udtf_equals_builtin(spark):
    from entity_etl_spark.ext.chunking import chunk_documents, chunk_documents_builtin

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(250))),  # 4 chunks (stride 80)
            (2, "a b c"),                                 # 1 short chunk
            (3, ""),                                      # no chunks
            (4, None),                                    # no chunks
        ],
        ["doc_id", "text"],
    )
    kw = dict(size=100, stride=80)
    a = sorted(
        (r.doc_id, r.chunk_id, r.chunk, r.n_words)
        for r in chunk_documents(docs, **kw).collect()
    )
    b = sorted(
        (r.doc_id, r.chunk_id, r.chunk, r.n_words)
        for r in chunk_documents_builtin(docs, **kw).collect()
    )
    assert a == b
    assert [x[:2] for x in a] == [(1, 0), (1, 1), (1, 2), (1, 3), (2, 0)]
    # overlap: chunk 1 starts at word 80
    assert a[1][2].startswith("w80 ")
    assert a[4][3] == 3  # short doc: one 3-word chunk


def test_lsh_margin_probe_beats_or_ties_fixed(spark):
    """Margin-aware probing (flip least-confident planes) must never lose
    to fixed-position probing at the same probe budget, and must agree with
    single-probe when n_probe=1."""
    from entity_etl_spark.ext.similarity import lsh_topk, topk_brute_force

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 8")
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             topk_brute_force(emb, q, k=3).collect()}

    def recall(probe, n_probe):
        got = {(r["query_id"], r["neighbor_id"]) for r in
               lsh_topk(emb, q, k=3, dim=64, n_planes=6,
                        n_probe=n_probe, probe=probe).collect()}
        return len(exact & got) / len(exact)

    assert recall("margin", 1) == recall("fixed", 1)  # same base bucket
    r_margin, r_fixed = recall("margin", 3), recall("fixed", 3)
    assert r_margin >= r_fixed
    assert r_margin >= recall("margin", 1)


# --------------------------------------------------- prefix filter (r6)
def test_prefix_filter_pairs_equals_exact_join(spark, docs):
    from entity_etl_spark.ext.dedup import prefix_filter_pairs

    for t in (0.5, 0.7):
        exact = {tuple(r) for r in
                 jaccard_pairs(docs, "doc_id", "text", 3, t).collect()}
        pf = {tuple(r) for r in
              prefix_filter_pairs(docs, "doc_id", "text", 3, t).collect()}
        assert pf == exact


def test_prefix_filter_pairs_near_threshold_recall(spark):
    # pairs sitting EXACTLY on the threshold boundary — the regime where
    # LSH misses (r5 sf1 finding) and where prefix-length / length-filter
    # float slop would bite. With k=1 token shingles:
    #   J(1,2) = |{a,b}| / |{a,b,c,d}|     = 2/4 = 0.5 exactly, and the
    #     pair also sits ON the length-filter boundary (min=2 == t*max);
    #   J(3,4) = |{a,c}| / |{a,c,e,f}|     = 2/4 = 0.5 exactly at equal
    #     sizes (prefix length n - ceil(t*n) + 1 = 2 of 3: t*n landing
    #     between integers).
    df = spark.createDataFrame(
        [
            (1, "a b c d"),  # shingle-1 set {a,b,c,d} (k=1 tokens)
            (2, "a b"),
            (3, "a c e"),
            (4, "a c f"),
            (5, "x y z w"),
        ],
        ["doc_id", "text"],
    )
    from entity_etl_spark.ext.dedup import prefix_filter_pairs

    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             jaccard_pairs(df, "doc_id", "text", 1, 0.5).collect()}
    pf = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
          prefix_filter_pairs(df, "doc_id", "text", 1, 0.5).collect()}
    # the exactly-at-threshold pairs MUST be found by both paths: a
    # regression in the ceil/eps prefix or length math shows up here
    assert exact == pf
    assert pf[(1, 2)] == 0.5 and pf[(3, 4)] == 0.5


def test_prefix_filter_pairs_sf_corpus_equality(spark):
    from entity_etl_spark.ext.dedup import prefix_filter_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {tuple(r) for r in
             jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()}
    pf = {tuple(r) for r in
          prefix_filter_pairs(docs, "doc_id", "text", 3, 0.5).collect()}
    assert pf == exact and len(exact) > 0


# ------------------------------------- exact incremental near-dup (r6)
def neardup_empty_state(spark):
    """The empty ``(doc_shingles, doc_sizes)`` frames of a first increment
    (long doc ids)."""
    from pyspark.sql import types as T

    from entity_etl_spark.ext.dedup import neardup_state_schemas

    return tuple(
        spark.createDataFrame([], schema)
        for schema in neardup_state_schemas(T.LongType())
    )


def py_shingles(text, k=3):
    """Distinct k-word shingles, computed in plain Python (the reference
    for the operator's deltas)."""
    toks = text.lower().split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def kept_ids(kept):
    return sorted(r["doc_id"] for r in kept.collect())


def landed_batch(spark, path, rows, schema=("doc_id", "text")):
    """``rows`` as the streaming runner hands a landed one-file micro-batch
    to the operator: one parquet file, read back pinned, so one partition
    whose size the planner knows."""
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    return spark.read.parquet(path).localCheckpoint()


def neardup_increment(spark, state_dir, key, rows, landed=False):
    """One increment through the state on disk: load every committed key
    but ``key``, run the operator on ``rows`` (an in-memory frame, or
    with ``landed`` a :func:`landed_batch`), commit its deltas as
    ``key``. Returns (kept ids, shingle delta rows, size delta rows)."""
    from pyspark.sql import types as T

    from entity_etl_spark.ext.dedup import (
        append_neardup_state,
        exact_neardup_dedup_incremental,
        load_neardup_state,
    )

    shingles, sizes = load_neardup_state(
        spark, state_dir, T.LongType(), exclude=key
    )
    batch = (
        landed_batch(spark, f"{state_dir}-{key}", rows)
        if landed
        else spark.createDataFrame(rows, ["doc_id", "text"])
    )
    kept, sh_delta, n_delta = exact_neardup_dedup_incremental(
        batch, shingles, sizes
    )
    out = (
        kept_ids(kept),
        sorted(tuple(r) for r in sh_delta.collect()),
        sorted(tuple(r) for r in n_delta.collect()),
    )
    append_neardup_state(state_dir, sh_delta, n_delta, key)
    return out


def loaded_state(spark, state_dir):
    """The loaded ``(shingle rows, size rows)``, checked duplicate-free."""
    from pyspark.sql import types as T

    from entity_etl_spark.ext.dedup import load_neardup_state

    shingles, sizes = load_neardup_state(spark, state_dir, T.LongType())
    sh_rows = sorted(tuple(r) for r in shingles.collect())
    n_rows = sorted(tuple(r) for r in sizes.collect())
    assert len(set(sh_rows)) == len(sh_rows)
    assert len({d for d, _ in n_rows}) == len(n_rows)
    return sh_rows, n_rows


def crash_after_dirs(mp, n):
    """Make the ``n``-th state dir write from here on raise once its dir
    has landed (a crash between, or after, an append's two tables)."""
    from entity_etl_spark.ext import dedup

    write, done = dedup._write_neardup_dir, []

    def crashing(*args, **kwargs):
        write(*args, **kwargs)
        done.append(args[2])
        if len(done) == n:
            raise RuntimeError(f"crash after {done}")

    mp.setattr(dedup, "_write_neardup_dir", crashing)


def test_exact_neardup_incremental_policy_and_state(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    corpus = [(1, "the quick brown fox jumps over the lazy dog near the bank")]
    neardup_increment(spark, state_dir, "q-0", corpus)
    batch = [
        # near-dup of corpus doc 1 -> dropped
        (10, "the quick brown fox jumps over the lazy dog near the bend"),
        # novel -> kept
        (11, "completely different content about spark query engines ok"),
        # in-batch near-dup of 11 (smaller id wins) -> dropped
        (12, "completely different content about spark query engines no"),
    ]
    kept, sh_delta, n_delta = neardup_increment(spark, state_dir, "q-1", batch)
    assert kept == [11]
    # the deltas are the survivors' rows only
    assert {d for d, _ in sh_delta} == {11}
    assert n_delta == [(11, 6)]

    # increment 1 replayed at least once: the replay loads the state
    # without its own first attempt and replaces that attempt's dirs, so
    # the state keeps one copy of every row (duplicated shingles would
    # corrupt the intersection math of increment 2)
    assert neardup_increment(spark, state_dir, "q-1", batch) == (
        kept, sh_delta, n_delta
    )
    _, sizes = loaded_state(spark, state_dir)
    assert sizes == [(1, 10), (11, 6)]
    batch2 = [
        # near-dup of KEPT doc 11 -> dropped via state, not bodies
        (20, "completely different content about spark query engines yes"),
        (21, "a wholly novel sentence with nothing shared at all here"),
    ]
    kept2, sh_delta2, n_delta2 = neardup_increment(
        spark, state_dir, "q-2", batch2
    )
    assert kept2 == [21]
    assert {d for d, _ in sh_delta2} == {21}
    assert n_delta2 == [(21, 8)]


def test_exact_neardup_incremental_matches_batch_policy_on_sf(spark):
    """Chained increments over the sf0.001 corpus reproduce the batch
    keep-min-id policy (the contract the streaming prep query's oracle
    unrolls). NOTE the two policies coincide only when dropped docs don't
    chain (incremental dedups later batches against KEPT docs only; batch
    mode drops the greater side of every pair) — true on this corpus's
    planted-dup structure, which is what this regression pins."""
    from entity_etl_spark.ext.dedup import (
        drop_near_dups,
        exact_neardup_dedup_incremental,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    shingles, sizes = neardup_empty_state(spark)
    kept_all = []
    for b in range(3):
        batch = docs.filter(
            (F.col("doc_id") * 3 / n >= b) & (F.col("doc_id") * 3 / n < b + 1)
        ).select("doc_id", "text")
        kept, sh_delta, n_delta = exact_neardup_dedup_incremental(
            batch, shingles, sizes
        )
        kept_all += [r["doc_id"] for r in kept.collect()]
        shingles = shingles.unionByName(sh_delta)
        sizes = sizes.unionByName(n_delta)
    batch_kept = [
        r["doc_id"]
        for r in drop_near_dups(docs, "doc_id", "text").select("doc_id").collect()
    ]
    assert sorted(kept_all) == sorted(batch_kept)


def test_drop_near_dups_methods_agree(spark, docs):
    from entity_etl_spark.ext.dedup import drop_near_dups

    base = sorted(
        r["doc_id"]
        for r in drop_near_dups(docs, "doc_id", "text").collect()
    )
    for m in ("prefix", "minhash"):
        got = sorted(
            r["doc_id"]
            for r in drop_near_dups(docs, "doc_id", "text", method=m).collect()
        )
        assert got == base, m


# ------------------------------------------------- random projection (r6)
def test_random_projection_matrix_deterministic_and_balanced():
    from entity_etl_spark.ext.projection import signed_projection_matrix

    m1 = signed_projection_matrix(7, 16, 64)
    m2 = signed_projection_matrix(7, 16, 64)
    assert m1 == m2
    assert signed_projection_matrix(8, 16, 64) != m1  # seed matters
    flat = [v for row in m1 for v in row]
    assert set(flat) == {1, -1}
    # md5 bits are balanced: the +1 fraction should be near 1/2
    assert 0.4 < flat.count(1) / len(flat) < 0.6


def test_random_projection_preserves_distances(spark):
    # JL contract: squared pairwise distances preserved in expectation.
    # 10 deterministic 64-dim vectors; after projecting to 16 dims the
    # distance RATIO distribution must center near 1 (tolerances wide:
    # variance is O(1/out_dim) per pair).
    import math
    import random

    from entity_etl_spark.ext.projection import random_project

    rng = random.Random(13)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(10)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    proj = {
        (r["vec_id"], r["dim"]): r["value"]
        for r in random_project(
            df, "vec_id", "embedding", in_dim=64, out_dim=16, seed=7
        ).collect()
    }
    assert len(proj) == 160
    ratios = []
    for a in range(10):
        for b in range(a + 1, 10):
            d_orig = math.dist(vecs[a][1], vecs[b][1])
            d_proj = math.dist(
                [proj[(a, j)] for j in range(16)],
                [proj[(b, j)] for j in range(16)],
            )
            ratios.append((d_proj / d_orig) ** 2)
    mean = sum(ratios) / len(ratios)
    assert 0.7 < mean < 1.3
    assert all(0.2 < r < 2.5 for r in ratios)


def test_random_projection_rejects_non_power_of_two_scale(spark):
    import pytest as _pytest

    from entity_etl_spark.ext.projection import random_project

    df = spark.createDataFrame([(1, [0.0] * 64)], ["vec_id", "embedding"])
    with _pytest.raises(ValueError):
        random_project(df, out_dim=9)


def test_rp_lsh_topk_recalls_clustered_neighbors(spark):
    # SRP-LSH earns its keep on CLUSTERED data (tight angular clusters
    # agree on every sign bit; near-uniform corpora are the documented
    # weak regime — the registry's distance-preservation query is the
    # JL contract, not ANN). 3 tight clusters of 30 vectors: each
    # query's true top-5 live in its own cluster, which shares the
    # exact bucket, so recall should be ~1.
    import random

    from entity_etl_spark.ext.projection import rp_lsh_topk
    from entity_etl_spark.ext.similarity import topk_brute_force

    rng = random.Random(5)
    centers = [
        [10.0 if d % 3 == c else 0.1 for d in range(64)] for c in range(3)
    ]
    rows = []
    for i in range(90):
        c = centers[i % 3]
        rows.append((i, [v + rng.uniform(-0.05, 0.05) for v in c]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 3)  # one query per cluster
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             topk_brute_force(emb, q, "vec_id", "embedding", k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in
              rp_lsh_topk(emb, q, "vec_id", "embedding", k=5).collect()}
    assert len(exact & approx) / len(exact) >= 0.8


def test_rp_distance_preservation_jl_bound(spark):
    # the aggregate JL statement over the registry query's own output:
    # mean squared-distance ratio ~ 1, spread bounded (var ~ 2/out_dim)
    from entity_etl_spark.queries import REGISTRY

    rows = REGISTRY["embedding_rp_distance_preservation"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    ratios = [r["d2_ratio"] for r in rows]
    assert len(ratios) > 1000
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15
    # individual pairs stay within loose multiplicative JL bounds
    assert sum(1 for r in ratios if 0.3 < r < 2.2) / len(ratios) > 0.98


def test_exact_neardup_incremental_replayed_batch_docs_in_state(spark):
    # Source-level redelivery: doc 5 was appended to the shingle state by
    # increment 1, and increment 2's batch REDELIVERS doc 5 alongside the
    # genuinely-new doc 6. Without excluding the state copy of batch
    # docs, doc 5's shingles appear twice in all_sh while doc 6's appear
    # once — the ASYMMETRIC doubling that corrupts the pair: with
    # na=nb=6 and i=3 shared shingles, J(5,6) = 3/9 = 0.333 (keep 6)
    # but the corrupted count reads 2i/(2na+nb-2i) = 6/12 = 0.5 (wrong
    # drop). A symmetric replay (both docs doubled) cancels out, which
    # is why this fixture pins the asymmetric case.
    from entity_etl_spark.ext.dedup import exact_neardup_dedup_incremental

    doc5 = (5, "a b c d e f g h")       # shingles: abc bcd cde def efg fgh
    doc6 = (6, "d e f g h p q r")       # shares exactly {def, efg, fgh}
    inc1 = spark.createDataFrame([doc5], ["doc_id", "text"])
    kept1, shingles, sizes = exact_neardup_dedup_incremental(
        inc1, *neardup_empty_state(spark)
    )
    assert kept_ids(kept1) == [5]

    inc2 = spark.createDataFrame([doc5, doc6], ["doc_id", "text"])
    kept2, _, _ = exact_neardup_dedup_incremental(inc2, shingles, sizes)
    # doc 6 is NOT a near-dup of doc 5 (J = 0.333 < 0.5): it must be
    # kept, redelivery of doc 5 notwithstanding
    assert kept_ids(kept2) == [5, 6]


NEARDUP_CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog near the bank"),
    (2, "completely different content about spark query engines ok"),
]
NEARDUP_BATCH = [
    # near-dup of corpus doc 1 -> drops
    (10, "the quick brown fox jumps over the lazy dog near the bend"),
    # near-dup of corpus doc 2 -> drops
    (11, "completely different content about spark query engines no"),
    (12, "a wholly novel sentence with nothing shared at all here"),
]


def test_exact_neardup_incremental_two_table_state(spark, tmp_path):
    """Replay cases of the state on disk, against fixed expected kept sets
    and deltas: the corpus increment crashes after its first table's dir,
    after both, or first one and then the other, before the replay that
    completes it; then a batch redelivers doc 2, which the corpus
    increment stored."""
    # 5 and 13 share 3 of their 6 shingles: J = 3/9, kept — but 6/6 once
    # 5's shingles count twice
    doc5, doc13 = (5, "a b c d e f g h"), (13, "d e f g h p q r")
    corpus = NEARDUP_CORPUS + [doc5]
    texts = dict(corpus + NEARDUP_BATCH + [doc13])
    batch = [NEARDUP_CORPUS[1]] + NEARDUP_BATCH + [doc13]
    for crashes in ((1,), (2,), (1, 2)):
        state_dir = str(tmp_path / "-".join(map(str, crashes)))
        for n in crashes:
            with pytest.MonkeyPatch.context() as mp:
                crash_after_dirs(mp, n)
                with pytest.raises(RuntimeError, match="crash after"):
                    neardup_increment(spark, state_dir, "q-0", corpus)
        neardup_increment(spark, state_dir, "q-0", corpus)
        kept, sh_delta, n_delta = neardup_increment(
            spark, state_dir, "q-1", batch
        )
        # 2 is re-evaluated as a batch doc (kept: nothing older matches
        # it); 11 is now its smaller-id batch sibling's near-dup
        assert kept == [2, 12, 13], crashes
        # 2 is already stored: emitted again, but it adds no state rows
        assert sh_delta == sorted(
            (d, sh) for d in (12, 13) for sh in py_shingles(texts[d])
        ), crashes
        assert n_delta == [(12, 8), (13, 6)], crashes
        _, sizes = loaded_state(spark, state_dir)
        assert sizes == [(1, 10), (2, 6), (5, 6), (12, 8), (13, 6)], crashes


LEGACY = "doc long, sh string"
SINGLE_TABLE = "doc long, sh string, n int"


def write_old_layout(spark, state_dir, parts):
    """Write a pre-two-table ``doc_shingles`` table: each part is one
    append of ``(rows, schema)``, in order."""
    from entity_etl_spark.state import append_state

    for rows, schema in parts:
        append_state(
            spark.createDataFrame(rows, schema), state_dir, "doc_shingles"
        )


def shingle_rows(docs):
    return [(d, sh) for d, text in docs for sh in sorted(py_shingles(text))]


def migrate_and_dedup(spark, state_dir, batch_rows):
    """Loading the old layout raises the error naming the migration; after
    it, the op runs on the migrated state. Returns (kept ids, sizes)."""
    from pyspark.sql import types as T

    from entity_etl_spark.ext.dedup import (
        exact_neardup_dedup_incremental,
        load_neardup_state,
        migrate_neardup_state,
    )

    with pytest.raises(ValueError, match=r"migrate_neardup_state\(spark, state_dir\)"):
        load_neardup_state(spark, state_dir, T.LongType())
    migrate_neardup_state(spark, state_dir)
    shingles, sizes = load_neardup_state(spark, state_dir, T.LongType())
    kept, _, _ = exact_neardup_dedup_incremental(
        spark.createDataFrame(batch_rows, ["doc_id", "text"]), shingles, sizes
    )
    return kept_ids(kept), sorted(tuple(r) for r in sizes.collect())


def test_exact_neardup_incremental_mixed_schema_state_dir(spark, tmp_path):
    """Every pre-two-table layout refuses to load, then migrates to sizes
    recounted over the deduplicated (doc, sh) rows: the single-table
    (doc, sh, n) layout; the legacy (doc, sh) layout with
    replay-duplicated rows (a count over the raw rows would double n and
    wrongly keep near-dups); and a mixed dir, legacy files for doc 1
    with (doc, sh, n) appends for doc 2 (it loaded with n NULL on doc
    1's rows, whose NULL Jaccard silently KEPT every near-dup of doc
    1)."""
    rows = shingle_rows(NEARDUP_CORPUS)
    n = {d: len(py_shingles(t)) for d, t in NEARDUP_CORPUS}
    wide = [(d, sh, n[d]) for d, sh in rows]
    layouts = {
        "single_table": [(wide, SINGLE_TABLE)],
        "legacy_replayed": [(rows, LEGACY), (rows, LEGACY)],
        "mixed": [
            ([r for r in rows if r[0] == 1], LEGACY),
            ([r for r in wide if r[0] == 2], SINGLE_TABLE),
        ],
    }
    for layout, parts in layouts.items():
        state_dir = str(tmp_path / layout)
        write_old_layout(spark, state_dir, parts)
        kept, sizes = migrate_and_dedup(spark, state_dir, NEARDUP_BATCH)
        assert kept == [12], layout
        assert sizes == [(1, 10), (2, 6)], layout


def test_exact_neardup_incremental_heterogeneous_mixed_doc(spark, tmp_path):
    """A doc with state rows in BOTH old layouts (a batch replayed across
    the layout upgrade): counting only its legacy rows understates n and
    OVERSTATES Jaccard (the r11 repair's blind spot) — the migration
    must count ALL of the doc's deduplicated rows."""
    doc5 = (5, "a b c d e f g h")  # 6 distinct shingles
    rows = shingle_rows([doc5])
    shared = {"d e f", "e f g", "f g h"}
    # the 3 SHARED shingles in a legacy file, all 6 rows in a (doc, sh,
    # n) append: a legacy-subset recount reads n=3, and J(5, 6) =
    # 3/(3 + 6 - 3) = 0.5, the wrong drop (doc 6's true J is 3/9)
    parts = [
        ([r for r in rows if r[1] in shared], LEGACY),
        ([(d, sh, 6) for d, sh in rows], SINGLE_TABLE),
    ]
    state_dir = str(tmp_path / "state")
    write_old_layout(spark, state_dir, parts)
    kept, sizes = migrate_and_dedup(spark, state_dir, [(6, "d e f g h p q r")])
    assert kept == [6]
    assert sizes == [(5, 6)]


def test_streaming_neardup_prep_refuses_old_layout(spark, tmp_path):
    """The streaming runner checks the layout before its stream starts."""
    from entity_etl_spark.ext.prep import run_streaming_neardup_prep

    state_dir = str(tmp_path / "state")
    write_old_layout(spark, state_dir, [(shingle_rows(NEARDUP_CORPUS), LEGACY)])
    (tmp_path / "src").mkdir()
    stream = spark.readStream.schema(
        "doc_id long, text string, source string"
    ).parquet(str(tmp_path / "src"))
    with pytest.raises(ValueError, match="migrate_neardup_state"):
        run_streaming_neardup_prep(
            spark, stream, str(tmp_path / "out"), state_dir, str(tmp_path / "ckpt")
        )
    assert not (tmp_path / "ckpt").exists()


def test_neardup_state_loads_only_committed_keys(spark, tmp_path, monkeypatch):
    """A key is committed once both tables hold its dir: a crash between
    the two leaves a key that does not load, and no ``_tmp-`` dir is
    ever read."""
    from entity_etl_spark import state as state_mod

    state_dir = str(tmp_path / "state")
    neardup_increment(spark, state_dir, "q-0", NEARDUP_CORPUS[:1])
    crash_after_dirs(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="crash after"):
        neardup_increment(spark, state_dir, "q-1", NEARDUP_CORPUS[1:])
    sh_dir = state_mod.state_path(state_dir, "doc_shingles")
    n_dir = state_mod.state_path(state_dir, "doc_sizes")
    assert sorted(os.listdir(sh_dir)) == ["q-0", "q-1"]
    assert sorted(os.listdir(n_dir)) == ["q-0"]
    shingles, sizes = loaded_state(spark, state_dir)
    assert {d for d, _ in shingles} == {1} and sizes == [(1, 10)]


def test_exact_neardup_incremental_resent_doc_adds_no_state_rows(
    spark, tmp_path
):
    """A doc id an earlier increment stored, resent in a later batch, is
    judged and emitted again but enters the state only once."""
    state_dir = str(tmp_path / "state")
    doc5, doc6 = (5, "a b c d e f g h"), (6, "d e f g h p q r")
    neardup_increment(spark, state_dir, "q-0", [doc5])
    kept, sh_delta, n_delta = neardup_increment(
        spark, state_dir, "q-1", [doc5, doc6]
    )
    assert kept == [5, 6]
    assert {d for d, _ in sh_delta} == {6} and n_delta == [(6, 6)]
    shingles, sizes = loaded_state(spark, state_dir)
    assert sizes == [(5, 6), (6, 6)] and len(shingles) == 12


def test_exact_neardup_losers_plan_has_no_exchange_over_state(
    spark, tmp_path, monkeypatch
):
    """The dropped-docs frame of an increment over a state on disk: no
    shuffle Exchange sits above a state FileScan in the executed plan of
    the action that computes it (the collect on the one-partition plan,
    the pin on the several-split one) until the candidate join has cut
    the state rows down to the pairs they share with the batch, so a
    micro-batch moves nothing O(state). (A shuffle of the pairs, above
    that join, is batch-bounded.) Checked on the one-partition plan (a
    hash join of two one-partition sides) and on the several-split plan
    (tiny file splits; the batch is broadcast)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from entity_etl_spark.ext import dedup
    from tests.test_incremental_contract import session_conf

    plans, inside = [], []

    def recording(action):
        def run(self, *args, **kwargs):
            out = action(self, *args, **kwargs)
            if inside:
                plans.append(
                    self._jdf.queryExecution().executedPlan().toString()
                )
            return out

        return run

    operator = dedup.exact_neardup_dedup_incremental

    def traced(*args, **kwargs):
        inside.append(True)
        try:
            return operator(*args, **kwargs)
        finally:
            inside.clear()

    # the actions the operator itself runs
    monkeypatch.setattr(DataFrame, "collect", recording(DataFrame.collect))
    monkeypatch.setattr(
        DataFrame, "localCheckpoint", recording(DataFrame.localCheckpoint)
    )
    monkeypatch.setattr(dedup, "exact_neardup_dedup_incremental", traced)
    tiny_splits = {
        "spark.sql.files.maxPartitionBytes": 256,
        "spark.sql.files.openCostInBytes": 256,
    }
    for candidate, conf in (
        ("ShuffledHashJoin", {}), ("BroadcastHashJoin", tiny_splits)
    ):
        state_dir = str(tmp_path / candidate)
        neardup_increment(spark, state_dir, "q-0", NEARDUP_CORPUS)
        plans.clear()
        with session_conf(spark, conf):
            neardup_increment(
                spark, state_dir, "q-1", NEARDUP_BATCH, landed=True
            )
        # the batch is pinned: the only file scans are of the state
        state_plans = [
            p.split("== Initial Plan ==")[0] for p in plans if "FileScan" in p
        ]
        assert len(state_plans) == 1
        nodes = []  # (depth, operator) per plan line
        for ln in state_plans[0].splitlines():
            op = ln.lstrip(" :+-")
            nodes.append((len(ln) - len(op), re.sub(r"^\*\(\d+\) ", "", op)))
        assert any(
            op.startswith(candidate) and ", Inner," in op for _, op in nodes
        ), state_plans[0]
        scans = [
            i for i, (_, op) in enumerate(nodes) if op.startswith("FileScan")
        ]
        # the shingles, the sizes for na and the sizes for the stored docs
        assert len(scans) == 3
        for i in scans:
            depth, pairs_only = nodes[i][0], False
            for d, op in reversed(nodes[:i]):  # the scan's ancestors, upward
                if d >= depth:
                    continue
                depth = d
                if op.startswith(
                    ("BroadcastHashJoin", "ShuffledHashJoin")
                ) and ", Inner," in op:
                    pairs_only = True
                assert pairs_only or not op.startswith(
                    ("Exchange", "ShuffleQueryStage", "AQEShuffleRead")
                ), state_plans[0]


def test_exact_neardup_plans_give_the_same_answer(spark, tmp_path):
    """The same increments on the one-partition plan (the dropped ids
    collected) and on the several-split plan (tiny file splits; the
    dropped ids pinned and broadcast): the same kept ids, deltas and
    loaded state. A batch
    doc with a NULL id is kept, as the anti-join keeps it, and its rows
    enter the state."""
    from pyspark.sql import types as T

    from entity_etl_spark.ext import dedup
    from tests.test_incremental_contract import (
        SHUFFLE,
        executed_plans,
        session_conf,
    )

    doc5, doc13 = (5, "a b c d e f g h"), (13, "d e f g h p q r")
    increments = [
        NEARDUP_CORPUS + [doc5],
        # a stored doc resent, near-dups of corpus docs, a NULL id
        [NEARDUP_CORPUS[1]] + NEARDUP_BATCH + [doc13, (None, "x y z w v u")],
        # near-dups of kept batch docs 12 and 13
        [
            (20, "a wholly novel sentence with nothing shared at all there"),
            (21, "d e f g h p q s"),
            (22, "one more novel line of words that nothing else shares"),
        ],
    ]

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    def run(name):
        state_dir = str(tmp_path / name)
        out = []
        for b, batch_rows in enumerate(increments):
            shingles, sizes = dedup.load_neardup_state(
                spark, state_dir, T.LongType(), exclude=f"q-{b}"
            )
            batch = landed_batch(
                spark, f"{state_dir}-{b}", batch_rows, "doc_id long, text string"
            )
            (kept, sh_delta, n_delta), trees = executed_plans(
                spark,
                lambda: dedup.exact_neardup_dedup_incremental(
                    batch, shingles, sizes
                ),
            )
            out.append((rows(kept), rows(sh_delta), rows(n_delta)))
            dedup.append_neardup_state(state_dir, sh_delta, n_delta, f"q-{b}")
        loaded = dedup.load_neardup_state(spark, state_dir, T.LongType())
        return out, [rows(df) for df in loaded], trees

    one, one_state, one_trees = run("one")
    with session_conf(spark, {
        "spark.sql.files.maxPartitionBytes": 256,
        "spark.sql.files.openCostInBytes": 256,
    }):
        several, several_state, several_trees = run("several")
    # the last increment's plans: which plan each run took
    assert not any(SHUFFLE.search(t) for t in one_trees), one_trees
    assert any(SHUFFLE.search(t) for t in several_trees), several_trees
    # the several-split plan pins the dropped docs and the delta where the
    # one-partition plan collects the dropped ids
    assert len(several_trees) == len(one_trees) + 1, several_trees
    assert one == several
    assert one_state == several_state
    kept = [[r[0] for r in k] for k, _, _ in one]
    assert kept == [[1, 2, 5], [12, 13, 2, None], [22]]
    assert (None, 4) in one_state[1]


def _shuffle_write_bytes(spark, fn):
    """Shuffle bytes written by the jobs ``fn`` runs."""
    sc = spark.sparkContext._jsc.sc()
    j0 = sc.dagScheduler().numTotalJobs()
    fn()
    j1 = sc.dagScheduler().numTotalJobs()
    sc.listenerBus().waitUntilEmpty()
    store, stages = sc.statusStore(), set()
    for j in range(j0, j1):
        ids = store.job(j).stageIds()
        stages.update(ids.apply(i) for i in range(ids.size()))
    return sum(store.lastStageAttempt(s).shuffleWriteBytes() for s in stages)


def test_exact_neardup_increment_shuffle_is_independent_of_state_size(
    spark, tmp_path
):
    """The same increment writes the same shuffle bytes against a state of
    2 committed batches and of 20: the 18 extra batches share no shingle
    with it, so only an exchange over the state could tell them apart."""
    def filler(b):
        # fresh words in every doc: each is kept, sharing no shingle
        return [
            (1000 * b + i, " ".join(f"w{b}x{i}x{j}" for j in range(12)))
            for i in range(20)
        ]

    probe = NEARDUP_BATCH + [(13, "a b c d e f g h"), (14, "d e f g h p q r")]
    written = {}
    for size in (2, 20):
        state_dir = str(tmp_path / str(size))
        neardup_increment(spark, state_dir, "q-0", NEARDUP_CORPUS)
        for b in range(1, size):
            neardup_increment(spark, state_dir, f"q-{b}", filler(b))
        assert len(loaded_state(spark, state_dir)[1]) == 2 + 20 * (size - 1)
        written[size] = _shuffle_write_bytes(
            spark,
            lambda: neardup_increment(spark, state_dir, f"q-{size}", probe),
        )
    assert written[2] == written[20]


def test_neardup_state_merge_bounds_dirs_and_jobs(spark, tmp_path, monkeypatch):
    """70 committed increments: the size-tiered merge keeps each table at
    32 dirs or fewer, so a load never lists more paths than Spark lists
    without a job (loads run no job at all), and a non-merging commit
    costs its two writes at any state size. A crash between a merge's
    rename and its member deletion still loads duplicate-free."""
    from pyspark.sql import types as T

    from entity_etl_spark import state as state_mod
    from entity_etl_spark.ext import dedup

    sc = spark.sparkContext._jsc.sc()
    state_dir = str(tmp_path / "state")
    tables = [
        state_mod.state_path(state_dir, t) for t in ("doc_shingles", "doc_sizes")
    ]

    def commit(b):
        sh = spark.createDataFrame(
            [(b, f"s{b}"), (b, f"t{b}")], "doc long, sh string"
        )
        n = spark.createDataFrame([(b, 2)], "doc long, n int")
        j0 = sc.dagScheduler().numTotalJobs()
        dedup.append_neardup_state(state_dir, sh, n, f"q-{b}")
        return sc.dagScheduler().numTotalJobs() - j0

    jobs = []
    for b in range(70):
        jobs.append(commit(b))
        for t in tables:
            assert len(os.listdir(t)) <= 32, b
        j0 = sc.dagScheduler().numTotalJobs()
        dedup.load_neardup_state(spark, state_dir, T.LongType())
        assert sc.dagScheduler().numTotalJobs() == j0, b
    # two writes per commit and two per merge: no listing job ever
    assert set(jobs) <= {2, 4, 6, 8} and jobs[-1] == 2
    # 64 commits cascade to one tier-3 dir
    assert any(name.startswith("merge3-") for name in os.listdir(tables[0]))
    shingles, sizes = loaded_state(spark, state_dir)
    assert sizes == [(b, 2) for b in range(70)] and len(shingles) == 140

    # the next merge renames its dirs, then crashes before deleting members
    def crash(state_dir, names):
        raise RuntimeError("crash before the member deletion")

    monkeypatch.setattr(dedup, "_drop_neardup_dirs", crash)
    for b in range(70, 80):
        try:
            commit(b)
        except RuntimeError:
            break
    else:
        raise AssertionError("no merge ran")
    monkeypatch.undo()
    members = len(os.listdir(tables[0]))
    shingles, sizes = loaded_state(spark, state_dir)
    assert sizes == [(d, 2) for d in range(b + 1)]
    assert len(shingles) == 2 * (b + 1)
    assert len(os.listdir(tables[0])) < members  # the loader deleted them


def test_append_only_neardup_state_raises_then_migrates(spark, tmp_path):
    """The append-only two-table layout (flat part files at each table's
    root, one increment appended twice by a replay) refuses to load, then
    migrates to one committed dir with each row once."""
    from entity_etl_spark.ext.dedup import migrate_neardup_state
    from entity_etl_spark.state import append_state

    state_dir = str(tmp_path / "state")
    rows = shingle_rows(NEARDUP_CORPUS)
    sizes = [(d, len(py_shingles(t))) for d, t in NEARDUP_CORPUS]
    for _ in range(2):
        append_state(
            spark.createDataFrame(sizes, "doc long, n int"), state_dir, "doc_sizes"
        )
        append_state(
            spark.createDataFrame(rows, LEGACY), state_dir, "doc_shingles"
        )
    with pytest.raises(ValueError, match=r"migrate_neardup_state\(spark, state_dir\)"):
        loaded_state(spark, state_dir)
    migrate_neardup_state(spark, state_dir)
    sh_rows, n_rows = loaded_state(spark, state_dir)
    assert sh_rows == sorted(rows) and n_rows == [(1, 10), (2, 6)]
    kept, _, _ = neardup_increment(spark, state_dir, "q-0", NEARDUP_BATCH)
    assert kept == [12]
