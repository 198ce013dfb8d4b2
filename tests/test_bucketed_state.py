"""Bucketed state path: join-based MERGE semantics, generation-swap
persistence, and the no-shuffle-on-state-side plan claim."""

import json
import os

import pytest
from pyspark.sql import functions as F

from entity_etl_spark import state as state_mod
from entity_etl_spark.state import (
    TTL_COL,
    merge_state,
    merge_state_join,
    load_state_bucketed,
    save_state_bucketed,
)

COLS = ["id", "x", "updatedOnMs"]
SEED = [(1, 11, 10), (2, 12, 20), (3, 13, 30)]
NOW = 1_000_000


def df_of(spark, rows):
    return spark.createDataFrame(rows, COLS)


def _canon(state_df):
    return sorted(
        (r["id"], r[state_mod.HASH_COL], r[TTL_COL]) for r in state_df.collect()
    )


def test_merge_state_join_matches_merge_state(spark):
    """Same transition, both merge strategies: upsert changed+new, keep
    untouched live rows, purge expired, refresh TTL for every seen key."""
    seed = df_of(spark, SEED)
    kw = dict(ignore=("updatedOnMs",), ttl_hours=8.0, now_epoch_ms=NOW)
    s0_join = merge_state_join(None, seed, "id", **kw)
    s0_upsert = merge_state(None, seed, "id", ts_field="updatedOnMs", **kw)
    assert _canon(s0_join) == _canon(s0_upsert)

    # batch 2 (one-row-per-key): change id=2, add id=4; ids 1,3 unseen
    batch2 = df_of(spark, [(2, 24, 21), (4, 14, 40)])
    kw2 = dict(ignore=("updatedOnMs",), ttl_hours=8.0, now_epoch_ms=NOW + 500)
    s1_join = merge_state_join(s0_join, batch2, "id", **kw2)
    s1_upsert = merge_state(
        s0_upsert, batch2, "id", ts_field="updatedOnMs", **kw2
    )
    assert _canon(s1_join) == _canon(s1_upsert)
    # unseen keys keep the OLD ttl; seen keys get the fresh one
    ttls = {r["id"]: r[TTL_COL] for r in s1_join.collect()}
    assert ttls[1] == ttls[3] == NOW + 8 * 3600 * 1000
    assert ttls[2] == ttls[4] == NOW + 500 + 8 * 3600 * 1000


def test_merge_state_join_purges_expired(spark):
    seed = df_of(spark, SEED)
    s0 = merge_state_join(None, seed, "id", ignore=("updatedOnMs",),
                          ttl_hours=1.0, now_epoch_ms=NOW)
    # 2h later: everything expired except the key seen again
    later = NOW + 2 * 3600 * 1000
    s1 = merge_state_join(s0, df_of(spark, [(2, 12, 99)]), "id",
                          ignore=("updatedOnMs",), ttl_hours=1.0,
                          now_epoch_ms=later)
    assert [r["id"] for r in s1.collect()] == [2]


def test_bucketed_save_load_generation_swap(spark, tmp_path):
    state_dir = str(tmp_path)
    seed = merge_state_join(None, df_of(spark, SEED), "id",
                            ignore=("updatedOnMs",), now_epoch_ms=NOW)
    try:
        assert load_state_bucketed(spark, state_dir, "t1") is None
        save_state_bucketed(seed, state_dir, "t1", "id", n_buckets=4)
        g0 = load_state_bucketed(spark, state_dir, "t1")
        assert g0.count() == 3
        # next state derives from g0; save must not clobber its input
        nxt = merge_state_join(g0.filter(F.col("id") != 3),
                               df_of(spark, [(4, 14, 40)]), "id",
                               ignore=("updatedOnMs",), now_epoch_ms=NOW)
        save_state_bucketed(nxt, state_dir, "t1", "id", n_buckets=4)
        meta = json.load(open(os.path.join(state_dir, "t1.state.bucketed.json")))
        assert meta["generation"] == 1
        assert not spark.catalog.tableExists("t1_state_g0")  # old gen dropped
        assert sorted(r["id"] for r in
                      load_state_bucketed(spark, state_dir, "t1").collect()) == [1, 2, 4]
    finally:
        spark.sql("DROP TABLE IF EXISTS t1_state_g0")
        spark.sql("DROP TABLE IF EXISTS t1_state_g1")


def test_merge_against_bucketed_state_shuffles_only_the_delta(spark, tmp_path):
    """The scale claim made in state.py: with state bucketed by id, the
    full-outer MERGE has exactly one Exchange — the incoming delta — and the
    state side reads its buckets in place."""
    state_dir = str(tmp_path)
    big = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") * 7).alias("x"), F.lit(1).alias("updatedOnMs")
    )
    seed = merge_state_join(None, big, "id", ignore=("updatedOnMs",),
                            now_epoch_ms=NOW)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        save_state_bucketed(seed, state_dir, "t2", "id", n_buckets=4)
        state = load_state_bucketed(spark, state_dir, "t2")
        delta = df_of(spark, [(7, 99, 50)])
        merged = merge_state_join(state, delta, "id", ignore=("updatedOnMs",),
                                  now_epoch_ms=NOW)
        plan = merged._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1  # only the delta side shuffles
        assert "SortMergeJoin" in plan
        assert merged.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.sql("DROP TABLE IF EXISTS t2_state_g0")
        spark.sql("DROP TABLE IF EXISTS t2_state_g1")


def test_state_lifecycle_metrics_accounting(spark, tmp_path):
    """Two merge cycles, then the lifecycle accounting row: live vs
    expired-tombstone split at an observation time between TTLs, file
    and byte footprint, and generation-swap provenance (round 10)."""
    import uuid

    from pyspark.sql import functions as F

    from entity_etl_spark.state import (
        load_state_bucketed,
        merge_state_join,
        save_state_bucketed,
        state_lifecycle_metrics,
    )

    sd = str(tmp_path / "state")
    table = f"lc_test_{uuid.uuid4().hex[:8]}"
    HOUR = 3600 * 1000
    T0, T1 = 0, 4 * HOUR
    m1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "user_id long, payload string"
    )
    s1 = merge_state_join(None, m1, "user_id", ttl_hours=8, now_epoch_ms=T0)
    save_state_bucketed(s1, sd, table, "user_id", n_buckets=2)
    # merge 2 at T1 refreshes keys 2,3 and inserts 4; key 1 keeps ttl T0+8h
    m2 = spark.createDataFrame(
        [(2, "b2"), (3, "c2"), (4, "d")], "user_id long, payload string"
    )
    prev = load_state_bucketed(spark, sd, table)
    s2 = merge_state_join(prev, m2, "user_id", ttl_hours=8, now_epoch_ms=T1)
    save_state_bucketed(s2, sd, table, "user_id", n_buckets=2)
    # observe at T0+10h: key 1 expired (ttl 8h) but still on disk;
    # keys 2,3,4 live (ttl 12h)
    row = state_lifecycle_metrics(
        spark, sd, table, now_epoch_ms=10 * HOUR, bucketed=True
    ).collect()[0]
    assert row.n_keys == 4
    assert row.n_live == 3
    assert row.n_expired_tombstones == 1
    assert row.n_files >= 1 and row.total_bytes > 0
    assert row.generation == 1
    assert row.n_merges == 2
    assert row.generations_reclaimed == 1
    # the NEXT merge purges the tombstone — the accounting's claim
    s3 = merge_state_join(
        load_state_bucketed(spark, sd, table),
        spark.createDataFrame([(5, "e")], "user_id long, payload string"),
        "user_id", ttl_hours=8, now_epoch_ms=10 * HOUR,
    )
    save_state_bucketed(s3, sd, table, "user_id", n_buckets=2)
    row2 = state_lifecycle_metrics(
        spark, sd, table, now_epoch_ms=10 * HOUR, bucketed=True
    ).collect()[0]
    assert row2.n_keys == 4  # 2,3,4 live + 5 inserted; 1 purged
    assert row2.n_expired_tombstones == 0
    assert row2.n_merges == 3 and row2.generations_reclaimed == 2
