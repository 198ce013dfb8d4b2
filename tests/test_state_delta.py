"""State/delta semantics — port of reference test/cache.test.js.

The canonical fixture (test/cache.test.js:28):
    [(1,11,10), (2,12,20), (3,13,30)]   as (id, x, updatedOnMs)
and the change-detection truth table (test/cache.test.js:84-96):
    (1,11,11) -> NOT emitted  (same content, bumped updatedOnMs)
    (2,24,21) -> emitted      (changed field)
    (3,13,30) -> NOT emitted  (identical)
    (4,14,40) -> emitted      (new id)
"""

import pytest
from pyspark.sql import functions as F

from entity_etl_spark.checkpoint import max_ts, next_checkpoint
from entity_etl_spark.delta import changed_rows, with_content_hash
from entity_etl_spark.state import TTL_COL, merge_state

COLS = ["id", "x", "updatedOnMs"]
SEED = [(1, 11, 10), (2, 12, 20), (3, 13, 30)]


def df_of(spark, rows):
    return spark.createDataFrame(rows, COLS)


@pytest.fixture()
def seed_state(spark):
    # first run: everything is new; state built from the seed batch
    return merge_state(None, df_of(spark, SEED), "id", ignore=("updatedOnMs",),
                       ttl_hours=8.0, now_epoch_ms=1_000_000)


def test_first_run_everything_emitted(spark):
    out = changed_rows(df_of(spark, SEED), None, "id")
    assert out.count() == 3


def test_change_detection_truth_table(spark, seed_state):
    batch2 = df_of(spark, [(1, 11, 11), (2, 24, 21), (3, 13, 30), (4, 14, 40)])
    emitted = changed_rows(batch2, seed_state, "id", ignore=("updatedOnMs",))
    got = sorted(r["id"] for r in emitted.collect())
    assert got == [2, 4]  # reference test/cache.test.js:84-96


def test_null_id_rows_dropped(spark, seed_state):
    batch = df_of(spark, [(None, 99, 50), (5, 15, 50)])
    emitted = changed_rows(batch, seed_state, "id")
    assert [r["id"] for r in emitted.collect()] == [5]  # cache.js:70-74


def test_content_hash_ignores_excluded_and_is_key_order_insensitive(spark):
    a = spark.createDataFrame([(1, 11, 10)], ["id", "x", "updatedOnMs"])
    b = spark.createDataFrame([(11, 1, 99)], ["x", "id", "updatedOnMs"])
    ha = with_content_hash(a, exclude=("updatedOnMs",)).first()["__content_hash"]
    hb = with_content_hash(b, exclude=("updatedOnMs",)).first()["__content_hash"]
    assert ha == hb


def test_upsert_last_write_wins(spark, seed_state):
    # same key twice in one batch: the later event time wins (cache.js:55-57)
    batch = df_of(spark, [(2, 100, 41), (2, 200, 42)])
    st = merge_state(seed_state, batch, "id", ignore=("updatedOnMs",),
                     ts_field="updatedOnMs", now_epoch_ms=1_000_000)
    assert st.count() == 3  # ids 1,2,3
    h_200 = with_content_hash(df_of(spark, [(2, 200, 0)]), exclude=("updatedOnMs",)).first()["__content_hash"]
    assert st.filter(F.col("id") == 2).first()["__content_hash"] == h_200


def test_ttl_expiry_and_refresh(spark, seed_state):
    # entries expire when ttl < now (cache.js:60-67); seen keys are
    # re-stamped (cache.js:79, refresh-on-read)
    later = 1_000_000 + 9 * 3600 * 1000  # past the 8h TTL
    touch = df_of(spark, [(3, 13, 31)])  # only key 3 is seen
    st = merge_state(seed_state, touch, "id", ignore=("updatedOnMs",),
                     ts_field="updatedOnMs", ttl_hours=8.0, now_epoch_ms=later)
    rows = st.collect()
    assert [r["id"] for r in rows] == [3]          # 1,2 expired; 3 survived
    assert rows[0][TTL_COL] == later + 8 * 3600 * 1000  # fresh TTL


def test_checkpoint_rules(spark):
    # seed max = 30 (test/cache.test.js:53)
    assert max_ts(df_of(spark, SEED), "updatedOnMs") == 30
    assert next_checkpoint(30, 1) == 30
    # empty page keeps previous (cache.js:101-104)
    assert next_checkpoint(None, 30) == 30
    # never regress
    assert next_checkpoint(10, 30) == 30
    # partial-results tie-bump 30 -> 31 (test/cache.test.js:76-82)
    assert next_checkpoint(30, 30, partial_results=True) == 31
    # no bump when progress was made
    assert next_checkpoint(40, 30, partial_results=True) == 40


def test_max_ts_on_timestamp_column(spark):
    df = spark.createDataFrame([(1,)], ["id"]).select(
        "id", F.timestamp_millis(F.lit(1234567890123)).alias("ts")
    )
    assert max_ts(df, "ts") == 1234567890123000


def test_content_hash_stable_under_schema_evolution(spark):
    """Ragged schemas (FIXTURES.md F2, SURVEY §7.5.2): a row whose new
    column is NULL must hash identically to the same row before the column
    existed — to_json omits NULL fields, so absent and null canonicalize
    the same way and schema evolution does not produce false changes."""
    old = spark.createDataFrame([(1, 11, 10)], "id long, x long, updatedOnMs long")
    new = spark.createDataFrame(
        [(1, 11, None, 99)], "id long, x long, aws_tag_Name string, updatedOnMs long"
    )
    h_old = with_content_hash(old, exclude=("updatedOnMs",)).first()["__content_hash"]
    h_new = with_content_hash(new, exclude=("updatedOnMs",)).first()["__content_hash"]
    assert h_old == h_new


def test_changed_rows_with_added_column(spark, seed_state):
    """A batch that ADDS a column: rows where the new column is null are
    unchanged; rows where it has a value are changes."""
    batch = spark.createDataFrame(
        [(1, 11, None, 50),      # same content, new null column -> suppressed
         (2, 12, "tagged", 51)], # new column populated -> emitted
        "id long, x long, tag string, updatedOnMs long",
    )
    emitted = changed_rows(batch, seed_state, "id", ignore=("updatedOnMs",))
    assert [r["id"] for r in emitted.collect()] == [2]


# ---------------------------------------------------------------------------
# SCD Type-2 history (scd2_history / merge_scd2)
# ---------------------------------------------------------------------------

SCD_COLS = ["k", "v", "t", "eid"]


def _scd_df(spark, rows):
    return spark.createDataFrame(rows, "k string, v string, t long, eid long")


def _canon(df):
    rows = [
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current, r.eid)
        for r in df.collect()
    ]
    return sorted(rows, key=lambda t: tuple("" if v is None else str(v) for v in t))


def test_scd2_history_change_points(spark):
    from entity_etl_spark.state import scd2_history

    rows = [
        ("a", "x", 1, 1), ("a", "x", 2, 2), ("a", "y", 3, 3), ("a", "x", 4, 4),
        ("b", "z", 1, 5),
    ]
    hist = _canon(scd2_history(_scd_df(spark, rows), "k", "v", "t", "eid"))
    assert hist == [
        ("a", "x", 1, 3, False, 1),
        ("a", "x", 4, None, True, 4),
        ("a", "y", 3, 4, False, 3),
        ("b", "z", 1, None, True, 5),
    ]


def test_scd2_history_null_attr_is_a_value(spark):
    from entity_etl_spark.state import scd2_history

    rows = [("a", None, 1, 1), ("a", None, 2, 2), ("a", "x", 3, 3)]
    hist = _canon(scd2_history(_scd_df(spark, rows), "k", "v", "t", "eid"))
    assert hist == [
        ("a", None, 1, 3, False, 1),
        ("a", "x", 3, None, True, 3),
    ]


def test_merge_scd2_equals_full_rebuild(spark):
    from entity_etl_spark.state import merge_scd2, scd2_history

    # keys: changed across the split / unchanged across the split /
    # state-only / batch-only — every merge case at once
    prefix = [
        ("chg", "a", 1, 1), ("chg", "b", 2, 2),
        ("same", "s", 1, 3),
        ("stateonly", "q", 2, 4),
    ]
    batch = [
        ("chg", "b", 5, 10),   # unchanged vs current -> no new version
        ("chg", "c", 6, 11),   # changed -> close current, open new
        ("same", "s", 7, 12),  # unchanged
        ("new", "n", 5, 13),   # unseen key
    ]
    hist = scd2_history(_scd_df(spark, prefix), "k", "v", "t", "eid")
    merged = merge_scd2(hist, _scd_df(spark, batch), "k", "v", "t", "eid")
    rebuilt = scd2_history(
        _scd_df(spark, prefix + batch), "k", "v", "t", "eid"
    )
    assert _canon(merged) == _canon(rebuilt)
    cur = {r.k: r.v for r in merged.filter("is_current").collect()}
    assert cur == {"chg": "c", "same": "s", "stateonly": "q", "new": "n"}


def test_merge_scd2_none_history(spark):
    from entity_etl_spark.state import merge_scd2, scd2_history

    batch = [("a", "x", 1, 1), ("a", "y", 2, 2)]
    merged = merge_scd2(None, _scd_df(spark, batch), "k", "v", "t", "eid")
    rebuilt = scd2_history(_scd_df(spark, batch), "k", "v", "t", "eid")
    assert _canon(merged) == _canon(rebuilt)


def test_apply_cdc_truth_table(spark):
    from entity_etl_spark.state import apply_cdc

    state = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"
    )
    changes = spark.createDataFrame(
        [
            (2, 5, 1, "U", 21.0),   # update
            (3, 5, 2, "D", None),   # delete
            (4, 5, 3, "I", 40.0),   # insert new key
            (5, 5, 4, "U", 1.0),    # two changes, latest wins ...
            (5, 6, 5, "D", None),   # ... and it's a delete
            (6, 5, 6, "D", None),   # delete then re-insert
            (6, 7, 7, "I", 60.0),
        ],
        "id long, ts long, eid long, op string, v double",
    )
    nxt = apply_cdc(state, changes, "id", "ts", tiebreak="eid",
                    payload_cols=["v"])
    got = {r.id: r.v for r in nxt.collect()}
    assert got == {1: 10.0, 2: 21.0, 4: 40.0, 6: 60.0}


def test_apply_cdc_none_state(spark):
    from entity_etl_spark.state import apply_cdc

    changes = spark.createDataFrame(
        [(1, 1, 1, "I", 5.0), (2, 1, 2, "D", None)],
        "id long, ts long, eid long, op string, v double",
    )
    nxt = apply_cdc(None, changes, "id", "ts", tiebreak="eid")
    rows = {(r.id, r.op if "op" in nxt.columns else None) for r in nxt.collect()}
    assert {r[0] for r in rows} == {1}
