"""The state upsert of a cron tick (state.merge_state / state.upsert_state,
and the one-partition state.merge_state_join): its result against a
pure-Python model of the reference cache (cache.js:44-67), and that the
state it rewrites never crosses a shuffle, so the state write costs the
same shuffle bytes at any state size."""

import hashlib
import json
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from entity_etl_spark import state as state_mod
from entity_etl_spark.delta import HASH_COL, keep_latest_per_key
from entity_etl_spark.model import EngineConfig, TableSpec
from entity_etl_spark.pipeline import run_incremental
from entity_etl_spark.state import TTL_COL, merge_state, merge_state_join

SPEC = TableSpec(name="entities", id_field="id", ts_field="updatedOnMs")
PROJ = [
    {"target": "cmdb_ci", "source": "id", "string": True},
    {"target": "value", "source": "x", "string": True},
]
SCHEMA = "id long, x string, updatedOnMs long"
NOW = 1_700_000_000_000
TTL_HOURS = 2.0
TTL_MS = int(TTL_HOURS * 3600 * 1000)


def model_hash(i, x):
    """The engine's content hash of ``(id, x)``: sha256 of ``to_json`` over
    the columns sorted by name, the ts column excluded."""
    return hashlib.sha256(
        json.dumps({"id": i, "x": x}, separators=(",", ":")).encode()
    ).hexdigest()


def model_update(state, page, now, ttl_ms):
    """cache.js ``updateCache`` over ``{id: (hash, ttl)}``: drop null ids,
    keep the latest row per id (greater ts, then greater hash), purge
    expired entries, then upsert every seen id with a fresh ttl."""
    latest = {}
    for i, x, ts in page:
        if i is None:
            continue
        key = (ts, model_hash(i, x))
        if i not in latest or key > latest[i]:
            latest[i] = key
    nxt = {k: v for k, v in state.items() if v[1] >= now}
    for i, (_, h) in latest.items():
        nxt[i] = (h, now + ttl_ms)
    return nxt


stored = st.dictionaries(
    st.integers(0, 7),
    st.tuples(
        st.sampled_from("abc"),
        # expired, expiring exactly now (still live), live
        st.sampled_from([NOW - 1, NOW, NOW + 5]),
    ),
    max_size=8,
)
pages = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 9)),
        st.sampled_from("abcd"),
        st.integers(0, 3),  # few ts values: (id, ts) ties are common
    ),
    max_size=12,
)


def one_partition_upsert(state_df, page_df):
    """The next state as a tick over a one-split page and state plans it:
    keep-latest, then the full outer join of the two sides read as one
    partition each, hashing the page. (These in-memory frames have no
    size estimate, so the planner still exchanges both sides; a tick's
    parquet page and state do not.)"""
    latest = keep_latest_per_key(page_df, "id", "updatedOnMs")
    return merge_state_join(
        state_df.coalesce(1),
        latest.coalesce(1).hint("shuffle_hash"),
        "id",
        ignore=("updatedOnMs",),
        ttl_hours=TTL_HOURS,
        now_epoch_ms=NOW,
    )


@given(stored=stored, page=pages)
@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_merge_state_matches_the_cache_model(spark, stored, page):
    """Duplicate keys in a page, (id, ts) ties broken by hash, expired keys
    seen again (fresh ttl), unseen expired keys purged, null ids dropped:
    by the anti-join upsert (merge_state) and by the one-partition full
    outer join the pipeline runs for a one-split page and state."""
    state = {i: (model_hash(i, x), ttl) for i, (x, ttl) in stored.items()}
    state_df = spark.createDataFrame(
        [(i, h, ttl) for i, (h, ttl) in state.items()],
        state_mod.state_schema("id", T.LongType()),
    )
    page_df = spark.createDataFrame(page, SCHEMA)
    want = model_update(state, page, NOW, TTL_MS)
    anti_join = merge_state(
        state_df,
        page_df,
        "id",
        ignore=("updatedOnMs",),
        ts_field="updatedOnMs",
        ttl_hours=TTL_HOURS,
        now_epoch_ms=NOW,
    )
    one_partition = one_partition_upsert(state_df, page_df)
    if stored and page:  # an empty side folds the join away
        # the plan as planned: at run time AQE may fold an all-NULL-id page
        assert re.search(
            r"ShuffledHashJoin .*FullOuter, BuildRight",
            one_partition._jdf.queryExecution().executedPlan().toString(),
        )
    for nxt in (anti_join, one_partition):
        got = nxt.collect()
        assert len(got) == len(want)  # one row per key
        assert {r["id"]: (r[HASH_COL], r[TTL_COL]) for r in got} == want


def page(spark, tmp_path, name, rows):
    path = str(tmp_path / f"{name}.parquet")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(path)
    return spark.read.schema(SCHEMA).parquet(path)


def warm_tick_state_write(spark, tmp_path, name, n_keys, record):
    """Seed ``n_keys`` keys, then run one tick over the same 40-key page
    (a quarter of it changed), handing the state write to ``record``."""
    cfg = EngineConfig(max_batch_size=7, state_dir=str(tmp_path / name))
    seed = [(i, f"v{i}", 100) for i in range(n_keys)]
    run_incremental(spark, SPEC, page(spark, tmp_path, f"{name}0", seed),
                    PROJ, cfg, lambda b: b.collect(), now_epoch_ms=NOW)
    tick = [(i, f"v{i}{'x' if i % 4 == 0 else ''}", 200) for i in range(40)]
    src = page(spark, tmp_path, f"{name}1", tick)
    save = state_mod.save_state

    def recording(df, state_dir, table):
        return record(lambda: save(df, state_dir, table))

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(state_mod, "save_state", recording)
        run_incremental(spark, SPEC, src, PROJ, cfg, lambda b: b.collect(),
                        now_epoch_ms=NOW)
    assert state_mod.load_state(spark, cfg.state_dir, SPEC.name).count() == n_keys


def test_state_write_plan_has_no_exchange_over_the_state(spark, tmp_path):
    """In the executed plan of a warm tick's state write, no shuffle
    Exchange sits between the state FileScan and the write: the page and
    the state each fit one file split, so the page's rows reach the state
    rows through a shuffled hash join of two one-partition sides."""
    jvm_session = spark._jsparkSession
    plans = []

    def last_execution():
        # the store keeps the latest executions, oldest first
        execs = jvm_session.sharedState().statusStore().executionsList()
        return execs, execs.size() - 1

    def record(write):
        execs, k = last_execution()
        before = execs.apply(k).executionId() if k >= 0 else -1
        write()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        execs, k = last_execution()
        while k >= 0 and execs.apply(k).executionId() > before:
            plans.append(execs.apply(k).physicalPlanDescription())
            k -= 1

    warm_tick_state_write(spark, tmp_path, "s", 200, record)
    writes = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert len(writes) == 1
    # the formatted plan: the operator tree (the final plan above the
    # initial one), then one block of details per node
    tree, *details = writes[0].split("\n\n")
    final = tree.split("\n+- == Initial Plan ==")[0]
    assert "== Final Plan ==" in final, tree
    state_scans = {
        m.group(1)
        for block in details
        if (m := re.match(r"\((\d+)\) Scan parquet", block.strip()))
        and ".state.parquet" in block
    }
    nodes = []  # (depth, operator) per tree line
    for ln in final.splitlines():
        op = ln.lstrip(" :+-")
        nodes.append((len(ln) - len(op), op.removeprefix("* ")))
    scans = [
        i for i, (_, op) in enumerate(nodes)
        if re.fullmatch(r"Scan parquet\s+\((\d+)\)", op)
        and op.split("(")[-1].rstrip(")") in state_scans
    ]
    assert len(scans) == 1, tree
    depth = nodes[scans[0]][0]
    for d, op in reversed(nodes[: scans[0]]):  # the scan's ancestors
        if d >= depth:
            continue
        depth = d
        assert not op.startswith(
            ("Exchange", "ShuffleQueryStage", "AQEShuffleRead")
        ), tree


def test_state_write_shuffle_is_independent_of_state_size(spark, tmp_path):
    """The same page writes the same state-write shuffle bytes against 200
    and against 5,000 stored keys."""
    from tests.test_ext import _shuffle_write_bytes

    written = {}
    for n in (200, 5000):

        def record(write, n=n):
            written[n] = _shuffle_write_bytes(spark, write)

        warm_tick_state_write(spark, tmp_path, f"k{n}", n, record)
    assert written[200] == written[5000]
