"""The run contract of pipeline.run_incremental: how many Spark jobs a warm
tick runs, that a page and a state of one file split shuffle and broadcast
nothing, that a page of several keeps its exchange and a state of several
its broadcasts with the same output, that ``http_sink`` sends a one-split
tick's bodies from the driver, that warm ticks build their projection
once, that a sink which runs no SQL action over the bodies gets the same
result, what a tick over an already-seen page reports, what a tick over an
empty page purges, that the state stays one compact table, that
ties on (id, ts) resolve to one version in both the emitted body and the
stored hash, and the arithmetic batch ids."""

import hashlib
import json
import os
import re
import tempfile
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from entity_etl_spark import state as state_mod
from entity_etl_spark.batch import BATCH_COL, assign_batches_distributed
from entity_etl_spark.checkpoint import load_checkpoint, save_checkpoint
from entity_etl_spark.delta import HASH_COL, with_content_hash
from entity_etl_spark.model import EngineConfig, TableSpec
from entity_etl_spark.pipeline import run_incremental
from entity_etl_spark.sinks import http_sink

SPEC = TableSpec(name="entities", id_field="id", ts_field="updatedOnMs")
PROJ = [
    {"target": "cmdb_ci", "source": "id", "string": True},
    {"target": "value", "source": "x", "string": True},
]
SCHEMA = "id long, x string, updatedOnMs long"
NOW = 1_700_000_000_000

# Spark jobs of one warm tick over a page and a state that
# fit one file split each, whose sink runs one action over the bodies:
# 1. the latest cache fill;
# 2. the sink's action: the bodies and their counts, observed on it. The
#    delta is a shuffled hash join of the one-partition page and state, so
#    nothing is broadcast or shuffled;
# 3. the state write: the one-partition full outer join, again with no
#    broadcast.
# Loading the state and the checkpoint run none.
WARM_TICK_JOBS = 3


def page(spark, tmp_path, name, rows):
    """A parquet-backed source page, as a fetch lands it: one file, rows
    in the given order."""
    path = str(tmp_path / f"{name}.parquet")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(path)
    return spark.read.schema(SCHEMA).parquet(path)


def collecting_sink(out, parts=None):
    """Collects the items of every body into ``out``, and each batch id's
    partition index into ``parts`` when given."""
    def sink(bodies):
        for r in bodies.collect():
            out.extend(json.loads(r["body"]))
            if parts is not None:
                parts.add(r["batch_id"] >> 32)
    return sink


def state_files(cfg):
    path = state_mod.state_path(cfg.state_dir, SPEC.name)
    return sorted(n for n in os.listdir(path) if n.endswith(".parquet"))


def tick_rows(tick, n=40):
    """Page of tick ``tick``: every key re-stamped, a quarter with new
    content, ts strictly above the previous tick's."""
    base = 1000 * (tick + 1)
    return [
        (i, f"v{i}-{tick if i % 4 == 0 else 0}", base + i) for i in range(n)
    ]


def count_jobs(spark, fn):
    """Run ``fn`` in its own job group and count the group's jobs with the
    status tracker."""
    sc = spark.sparkContext
    group = f"contract-{os.getpid()}-{id(fn)}"
    sc.setJobGroup(group, "run_incremental job count")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_tick_runs_the_job_budget(spark, tmp_path):
    """Pinned on three consecutive warm ticks, so a body Observation that
    one tick misses (and pays the fallback's jobs for) shows."""
    cfg = EngineConfig(max_batch_size=7, state_dir=str(tmp_path / "state"))
    for tick in range(2):  # seed + one warm-up tick
        run_incremental(
            spark, SPEC, page(spark, tmp_path, f"p{tick}", tick_rows(tick)),
            PROJ, cfg, collecting_sink([]), now_epoch_ms=NOW,
        )
    for tick in range(2, 5):
        sent: list = []
        src = page(spark, tmp_path, f"p{tick}", tick_rows(tick))
        res, jobs = count_jobs(
            spark,
            lambda: run_incremental(
                spark, SPEC, src, PROJ, cfg, collecting_sink(sent),
                now_epoch_ms=NOW,
            ),
        )
        assert (res.input_rows, res.emitted_rows, res.batches) == (40, 10, 2)
        assert len(sent) == 10
        assert jobs == WARM_TICK_JOBS, tick


def executed_plans(spark, fn):
    """Run ``fn``; return its result and the final physical plan tree of
    every SQL execution it ran (AQE's final plan, cached plans nested in
    it included; the initial plan and the per-node details left out)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        execs = store.executionsList()  # the retained ones, oldest first
        return [execs.apply(k) for k in range(execs.size())]

    before = max((e.executionId() for e in executions()), default=-1)
    result = fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    trees = [
        e.physicalPlanDescription()
        .split("\n\n")[0]
        .split("\n+- == Initial Plan ==")[0]
        for e in executions()
        if e.executionId() > before
    ]
    return result, trees


# a shuffle in a formatted plan tree (not a broadcast or a reused exchange)
SHUFFLE = re.compile(r"(?<![A-Za-z])Exchange\b|ShuffleQueryStage|AQEShuffleRead")
BROADCAST = re.compile(r"BroadcastExchange|BroadcastQueryStage")


@contextmanager
def session_conf(spark, conf):
    """Set the SQL confs ``conf`` for the block only."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_warm_one_split_tick_shuffles_nothing(spark, tmp_path):
    """A warm tick over a page and a state of one file split each: no SQL
    execution of the tick (the sink's bodies action, the state write)
    plans a shuffle Exchange or a broadcast, and no shuffle bytes are
    written. The page and the state are planned as one partition each,
    which the keep-latest window's, the body aggregate's and both joins'
    clustering accept as is: the delta and the next state are shuffled
    hash joins, the delta's streaming the page (so its rows keep the
    page's order) and the next state's hashing it."""
    from tests.test_ext import _shuffle_write_bytes

    cfg = EngineConfig(max_batch_size=7, state_dir=str(tmp_path / "state"))
    for tick in range(2):
        run_incremental(
            spark, SPEC, page(spark, tmp_path, f"p{tick}", tick_rows(tick)),
            PROJ, cfg, collecting_sink([]), now_epoch_ms=NOW,
        )
    sent: list = []
    src = page(spark, tmp_path, "p2", tick_rows(2))
    shuffled, trees = executed_plans(
        spark,
        lambda: _shuffle_write_bytes(
            spark,
            lambda: run_incremental(
                spark, SPEC, src, PROJ, cfg, collecting_sink(sent),
                now_epoch_ms=NOW,
            ),
        ),
    )
    assert len(sent) == 10
    assert any("CollectMetrics" in t and "Window" in t for t in trees), trees
    for tree in trees:
        assert not SHUFFLE.search(tree), tree
        assert not BROADCAST.search(tree), tree
    joins = [j for t in trees for j in re.findall(r"ShuffledHashJoin \w+ \w+", t)]
    assert sorted(joins) == [
        "ShuffledHashJoin FullOuter BuildRight",
        "ShuffledHashJoin LeftOuter BuildRight",
    ], trees
    assert shuffled == 0


def run_ticks(spark, tmp_path, name, sink_for, ticks=3, seed_keys=40):
    """Seed tick of ``seed_keys`` keys plus warm ticks over ``tick_rows``:
    per tick the RunResult, the items the sink saw (sorted), the batch
    ids' partition indexes, the checkpoint, the stored ``(id, hash, ttl)``
    rows (sorted) and the final plan trees."""
    cfg = EngineConfig(max_batch_size=7, state_dir=str(tmp_path / name))
    out = []
    for tick in range(ticks):
        rows = tick_rows(tick, seed_keys if tick == 0 else 40)
        src = page(spark, tmp_path, f"{name}{tick}", rows)
        items, parts = [], set()
        res, trees = executed_plans(
            spark,
            lambda: run_incremental(
                spark, SPEC, src, PROJ, cfg, sink_for(items, parts),
                now_epoch_ms=NOW,
            ),
        )
        stored = sorted(
            map(tuple,
                state_mod.load_state(spark, cfg.state_dir, SPEC.name).collect())
        )
        out.append(dict(
            result=res, items=sorted(items, key=json.dumps), parts=parts,
            checkpoint=load_checkpoint(cfg.state_dir, SPEC.name),
            state=stored, trees=trees,
        ))
    return out


def test_page_of_several_splits_keeps_its_exchange_and_its_output(
    spark, tmp_path
):
    """The same rows landed as one split and, with tiny file splits, as
    several: the several-split page keeps its keep-latest Exchange and
    runs its window in more than one partition (the batch ids carry the
    window's partition index), and every tick emits the same items and
    reports the same counts and checkpoint, and writes the same state."""
    one = run_ticks(spark, tmp_path, "one", collecting_sink)
    with session_conf(spark, {
        "spark.sql.files.maxPartitionBytes": 256,
        "spark.sql.files.openCostInBytes": 256,
        # AQE would fold the tiny keep-latest shuffle back into one partition
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": 1,
    }):
        several = run_ticks(spark, tmp_path, "several", collecting_sink)
    for a, b in zip(one, several):
        assert a["parts"] == {0}
        assert len(b["parts"]) > 1
        assert not any(SHUFFLE.search(t) for t in a["trees"])
        assert any(
            re.search(r"Window[\s\S]*Exchange", t) for t in b["trees"]
        ), b["trees"]
        assert a["items"] == b["items"]
        ra, rb = a["result"], b["result"]
        assert (ra.input_rows, ra.emitted_rows, ra.checkpoint_ms) == (
            rb.input_rows, rb.emitted_rows, rb.checkpoint_ms
        )
        assert (a["checkpoint"], a["state"]) == (b["checkpoint"], b["state"])


def test_one_split_page_over_a_several_split_state_keeps_the_broadcast_plan(
    spark, tmp_path
):
    """A 1,000-key state and 40-row pages, run with the default file split
    and with 16 KiB splits, which the state spans several times and the
    page fits in once: the warm ticks of the second run keep the
    broadcast plan (the state broadcast to the delta, the page ids to the
    upsert's anti-join) and still shuffle nothing, and every tick reports,
    emits, checkpoints and stores what the one-partition plan does."""
    one = run_ticks(spark, tmp_path, "one", collecting_sink, seed_keys=1000)
    with session_conf(spark, {
        "spark.sql.files.maxPartitionBytes": 16384,
        "spark.sql.files.openCostInBytes": 16384,
    }):
        several = run_ticks(
            spark, tmp_path, "several", collecting_sink, seed_keys=1000
        )
        state = state_mod.load_state(
            spark, str(tmp_path / "several"), SPEC.name
        )
        assert state_mod.split_count(state) > 1
    for a, b in zip(one[1:], several[1:]):
        assert any("ShuffledHashJoin" in t for t in a["trees"]), a["trees"]
        assert not any(BROADCAST.search(t) for t in a["trees"]), a["trees"]
        assert not any("ShuffledHashJoin" in t for t in b["trees"]), b["trees"]
        assert sum("BroadcastHashJoin" in t for t in b["trees"]) == 2, b["trees"]
        assert not any(SHUFFLE.search(t) for t in a["trees"] + b["trees"])
    for a, b in zip(one, several):
        assert (a["result"], a["items"]) == (b["result"], b["items"])
        assert (a["checkpoint"], a["state"]) == (b["checkpoint"], b["state"])
    assert one[1]["result"].emitted_rows == 10


def http_sink_for(root, sent):
    """A ``run_ticks`` sink that sends through ``http_sink`` to a transport
    writing each body to a file. Per tick it appends to ``sent`` the bodies
    the transport received and those a plain collect of the same frame
    reads, both sorted."""
    def sink_for(items, parts):
        d = tempfile.mkdtemp(dir=root)

        def post(body):
            name = hashlib.md5(body.encode("utf-8")).hexdigest()
            with open(os.path.join(d, name), "w") as f:
                f.write(body)
            return 200

        def sink(bodies):
            http_sink(bodies, post)
            got = []
            for name in os.listdir(d):
                with open(os.path.join(d, name)) as f:
                    got.append(f.read())
            items.extend(x for b in got for x in json.loads(b))
            sent.append(
                (sorted(got), sorted(r[0] for r in bodies.select("body").collect()))
            )
        return sink
    return sink_for


PYTHON_UDF = re.compile(r"MapInArrow")  # MapInArrow and PythonMapInArrow


def test_one_split_tick_sends_from_the_driver(spark, tmp_path):
    """Ticks over a page of one file split plan their bodies as one
    partition, the seed tick with no state yet as well as the warm ticks
    over a one-split state: ``http_sink`` sends them from the driver, so
    no SQL execution of the tick holds a Python UDF node. The same ticks
    over a page of several splits send from the executors, through
    ``mapInArrow``. Every tick sends each body exactly as a collect of
    the bodies frame reads it, and both forms send the same items."""
    sent_one, sent_several = [], []
    one = run_ticks(spark, tmp_path, "one", http_sink_for(tmp_path, sent_one))
    with session_conf(spark, {
        "spark.sql.files.maxPartitionBytes": 256,
        "spark.sql.files.openCostInBytes": 256,
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": 1,
    }):
        several = run_ticks(
            spark, tmp_path, "several", http_sink_for(tmp_path, sent_several)
        )
    for a, b in zip(one, several):
        assert not any(PYTHON_UDF.search(t) for t in a["trees"]), a["trees"]
        assert any(PYTHON_UDF.search(t) for t in b["trees"]), b["trees"]
    for a, b in zip(one, several):
        assert a["items"] == b["items"]
        assert (a["checkpoint"], a["state"]) == (b["checkpoint"], b["state"])
    for got, want in sent_one + sent_several:
        assert got == want and got
    assert one[1]["result"].emitted_rows == 10


@pytest.mark.parametrize("kind", ["spec", "template"])
def test_warm_ticks_compile_their_projection_once(
    spark, tmp_path, monkeypatch, kind
):
    """Three warm ticks over pages of one schema build the projection's
    Column tree once: the compiler runs on the first and is skipped on the
    next two. The projection is new to the session, so no earlier test has
    built it."""
    from entity_etl_spark import hbs, mapping

    calls, depth = [0], [0]

    def counting(fn):
        def wrapper(*args, **kwargs):
            # hbs compiles {{#with}} blocks recursively: count the outermost
            calls[0] += depth[0] == 0
            depth[0] += 1
            try:
                return fn(*args, **kwargs)
            finally:
                depth[0] -= 1
        return wrapper

    tag = os.urandom(8).hex()
    if kind == "spec":
        proj = PROJ + [{"target": "tag", "value": tag}]
        monkeypatch.setattr(
            mapping, "compile_mapping", counting(mapping.compile_mapping)
        )
    else:
        proj = '{"cmdb_ci": "{{id}}", "value": "{{x}}", "tag": "' + tag + '"}'
        monkeypatch.setattr(hbs, "_compile_parts", counting(hbs._compile_parts))
    cfg = EngineConfig(max_batch_size=7, state_dir=str(tmp_path / "state"))
    run_incremental(
        spark, SPEC, page(spark, tmp_path, "p0", tick_rows(0)), PROJ, cfg,
        collecting_sink([]), now_epoch_ms=NOW,
    )
    per_tick = []
    for tick in range(1, 4):
        sent: list = []
        before = calls[0]
        run_incremental(
            spark, SPEC, page(spark, tmp_path, f"p{tick}", tick_rows(tick)),
            proj, cfg, collecting_sink(sent), now_epoch_ms=NOW,
        )
        per_tick.append(calls[0] - before)
        assert len(sent) == 10 and all(e["tag"] == tag for e in sent)
    assert per_tick == [1, 0, 0]


@pytest.mark.parametrize(
    "kind", ["no_action", "rdd_foreach_partition", "take_one_first"]
)
def test_sink_without_a_full_sql_action_gets_the_same_run(spark, tmp_path, kind):
    """A sink that runs no action over the bodies (as the registered
    ``pipeline_incremental_run`` does), one that sends through the
    RDD-based ``foreachPartition`` (which fills no Observation), and one
    whose first action reads a single body: the run counts the bodies
    with the exact fallback and reports, checkpoints and stores what a
    collecting sink's run does, over a seed tick and two warm ticks."""
    def other(items, parts):
        if kind == "no_action":
            return lambda bodies: None
        if kind == "take_one_first":
            return lambda bodies: (bodies.take(1), bodies.collect())
        return lambda bodies: bodies.foreachPartition(
            lambda rows: [r["body"] for r in rows]
        )

    want = run_ticks(spark, tmp_path, "collect", collecting_sink)
    got = run_ticks(spark, tmp_path, kind, other)
    assert [t["result"] for t in got] == [t["result"] for t in want]
    assert [(t["checkpoint"], t["state"]) for t in got] == [
        (t["checkpoint"], t["state"]) for t in want
    ]
    assert want[0]["result"].emitted_rows == 40


@pytest.mark.parametrize("source", ["parquet", "in_memory"])
def test_page_at_or_below_checkpoint_keeps_checkpoint(spark, tmp_path, source):
    """Every row at or below the checkpoint: nothing scanned, nothing sent,
    checkpoint kept. The in-memory source is the case where the optimizer
    folds the scan to an empty relation before anything runs, so the scan
    observation is never filled and the run falls back to the exact
    aggregate."""
    cfg = EngineConfig(max_batch_size=5, state_dir=str(tmp_path / "state"))
    rows = [(1, "a", 10), (2, "b", 20), (3, "c", 30)]

    def src():
        if source == "parquet":
            return page(spark, tmp_path, f"p{len(os.listdir(tmp_path))}", rows)
        return spark.createDataFrame(rows, SCHEMA)

    r1 = run_incremental(spark, SPEC, src(), PROJ, cfg, collecting_sink([]),
                         now_epoch_ms=NOW)
    assert (r1.input_rows, r1.emitted_rows, r1.checkpoint_ms) == (3, 3, 30)
    sent: list = []
    r2 = run_incremental(spark, SPEC, src(), PROJ, cfg, collecting_sink(sent),
                         now_epoch_ms=NOW)
    assert (r2.input_rows, r2.emitted_rows, r2.batches) == (0, 0, 0)
    assert r2.checkpoint_ms == 30 and sent == []
    assert state_mod.load_state(spark, cfg.state_dir, SPEC.name).count() == 3


def test_empty_page_purges_expired_keys_and_keeps_the_checkpoint(
    spark, tmp_path
):
    """A schemaless empty fetch over a stored state of one expired and one
    live key: nothing is sent, the saved state drops the expired key, the
    live key keeps its TTL, and the checkpoint stays where it was."""
    from pyspark.sql import types as T

    cfg = EngineConfig(max_batch_size=5, state_dir=str(tmp_path / "state"))
    state_mod.save_state(
        spark.createDataFrame(
            [(1, "h1", NOW - 1), (2, "h2", NOW + 1)],
            state_mod.state_schema(SPEC.id_field, T.LongType()),
        ),
        cfg.state_dir,
        SPEC.name,
    )
    save_checkpoint(cfg.state_dir, SPEC.name, 1234)
    sent: list = []
    res = run_incremental(
        spark, SPEC, spark.createDataFrame([], T.StructType([])), PROJ, cfg,
        collecting_sink(sent), now_epoch_ms=NOW,
    )
    stored = state_mod.load_state(spark, cfg.state_dir, SPEC.name).collect()
    assert sorted(map(tuple, stored)) == [(2, "h2", NOW + 1)]
    assert load_checkpoint(cfg.state_dir, SPEC.name) == 1234
    assert (res.input_rows, res.emitted_rows, res.batches) == (0, 0, 0)
    assert res.checkpoint_ms == 1234 and sent == []


def test_state_file_count_constant_over_five_runs(spark, tmp_path):
    cfg = EngineConfig(max_batch_size=7, state_dir=str(tmp_path / "state"))
    counts = []
    for tick in range(5):
        run_incremental(
            spark, SPEC, page(spark, tmp_path, f"p{tick}", tick_rows(tick)),
            PROJ, cfg, collecting_sink([]), now_epoch_ms=NOW,
        )
        counts.append(len(state_files(cfg)))
    assert len(set(counts)) == 1, counts
    assert state_mod.load_state(spark, cfg.state_dir, SPEC.name).count() == 40


def test_tie_on_id_and_ts_emits_and_stores_one_version(spark, tmp_path):
    """Two versions of a key with the same (id, ts): whatever the input
    order, every run emits the version with the greater content hash and
    stores that version's hash; re-stamping both versions later emits
    nothing, because the stored hash is the emitted one."""
    versions = [(7, "left", 50), (7, "right", 50)]
    hashes = {
        r["x"]: r[HASH_COL]
        for r in with_content_hash(
            spark.createDataFrame(versions, SCHEMA), exclude=("updatedOnMs",)
        ).collect()
    }
    want = max(hashes, key=hashes.get)
    for run, order in enumerate([versions, versions[::-1]] * 2):
        cfg = EngineConfig(state_dir=str(tmp_path / f"state{run}"))
        src = page(spark, tmp_path, f"tie{run}", order + [(8, "other", 50)])
        sent: list = []
        run_incremental(spark, SPEC, src, PROJ, cfg, collecting_sink(sent),
                        now_epoch_ms=NOW)
        emitted = {e["cmdb_ci"]: e["value"] for e in sent}
        assert emitted["7"] == want
        stored = {
            r["id"]: r[HASH_COL]
            for r in state_mod.load_state(spark, cfg.state_dir, SPEC.name)
            .collect()
        }
        assert stored[7] == hashes[emitted["7"]]

        later = [(i, x, 60) for i, x, _ in order]
        resent: list = []
        r2 = run_incremental(
            spark, SPEC, page(spark, tmp_path, f"tie{run}b", later), PROJ,
            cfg, collecting_sink(resent), now_epoch_ms=NOW,
        )
        assert (r2.input_rows, r2.emitted_rows, resent) == (2, 0, [])


def test_distributed_batch_ids_fill_each_partition_in_order(spark):
    """Batch k of partition p holds that partition's rows k*N .. k*N+N-1,
    under id p * 2^32 + k — what a row_number per partition gave."""
    n = 40
    df = spark.range(0, 250, 1, 3).withColumn("pid", F.spark_partition_id())
    rows = assign_batches_distributed(df, n).collect()
    by_part: dict = {}
    for r in rows:
        by_part.setdefault(r["pid"], []).append((r["id"], r[BATCH_COL]))
    assert len(by_part) == 3
    for pid, got in by_part.items():
        got.sort()  # spark.range partitions are contiguous ascending ids
        for i, (_, batch_id) in enumerate(got):
            assert batch_id == (pid << 32) + i // n
