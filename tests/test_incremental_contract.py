"""The run contract of pipeline.run_incremental: how many Spark jobs a warm
tick runs, what a tick over an already-seen page reports, that the state
stays one compact table, that ties on (id, ts) resolve to one version in
both the emitted body and the stored hash, and the arithmetic batch ids."""

import json
import os

import pytest
from pyspark.sql import functions as F

from entity_etl_spark import state as state_mod
from entity_etl_spark.batch import BATCH_COL, assign_batches_distributed
from entity_etl_spark.delta import HASH_COL, with_content_hash
from entity_etl_spark.model import EngineConfig, TableSpec
from entity_etl_spark.pipeline import run_incremental

SPEC = TableSpec(name="entities", id_field="id", ts_field="updatedOnMs")
PROJ = [
    {"target": "cmdb_ci", "source": "id", "string": True},
    {"target": "value", "source": "x", "string": True},
]
SCHEMA = "id long, x string, updatedOnMs long"
NOW = 1_700_000_000_000

# Spark jobs of one warm non-bucketed tick whose sink runs one action:
# the bodies action runs 6 (state broadcast, keep-latest shuffle, latest
# cache, body shuffle, bodies cache, and the count, one stage because the
# cached bodies keep AQE's coalesced width), the sink 1, and the state
# write 2 (page ids broadcast, write). Loading the state and the
# checkpoint run none.
WARM_TICK_JOBS = 9


def page(spark, tmp_path, name, rows):
    """A parquet-backed source page, as a fetch lands it: one file, rows
    in the given order."""
    path = str(tmp_path / f"{name}.parquet")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(path)
    return spark.read.schema(SCHEMA).parquet(path)


def collecting_sink(out):
    def sink(bodies):
        for r in bodies.collect():
            out.extend(json.loads(r["body"]))
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
    cfg = EngineConfig(max_batch_size=7, state_dir=str(tmp_path / "state"))
    for tick in range(2):  # seed + one warm-up tick
        run_incremental(
            spark, SPEC, page(spark, tmp_path, f"p{tick}", tick_rows(tick)),
            PROJ, cfg, collecting_sink([]), now_epoch_ms=NOW,
        )
    sent: list = []
    src = page(spark, tmp_path, "p2", tick_rows(2))
    res, jobs = count_jobs(
        spark,
        lambda: run_incremental(
            spark, SPEC, src, PROJ, cfg, collecting_sink(sent),
            now_epoch_ms=NOW,
        ),
    )
    assert (res.input_rows, res.emitted_rows) == (40, 10)
    assert len(sent) == 10
    assert jobs == WARM_TICK_JOBS


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
