"""Structured Streaming tests: ``pipeline.run_streaming`` over an
incremental file source with its checkpoint (O1/O14), pinned to the
cache.js transition (changed-row suppression O5, keep-latest O15, TTL
state O12/O13); the availableNow drain; and the built-in stateful
operators the registered streaming queries run."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from entity_etl_spark.model import TableSpec
from entity_etl_spark.streaming import run_available_now, stream_source

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("x", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
SPEC = TableSpec(name="s", id_field="id", ts_field="ts")


def write_batch(spark, path, rows, n_file):
    df = spark.createDataFrame(
        [(i, x, f"2024-01-01 00:{m:02d}:00") for i, x, m in rows],
        "id long, x long, ts string",
    ).select("id", "x", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/f{n_file}")


def drain(spark, src_dir, ckpt, transform):
    collected = []
    stream = stream_source(spark, f"{src_dir}/f*", SCHEMA)
    out = transform(stream)
    run_available_now(out, ckpt, lambda df, _bid: collected.extend(df.collect()))
    return collected


def drain_pipeline(spark, src_dir, ckpt, state_dir, now_epoch_ms):
    """One availableNow drain of ``pipeline.run_streaming`` over the file
    source with an 8 h TTL and a fixed clock: the sorted ``(id, x)`` of
    every item the sink received."""
    import json

    from entity_etl_spark.model import EngineConfig
    from entity_etl_spark.pipeline import run_streaming

    sent = []
    run_streaming(
        spark,
        SPEC,
        stream_source(spark, f"{src_dir}/f*", SCHEMA),
        [{"target": "id", "source": "id"}, {"target": "x", "source": "x"}],
        EngineConfig(state_ttl_hours=8.0, state_dir=state_dir),
        lambda bodies: sent.extend(
            (e["id"], e["x"])
            for r in bodies.collect()
            for e in json.loads(r["body"])
        ),
        ckpt,
        now_epoch_ms=now_epoch_ms,
    )
    return sorted(sent)


TTL_MS = 8 * 3600 * 1000


def test_incremental_file_source_with_changed_row_suppression(spark, tmp_path):
    src = str(tmp_path / "src")
    args = (str(tmp_path / "ckpt"), str(tmp_path / "state"))

    # batch 1: three entities
    write_batch(spark, src, [(1, 11, 0), (2, 12, 1), (3, 13, 2)], 1)
    assert drain_pipeline(spark, src, *args, 1_000) == [(1, 11), (2, 12), (3, 13)]

    # batch 2 (new files): unchanged re-send of 1 (new ts), changed 2, new 4,
    # and a null id that must be dropped
    write_batch(spark, src, [(1, 11, 3), (2, 24, 4), (4, 14, 5)], 2)
    write_batch(spark, src, [(None, 99, 6)], 3)
    # id=1 re-sent with SAME content -> suppressed by the content-hash state;
    # 2 changed and 4 new -> emitted
    assert drain_pipeline(spark, src, *args, 2_000) == [(2, 24), (4, 14)]
    # restart with same checkpoint and no new files -> nothing
    assert drain_pipeline(spark, src, *args, 3_000) == []


def test_stateful_ttl_dedup_truth_table(spark, tmp_path):
    src = str(tmp_path / "src")
    args = (str(tmp_path / "ckpt"), str(tmp_path / "state"))

    write_batch(spark, src, [(1, 11, 0), (2, 12, 1), (3, 13, 2)], 1)
    assert drain_pipeline(spark, src, *args, 1_000) == [(1, 11), (2, 12), (3, 13)]

    # the cache.test.js:84-96 truth table: same-content/new-ts suppressed,
    # changed emitted, identical suppressed, new emitted
    write_batch(spark, src, [(1, 11, 3), (2, 24, 4), (3, 13, 2), (4, 14, 5)], 2)
    assert drain_pipeline(spark, src, *args, 2_000) == [(2, 24), (4, 14)]

    # every key was last seen at t=2000, so all have expired at this tick.
    # Key 3, expired but not yet purged, is still suppressed: the delta
    # compares against the stored state, expired keys included
    write_batch(spark, src, [(3, 13, 6)], 3)
    assert drain_pipeline(spark, src, *args, 2_000 + TTL_MS + 1) == []

    # that tick purged the keys it did not see, so key 1's identical
    # re-send is new again (cache.js:60-67)
    write_batch(spark, src, [(1, 11, 7)], 4)
    assert drain_pipeline(spark, src, *args, 2_000 + TTL_MS + 2) == [(1, 11)]


def test_intra_batch_versions_keep_the_latest(spark, tmp_path):
    """Several versions of one key in one micro-batch: only the latest by
    ts is compared and emitted (O15, ``delta.keep_latest_per_key``), as in
    ``run_incremental``; the next batch compares against that version."""
    src = str(tmp_path / "src")
    args = (str(tmp_path / "ckpt"), str(tmp_path / "state"))
    write_batch(spark, src, [(7, 1, 10), (7, 2, 11), (7, 2, 12)], 1)
    assert drain_pipeline(spark, src, *args, 1_000) == [(7, 2)]
    write_batch(spark, src, [(7, 2, 13), (7, 1, 14)], 2)
    assert drain_pipeline(spark, src, *args, 2_000) == [(7, 1)]


def test_streaming_session_window_aggregation(spark, tmp_path):
    """Event-time session windows in a streaming aggregation: events within
    a 5-minute gap of each other merge into one session per id; watermark
    bounds session state. Uses availableNow + complete drain."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # id 1: minutes 0,2,4 -> one session; minute 20 -> a second session.
    # id 2: minute 1 only.
    write_batch(spark, src, [(1, 1, 0), (1, 1, 2), (1, 1, 4), (1, 1, 20), (2, 1, 1)], 1)

    stream = stream_source(spark, f"{src}/f*", SCHEMA)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "5 minutes"), F.col("id"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    collected = []
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_test")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT id, n FROM sess_test").collect()
    got = sorted((r["id"], r["n"]) for r in rows)
    assert got == [(1, 1), (1, 3), (2, 1)]


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join (purchases x signups within 10 minutes):
    both sides watermarked so join state is bounded; availableNow drain."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # x encodes the side: 1 = purchase, 2 = signup; id is the user key.
    write_batch(
        spark, src,
        [(1, 1, 5), (2, 1, 30), (1, 2, 2), (2, 2, 50), (3, 1, 10)],
        1,
    )
    stream = stream_source(spark, f"{src}/f*", SCHEMA)
    purchases = (
        stream.filter("x = 1")
        .select("id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    signups = (
        stream.filter("x = 2")
        .select(F.col("id").alias("s_id"), F.col("ts").alias("s_ts"))
        .withWatermark("s_ts", "1 hour")
    )
    joined = purchases.join(
        signups,
        (purchases.id == signups.s_id)
        & (signups.s_ts >= purchases.p_ts - F.expr("INTERVAL 10 MINUTES"))
        & (signups.s_ts <= purchases.p_ts + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select("id", "p_ts", "s_ts")
    collected = []
    run_available_now(
        joined, ckpt, lambda df, _bid: collected.extend(df.collect())
    )
    # user 1: purchase @5 within 10 min of signup @2 -> joins.
    # user 2: purchase @30 vs signup @50 -> outside the window, no row.
    # user 3: no signup -> no row.
    assert [r["id"] for r in collected] == [1]


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join — the enrichment pattern: a streaming fact joins
    a static dimension (broadcast; re-read per micro-batch so dim updates
    between triggers are picked up). Rows without a dim match survive as
    NULL (left join) — the schemaless-tolerant reference posture."""
    src = str(tmp_path / "ss_src")
    ckpt = str(tmp_path / "ss_ckpt")
    write_batch(spark, src, [(1, 10, 0), (2, 20, 1), (3, 30, 2)], 1)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "id long, tier string"
    )

    collected = []
    stream = stream_source(spark, f"{src}/f*", SCHEMA)
    enriched = stream.join(F.broadcast(dim), "id", "left")
    run_available_now(
        enriched, ckpt, lambda df, _bid: collected.extend(df.collect())
    )
    got = sorted((r["id"], r["x"], r["tier"]) for r in collected)
    assert got == [(1, 10, "gold"), (2, 20, "silver"), (3, 30, None)]


def test_run_streaming_neardup_prep_drops_paraphrased_resend(spark, tmp_path):
    """Near-dup streaming ingest: batch 2 re-sends batch 1's surviving
    content with a small tail edit — byte-UNidentical, so fingerprint
    state would admit it; the exact shingle state drops it. A genuinely
    new doc still lands."""
    from entity_etl_spark.ext.prep import run_streaming_neardup_prep
    from entity_etl_spark.streaming import stream_source

    src = str(tmp_path / "nd_src")
    out = str(tmp_path / "nd_corpus")
    state = str(tmp_path / "nd_state")
    ckpt = str(tmp_path / "nd_ckpt")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    good = ("the quick brown fox jumps over the lazy dog and it "
            "is a fine day in the park of wonders to see it all ") * 2
    fresh = ("entirely different content about distributed joins and "
             "shuffle partitions with a vocabulary all of its own that "
             "overlaps nothing in the first document at all here ") * 2

    def write_docs(rows, n):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f{n}")

    def run():
        run_streaming_neardup_prep(
            spark, stream_source(spark, f"{src}/f*", schema),
            out, state, ckpt,
        )

    write_docs([(1, good, "sa")], 1)
    run()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1}

    # paraphrased re-send (tail edit) + genuinely new doc
    write_docs([(10, good + "extra tail words", "sa"), (11, fresh, "sb")], 2)
    run()
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 11}  # 10 suppressed by SHINGLE state, not bytes


# Spark jobs of one warm run_streaming_neardup_prep micro-batch (a
# one-file batch over a non-empty state, some survivors, no merge) on the
# fixture below, one job each: the clean + quality-gate pin (a
# one-partition batch is coalesced, not shuffled), the shingle pin, the
# batch-ids broadcast, the corpus-sizes broadcast, the collect of the
# dropped ids, one row per doc (the one-partition pair join, the pair
# aggregation and the grouping of the dropped ids run inside it), the
# split output write, and one write per state dir (shingles, sizes).
# Loading the state and probing the batch run none.
WARM_NEARDUP_BATCH_JOBS = 8
# The first micro-batch, over an empty state, loads empty local relations:
# the planner drops every state side, with its two broadcasts.
COLD_NEARDUP_BATCH_JOBS = 6


NEARDUP_SCHEMA = "doc_id long, text string, source string"
NEARDUP_WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                 "lambda mu nu xi omicron pi rho sigma tau upsilon").split()


def land_neardup_docs(spark, src, n, ids):
    """Land file ``f<n>``: doc ``i`` is one of 40 seeded texts, with one
    word edited by ``i % 7`` (so ids 40 apart are one-word edits)."""
    import random

    def doc(seed, edit):
        r = random.Random(seed)
        toks = [r.choice(NEARDUP_WORDS) if t % 3 else "the" for t in range(40)]
        toks[-1 - edit] = "edit"
        return " ".join(toks)

    rows = [(i, doc(i % 40, i % 7), f"s{i % 4}") for i in ids]
    spark.createDataFrame(rows, NEARDUP_SCHEMA).coalesce(1).write.parquet(
        f"{src}/f{n}"
    )


def test_warm_neardup_batch_runs_the_job_budget(spark, tmp_path):
    """Counted with the DAG scheduler's job counter: the micro-batch runs
    on the stream's own thread, which a job group set here misses. The
    warm batch, one file over a one-split state, also shuffles nothing:
    the batch, the state sides and the pair join are planned as one
    partition each, which the hash join's and the pair aggregation's
    clustering accept as is, so no SQL execution of it plans an exchange
    and it writes no shuffle bytes."""
    from entity_etl_spark.ext.prep import run_streaming_neardup_prep
    from tests.test_ext import _shuffle_write_bytes
    from tests.test_incremental_contract import SHUFFLE, executed_plans

    src = str(tmp_path / "src")
    sc = spark.sparkContext._jsc.sc()

    def drain():
        j0 = sc.dagScheduler().numTotalJobs()
        run_streaming_neardup_prep(
            spark,
            spark.readStream.schema(NEARDUP_SCHEMA).parquet(f"{src}/f*"),
            str(tmp_path / "out"),
            str(tmp_path / "state"),
            str(tmp_path / "ckpt"),
        )
        return sc.dagScheduler().numTotalJobs() - j0

    land_neardup_docs(spark, src, 1, range(1, 30))
    assert drain() == COLD_NEARDUP_BATCH_JOBS
    # 30-40 are new docs, 41-69 one-word edits of batch 1's 1-29
    land_neardup_docs(spark, src, 2, range(30, 70))
    jobs = []
    shuffled, trees = executed_plans(
        spark, lambda: _shuffle_write_bytes(spark, lambda: jobs.append(drain()))
    )
    assert jobs == [WARM_NEARDUP_BATCH_JOBS]
    assert any("ShuffledHashJoin" in t for t in trees), trees
    for tree in trees:
        assert not SHUFFLE.search(tree), tree
    assert shuffled == 0
    kept = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert kept == set(range(1, 41))


# Spark jobs of one warm pipeline.run_streaming micro-batch whose sink runs
# one action. A one-file micro-batch and the state each fit one split, so
# both are planned as one partition: neither the keep-latest window, nor
# the body aggregate, nor either join exchanges or broadcasts anything.
# - The runner's own 1 is the state write (the one-partition full outer
#   join). Loading the state with its known schema and probing the batch
#   run none.
# - The sink's action runs 2: the latest cache fill, and the bodies (the
#   delta's one-partition hash join of the batch and the state).
WARM_STREAMING_RUNNER_JOBS = 1
WARM_STREAMING_SINK_JOBS = 2


def test_warm_run_streaming_batch_runs_the_job_budget(spark, tmp_path):
    """Counted with the DAG scheduler's job counter, as the near-dup
    budget is. The second drain is one warm micro-batch: every key
    re-stamped, a quarter with new content."""
    import json

    from entity_etl_spark.model import EngineConfig
    from entity_etl_spark.pipeline import run_streaming

    schema = "id long, x string, updatedOnMs long"
    spec = TableSpec(name="s", id_field="id", ts_field="updatedOnMs")
    proj = [{"target": "out_id", "source": "id"},
            {"target": "out_x", "source": "x"}]
    cfg = EngineConfig(max_batch_size=7, state_dir=str(tmp_path / "state"))
    src = str(tmp_path / "src")
    sc = spark.sparkContext._jsc.sc()
    sent, sink_jobs = [], []

    def sink(bodies):
        j0 = sc.dagScheduler().numTotalJobs()
        for r in bodies.collect():
            sent.extend(json.loads(r["body"]))
        sink_jobs.append(sc.dagScheduler().numTotalJobs() - j0)

    def drain(n, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/f{n}"
        )
        sent.clear()
        sink_jobs.clear()
        j0 = sc.dagScheduler().numTotalJobs()
        run_streaming(
            spark, spec, spark.readStream.schema(schema).parquet(f"{src}/f*"),
            proj, cfg, sink, str(tmp_path / "ckpt"), now_epoch_ms=1_000,
        )
        total = sc.dagScheduler().numTotalJobs() - j0
        return total - sum(sink_jobs), sink_jobs

    drain(1, [(i, f"v{i}", 10) for i in range(40)])
    jobs = drain(2, [(i, f"v{i}{'x' * (i % 4 == 0)}", 20) for i in range(40)])
    assert sorted(e["out_id"] for e in sent) == list(range(0, 40, 4))
    assert jobs == (WARM_STREAMING_RUNNER_JOBS, [WARM_STREAMING_SINK_JOBS])


def test_neardup_prep_crash_replay_matches_a_clean_run(spark, tmp_path):
    """Micro-batch 1 crashes after its first state dir, its replay crashes
    after both, and a third drain completes it: the kept ids and the
    loaded state equal a run without crashes, the state holds every row
    once, and batch 1's key has one dir per table, replaced, not added."""
    import os

    from pyspark.sql import types as T

    from entity_etl_spark import state as state_mod
    from entity_etl_spark.ext import dedup
    from entity_etl_spark.ext.prep import run_streaming_neardup_prep
    from entity_etl_spark.streaming import checkpoint_query_id

    src = str(tmp_path / "src")
    land_neardup_docs(spark, src, 1, range(1, 30))
    land_neardup_docs(spark, src, 2, range(30, 70))
    land_neardup_docs(spark, src, 3, range(70, 100))

    def run(root):
        run_streaming_neardup_prep(
            spark,
            spark.readStream.schema(NEARDUP_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*"),
            f"{root}/out", f"{root}/state", f"{root}/ckpt",
        )
        kept = {r.doc_id for r in spark.read.parquet(f"{root}/out").collect()}
        sh, n = dedup.load_neardup_state(spark, f"{root}/state", T.LongType())
        rows = [sorted(map(tuple, df.collect())) for df in (sh, n)]
        return kept, *rows

    clean = run(str(tmp_path / "clean"))
    root = str(tmp_path / "crashed")
    write = dedup._write_neardup_dir
    for crash_table in ("doc_shingles", "doc_sizes"):

        def crashing(df, state_dir, table, name, *args):
            write(df, state_dir, table, name, *args)
            if table == crash_table and name.endswith("-1"):
                raise RuntimeError(f"crash after {table}")

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "_write_neardup_dir", crashing)
            with pytest.raises(Exception, match=f"crash after {crash_table}"):
                run(root)
    kept, sh_rows, n_rows = run(root)
    assert (kept, sh_rows, n_rows) == clean
    assert len(set(sh_rows)) == len(sh_rows)
    assert len({d for d, _ in n_rows}) == len(n_rows)
    qid = checkpoint_query_id(f"{root}/ckpt")
    for table in ("doc_shingles", "doc_sizes"):
        names = os.listdir(state_mod.state_path(f"{root}/state", table))
        assert sorted(names) == [f"{qid}-{b}" for b in range(3)]


def test_probe_batch_rows(spark, tmp_path, monkeypatch):
    """One empty-batch probe: 0 means skip the batch. The planned count
    comes from the module-level planned_batch_rows (so a patched probe
    applies); when it cannot tell, isEmpty() decides."""
    from entity_etl_spark import streaming

    df = spark.createDataFrame([(1,)], "id long")
    ckpt = str(tmp_path / "no_ckpt")
    # no checkpoint layout: the planned count is unknowable
    assert streaming.probe_batch_rows(df, ckpt, 0) is None
    assert streaming.probe_batch_rows(df.limit(0), ckpt, 0) == 0
    monkeypatch.setattr(streaming, "planned_batch_rows", lambda c, b: 0)
    assert streaming.probe_batch_rows(df, ckpt, 0) == 0
    monkeypatch.setattr(streaming, "planned_batch_rows", lambda c, b: 7)
    assert streaming.probe_batch_rows(df.limit(0), ckpt, 0) == 7


def _write_checkpoint(ckpt, offsets, source_log):
    """A checkpoint layout by hand: ``offsets`` maps batch id -> the one
    source offset, ``source_log`` maps a ``sources/0`` entry name -> its
    JSON records (the metadata line is not read by the probe)."""
    import json
    import os

    os.makedirs(os.path.join(ckpt, "offsets"))
    os.makedirs(os.path.join(ckpt, "sources", "0"))
    for bid, off in offsets.items():
        with open(os.path.join(ckpt, "offsets", str(bid)), "w") as fh:
            fh.write('v1\n{"batchWatermarkMs":0,"batchTimestampMs":0,"conf":{}}\n')
            fh.write(json.dumps(off) + "\n")
    for name, recs in source_log.items():
        with open(os.path.join(ckpt, "sources", "0", name), "w") as fh:
            fh.write("v1\n" + "".join(json.dumps(r) + "\n" for r in recs))


def _parquet(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"id": list(range(rows))}), path)
    return {"path": "file://" + path, "timestamp": 0, "action": "add"}


def test_planned_batch_rows_follows_the_file_source_log_offset(tmp_path):
    """The file-source log is indexed by its own logOffset, which stays
    put on no-data batches while batch ids advance. Batch 2 reads log
    entry 1 (5 rows), batch 3 reads log entries 2 and 3 (the latter from
    a compact file); a missing sources/0/<batch_id> is not an empty
    batch."""
    from entity_etl_spark.streaming import planned_batch_rows

    ckpt = str(tmp_path / "ckpt")
    a, b, c, d = (_parquet(str(tmp_path / f"{n}.parquet"), rows)
                  for n, rows in (("a", 3), ("b", 5), ("c", 2), ("d", 4)))
    _write_checkpoint(
        ckpt,
        {0: {"logOffset": 0}, 1: {"logOffset": 0}, 2: {"logOffset": 1},
         3: {"logOffset": 3}, 5: {"logOffset": 3}},
        {"0": [a], "1": [b], "2": [c],
         "3.compact": [dict(a, batchId=0), dict(b, batchId=1),
                       dict(c, batchId=2), dict(d, batchId=3)]},
    )
    assert [planned_batch_rows(ckpt, i) for i in range(4)] == [3, 0, 5, 6]
    # batch 4's offsets entry is missing: neither batch 4 nor batch 5
    # can be proven empty
    assert planned_batch_rows(ckpt, 4) is None
    assert planned_batch_rows(ckpt, 5) is None


def test_planned_batch_rows_never_reads_a_kafka_checkpoint_as_empty(
    spark, tmp_path
):
    """Kafka writes its initial offsets to sources/0/0 and nothing else
    there, so batches 1 and 2 have no sources/0/<batch_id> entry. Their
    offsets are not a file source's logOffset: the count is unknown, and
    the probe asks isEmpty() instead of skipping the batch."""
    from entity_etl_spark import streaming

    ckpt = str(tmp_path / "ckpt")
    _write_checkpoint(
        ckpt,
        {i: {"events": {"0": 10 * (i + 1)}} for i in range(3)},
        {"0": [{"events": {"0": 0}}]},
    )
    assert [streaming.planned_batch_rows(ckpt, i) for i in range(3)] == [
        None, None, None]
    df = spark.createDataFrame([(1,)], "id long")
    assert streaming.probe_batch_rows(df, ckpt, 2) is None
    assert streaming.probe_batch_rows(df.limit(0), ckpt, 2) == 0


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: built-in streaming dedup whose state
    for a key is dropped once the watermark passes its event time, so
    state is bounded without a custom processor. A re-send INSIDE the
    watermark window is suppressed even when its timestamp differs (the
    semantic dropDuplicates([...]) alone cannot express)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # same id twice with different ts inside the window + a distinct id
    write_batch(spark, src, [(1, 11, 0), (1, 11, 2), (2, 12, 1)], 1)
    collected = []
    stream = stream_source(spark, f"{src}/f*", SCHEMA)
    out = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["id"]
    )
    run_available_now(
        out, ckpt, lambda df, _bid: collected.extend(df.collect())
    )
    assert sorted(r["id"] for r in collected) == [1, 2]
    # the duplicate kept is the FIRST-arriving row per key
    assert {r["id"]: r["x"] for r in collected} == {1: 11, 2: 12}


def test_stateful_dedup_under_rocksdb_state_store(spark, tmp_path):
    """The watermark-bounded dedup the ``streaming_dedup_watermark`` query
    runs (``withWatermark`` + ``dropDuplicatesWithinWatermark``) drains
    correctly under the RocksDB state store provider — the 100 TB state
    backend (state spills to disk instead of living in executor heap;
    changelog checkpointing). No extra deps: RocksDB ships in Spark core."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider",
        )
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        xform = lambda s: s.withWatermark(
            "ts", "10 minutes"
        ).dropDuplicatesWithinWatermark(["id", "x"])
        write_batch(spark, src, [(1, 11, 0), (2, 12, 1)], 1)
        got1 = drain(spark, src, ckpt, xform)
        assert sorted(r["id"] for r in got1) == [1, 2]
        # re-send of 1 unchanged (suppressed by RocksDB-held state),
        # 2 changed, 3 new
        write_batch(spark, src, [(1, 11, 3), (2, 24, 4), (3, 13, 5)], 2)
        got2 = drain(spark, src, ckpt, xform)
        assert sorted(r["id"] for r in got2) == [2, 3]
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_available_now_drain_ends_under_processing_time_timers(spark, tmp_path):
    """A ``ProcessingTimeTimeout`` timer keeps an availableNow query alive
    after its source is drained: Spark keeps planning zero-input batches
    for the timers, so the query never terminates by itself. The drain
    must still end well inside its timeout, through the zero-input
    fallback (a file source reports no ``latestOffset``), with every row
    delivered to ``batch_fn``."""
    import time

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def count(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        n = (state.get[0] if state.exists else 0) + sum(len(p) for p in pdfs)
        state.update((n,))
        state.setTimeoutDuration(3_600_000)
        yield pd.DataFrame({"id": [key[0]], "n": [n]})

    src = str(tmp_path / "src")
    write_batch(spark, src, [(1, 1, 0), (2, 1, 1), (1, 1, 2)], 1)
    write_batch(spark, src, [(1, 1, 3), (3, 1, 4)], 2)
    counts = (
        stream_source(spark, f"{src}/f*", SCHEMA, max_files_per_trigger=1)
        .groupBy("id")
        .applyInPandasWithState(
            count,
            outputStructType="id long, n long",
            stateStructType="n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
    seen = {}
    t0 = time.monotonic()
    run_available_now(
        counts,
        str(tmp_path / "ckpt"),
        lambda df, _bid: seen.update((r["id"], r["n"]) for r in df.collect()),
        timeout_sec=60.0,
    )
    assert time.monotonic() - t0 < 30.0
    assert seen == {1: 3, 2: 1, 3: 1}


def test_stream_stream_left_outer_join_null_completion(spark, tmp_path):
    """LEFT OUTER stream-stream join: an unmatched left row is held in
    state until the watermark passes its join window, THEN emits with
    nulls — the semantics that make outer joins bounded-state (a row
    can only be declared unmatched once late data is impossible)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # x=1 purchases, x=2 signups; user 1 matches, user 9 never will
    write_batch(spark, src, [(1, 1, 5), (9, 1, 6), (1, 2, 4)], 1)

    def build(stream):
        purchases = (
            stream.filter("x = 1")
            .select("id", F.col("ts").alias("p_ts"))
            .withWatermark("p_ts", "5 minutes")
        )
        signups = (
            stream.filter("x = 2")
            .select(F.col("id").alias("s_id"), F.col("ts").alias("s_ts"))
            .withWatermark("s_ts", "5 minutes")
        )
        return purchases.join(
            signups,
            (purchases.id == signups.s_id)
            & (signups.s_ts >= purchases.p_ts - F.expr("INTERVAL 5 MINUTES"))
            & (signups.s_ts <= purchases.p_ts + F.expr("INTERVAL 5 MINUTES")),
            "left_outer",
        ).select("id", "p_ts", "s_id")

    collected = []
    stream = stream_source(spark, f"{src}/f*", SCHEMA)
    run_available_now(
        build(stream), ckpt,
        lambda df, _bid: collected.extend(df.collect()),
    )
    # inner part: user 1 matched; user 9 still pending (watermark has not
    # passed its window yet)
    assert {(r["id"], r["s_id"]) for r in collected} == {(1, 1)}

    # advance event time far past user 9's window; the held row completes
    # with a NULL right side. Eviction happens in the micro-batch AFTER
    # the one whose data moved the watermark, so: one file to advance it
    # (f2), one more batch to flush (f3) — maxFilesPerTrigger=1 keeps
    # them separate batches.
    # (rows on BOTH sides: the query watermark is the MIN across the two
    # withWatermark columns, so a side that never advances pins it)
    write_batch(spark, src, [(50, 1, 50), (60, 2, 50)], 2)
    write_batch(spark, src, [(51, 1, 51), (61, 2, 51)], 3)
    collected2 = []
    stream2 = stream_source(
        spark, f"{src}/f*", SCHEMA, max_files_per_trigger=1
    )
    run_available_now(
        build(stream2), ckpt,
        lambda df, _bid: collected2.extend(df.collect()),
    )
    null_completed = {r["id"] for r in collected2 if r["s_id"] is None}
    assert 9 in null_completed


def test_crash_recovery_exactly_once_with_batchid_idempotent_sink(
    spark, tmp_path
):
    """Fault injection: the sink crashes mid-run; a restart from the SAME
    checkpoint replays the failed micro-batch (at-least-once), and a
    batchId-keyed idempotent sink turns that into exactly-once output —
    the foreachBatch recovery contract a production pipeline relies on."""
    import pytest as _pytest
    from pyspark.sql.streaming import StreamingQueryException

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    write_batch(spark, src, [(1, 11, 0), (2, 12, 1)], 1)
    write_batch(spark, src, [(3, 13, 2), (4, 14, 3)], 2)

    sunk: dict[int, list] = {}   # batch_id -> rows (idempotent: keyed)
    crashed = {"armed": True}

    def sink(df, bid):
        rows = df.collect()
        if crashed["armed"] and bid == 1:
            crashed["armed"] = False
            raise RuntimeError("injected sink failure")
        # idempotent by batch id: a replayed batch overwrites, never appends
        sunk[bid] = rows

    def start():
        stream = stream_source(
            spark, f"{src}/f*", SCHEMA, max_files_per_trigger=1
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with _pytest.raises(StreamingQueryException, match="injected"):
        start()
    # batch 0 landed, batch 1 died mid-sink
    assert set(sunk) == {0}

    start()  # restart from the same checkpoint: replays batch 1 onward
    got = sorted(r["id"] for rows in sunk.values() for r in rows)
    assert got == [1, 2, 3, 4]  # every row exactly once
