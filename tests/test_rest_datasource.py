"""Python DataSource REST connector tests (rest_datasource.py — O1/O2/O3).

Covers: batch read over page files, REAL filter pushdown (the absorbed
predicate is not re-checked by Spark, so wrong absorption would surface as
wrong rows), unsupported-filter passthrough, live-fetcher drain loop, and
the streaming reader whose offset is the reference checkpoint
(cache.js:18,99-119)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from entity_etl_spark.rest_datasource import RestEntitiesDataSource

SCHEMA = "id STRING, value STRING, updatedOnMs LONG"


def _write_page(path, items, partial=False):
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"items": items, "partialResults": partial}, fh)


def _entity(i, ts, value="v"):
    return {"id": f"e{i}", "value": value, "updatedOnMs": ts}


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(RestEntitiesDataSource)
    # runtime conf, in case the shared session predates session.py's default
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark


@pytest.fixture()
def pages_dir(tmp_path):
    d = tmp_path / "pages"
    d.mkdir()
    _write_page(d / "page0.json", [_entity(1, 10), _entity(2, 20)], partial=True)
    _write_page(d / "page1.json", [_entity(3, 30), _entity(4, 40)], partial=False)
    return str(d)


def _read(spark, path):
    return spark.read.format("rest_entities").schema(SCHEMA).option("path", path).load()


def test_batch_read_all_pages_parallel(registered, pages_dir):
    df = _read(registered, pages_dir)
    assert sorted(r.id for r in df.collect()) == ["e1", "e2", "e3", "e4"]
    # one InputPartition per page file
    assert df.rdd.getNumPartitions() == 2


def test_time_predicate_pushed_to_source(registered, pages_dir):
    """The GreaterThan filter is absorbed by pushFilters and evaluated
    source-side; Spark does not re-apply it, so these assertions prove the
    pushdown is real (a broken absorb would leak e1/e2)."""
    df = _read(registered, pages_dir).filter(F.col("updatedOnMs") > 20)
    assert sorted(r.id for r in df.collect()) == ["e3", "e4"]
    gte = _read(registered, pages_dir).filter(F.col("updatedOnMs") >= 30)
    assert sorted(r.id for r in gte.collect()) == ["e3", "e4"]


def test_unsupported_filters_stay_with_spark(registered, pages_dir):
    df = (
        _read(registered, pages_dir)
        .filter(F.col("updatedOnMs") > 10)
        .filter(F.col("id") == "e3")
    )
    assert [r.id for r in df.collect()] == ["e3"]


def test_null_ts_rows_dropped_when_not_null_pushed(registered, tmp_path):
    d = tmp_path / "p"
    d.mkdir()
    _write_page(d / "p0.json", [_entity(1, 10), {"id": "bad", "value": "x"}])
    df = _read(registered, str(d)).filter(F.col("updatedOnMs").isNotNull())
    assert [r.id for r in df.collect()] == ["e1"]


def test_live_fetcher_drains_pagination(registered, pages_dir):
    """fetcher mode: the do…while(partialResults) loop (app.js:48-59) runs on
    the executor; the pushed time bound becomes the initial cursor."""
    fixture = os.path.join(os.path.dirname(__file__), "rest_fetcher_fixture.py")
    registered.sparkContext.addPyFile(fixture)
    df = (
        registered.read.format("rest_entities")
        .schema(SCHEMA)
        .option("fetcher", "rest_fetcher_fixture:fetch_pages")
        .option("pagesdir", pages_dir)
        .load()
        .filter(F.col("updatedOnMs") > 10)
    )
    assert sorted(r.id for r in df.collect()) == ["e2", "e3", "e4"]


def test_stream_offset_is_reference_checkpoint(registered, tmp_path):
    """Streaming: initial offset updatedFromMs=1 (cache.js:18); each batch
    advances it to max(updatedOnMs) (cache.js:99-119); a restarted query
    resumes from the persisted offset and re-reads nothing."""
    pages = tmp_path / "stream_pages"
    pages.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _write_page(pages / "p0.json", [_entity(1, 10), _entity(2, 20)])

    def run_batch():
        q = (
            registered.readStream.format("rest_entities")
            .schema(SCHEMA)
            .option("path", str(pages))
            .load()
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return {r.id for r in registered.read.schema(SCHEMA).json(out).collect()}

    assert run_batch() == {"e1", "e2"}
    # new data arrives; ts=5 is BELOW the committed offset → the resumed
    # cursor scan skips it (same contract as the reference: checkpoint is a
    # high-water mark; late rows below it are the TTL/overlap path,
    # README.md:305-309). e1/e2 appearing only once proves the restart
    # resumed from the persisted offset instead of re-reading history.
    _write_page(pages / "p1.json", [_entity(3, 30), _entity(9, 5)])
    assert run_batch() == {"e1", "e2", "e3"}
    rows = registered.read.schema(SCHEMA).json(out).collect()
    assert len(rows) == 3  # no duplicates → nothing was re-read


def test_streaming_pipeline_end_to_end(registered, tmp_path):
    """rest_entities stream -> foreachBatch(run_incremental transition):
    offsets suppress re-reads; content-hash state suppresses the
    bumped-ts-no-change re-send that offsets cannot catch (cache.js:69-85)."""
    import json as _json

    from entity_etl_spark import pipeline
    from entity_etl_spark.model import EngineConfig, TableSpec

    pages = tmp_path / "pages"
    pages.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _write_page(pages / "p0.json", [_entity(1, 10, "a"), _entity(2, 20, "b")])

    spec = TableSpec(name="sevents", id_field="id", ts_field="updatedOnMs")
    proj = [{"target": "out_id", "source": "id"},
            {"target": "out_value", "source": "value"}]
    cfg = EngineConfig(state_dir=str(tmp_path / "state"), max_batch_size=10)
    got = []

    def sink(bodies):
        for r in bodies.collect():
            got.extend(_json.loads(r["body"]))

    def run():
        stream = (
            registered.readStream.format("rest_entities")
            .schema(SCHEMA)
            .option("path", str(pages))
            .load()
        )
        pipeline.run_streaming(registered, spec, stream, proj, cfg, sink, ckpt)

    run()
    assert sorted(e["out_id"] for e in got) == ["e1", "e2"]

    # p1: e1 re-served with bumped ts but SAME content (must be suppressed
    # by the hash state); e2 actually changed; e3 new
    got.clear()
    _write_page(pages / "p1.json",
                [_entity(1, 30, "a"), _entity(2, 31, "B"), _entity(3, 32, "c")])
    run()
    assert sorted((e["out_id"], e["out_value"]) for e in got) == [
        ("e2", "B"), ("e3", "c")]

    # nothing new: no batch, no emissions
    got.clear()
    run()
    assert got == []


def test_probe_keeps_rest_batches_beside_a_file_source(registered, tmp_path):
    """A file stream unioned with a rest_entities stream: the file source
    owns sources/0, the REST source adds a second offset. A batch where
    only the REST pages moved has no sources/0/<batch_id> entry, yet it
    carries data, and the empty-batch probe must not skip it."""
    from entity_etl_spark.streaming import probe_batch_rows

    files, pages = tmp_path / "files", tmp_path / "pages"
    pages.mkdir()
    ckpt = str(tmp_path / "ckpt")
    registered.createDataFrame([_entity(1, 10)], SCHEMA).coalesce(1).write.parquet(
        str(files / "f0")
    )
    _write_page(pages / "p0.json", [_entity(2, 20)])
    got = []

    def sink(df, batch_id):
        if probe_batch_rows(df, ckpt, batch_id) != 0:
            got.extend(r.id for r in df.collect())

    def drain():
        stream = registered.readStream.schema(SCHEMA).parquet(
            str(files / "f*")
        ).unionByName(
            registered.readStream.format("rest_entities")
            .schema(SCHEMA)
            .option("path", str(pages))
            .load()
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    drain()
    assert sorted(got) == ["e1", "e2"]
    got.clear()
    _write_page(pages / "p1.json", [_entity(3, 30)])
    drain()
    assert got == ["e3"]


def test_max_pages_per_trigger_backpressure(registered, tmp_path):
    """maxPagesPerTrigger=2 over 4 pages: the drain takes two micro-batches
    of exactly 2 pages' rows each; the time high-water mark stays FIXED
    until the pass completes (mid-drain restart must not drop rows from
    later pages), then jumps to the max observed; an idle source
    quiesces (no empty-batch cycling)."""
    pages = tmp_path / "bp_pages"
    pages.mkdir()
    for i in range(4):
        _write_page(
            pages / f"p{i}.json",
            [_entity(2 * i, 10 * (2 * i + 1)), _entity(2 * i + 1, 10 * (2 * i + 2))],
            partial=i < 3,
        )
    ckpt = str(tmp_path / "bp_ckpt")
    batches = []

    def sink(df, epoch_id):
        batches.append(sorted(r.id for r in df.collect()))

    q = (
        registered.readStream.format("rest_entities")
        .schema(SCHEMA)
        .option("path", str(pages))
        .option("maxPagesPerTrigger", "2")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    non_empty = [b for b in batches if b]
    assert non_empty == [
        ["e0", "e1", "e2", "e3"],   # pages p0+p1
        ["e4", "e5", "e6", "e7"],   # pages p2+p3 → HWM advances to 80
    ]
    # late row below the committed HWM is skipped; a genuinely new row in a
    # later page is picked up even though an earlier page was re-listed
    _write_page(pages / "p4.json", [_entity(9, 5), _entity(10, 90)], partial=False)
    batches.clear()
    q = (
        registered.readStream.format("rest_entities")
        .schema(SCHEMA)
        .option("path", str(pages))
        .option("maxPagesPerTrigger", "2")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert [b for b in batches if b] == [["e10"]]


def test_writer_batches_and_round_trips(registered, tmp_path):
    """O11 in DSv2 form: rows slice into <= maxBatchSize page envelopes,
    temp files RENAME into place only at job commit, and the reader
    round-trips what the writer produced."""
    out = str(tmp_path / "sink_pages")
    df = registered.createDataFrame(
        [(f"e{i}", "v", 10 * (i + 1)) for i in range(5)], SCHEMA
    ).coalesce(1)
    (
        df.write.format("rest_entities")
        .option("path", out)
        .option("maxBatchSize", "2")
        .mode("append")
        .save()
    )
    files = sorted(os.listdir(out))
    assert all(f.endswith(".json") for f in files)  # no leftover temps
    sizes = sorted(
        len(json.load(open(os.path.join(out, f)))["items"]) for f in files
    )
    assert sizes == [1, 2, 2] and len(files) == 3
    back = _read(registered, out)
    assert {r.id for r in back.collect()} == {f"e{i}" for i in range(5)}


def test_writer_fail_fast_aborts_cleanly(registered, tmp_path):
    """A poster raising (non-2xx) fails the job and the abort path removes
    every staged temp file — no half-committed pages."""
    out = str(tmp_path / "sink_fail")
    df = registered.createDataFrame([("e1", "v", 10)], SCHEMA)
    with pytest.raises(Exception, match="non-2xx|simulated"):
        (
            df.write.format("rest_entities")
            .option("path", out)
            .option("poster", "rest_fetcher_fixture:post_fail")
            .mode("append")
            .save()
        )
    leftover = os.listdir(out) if os.path.isdir(out) else []
    assert [f for f in leftover if f.endswith(".json")] == []


def test_writer_live_poster_receives_bodies(registered, tmp_path):
    """Live transport: each batch body goes through the poster callable."""
    log = str(tmp_path / "post.log")
    df = registered.createDataFrame(
        [(f"e{i}", "v", i + 1) for i in range(3)], SCHEMA
    ).coalesce(1)
    (
        df.write.format("rest_entities")
        .option("poster", "rest_fetcher_fixture:post_record")
        .option("postlog", log)
        .option("maxBatchSize", "2")
        .mode("append")
        .save()
    )
    bodies = [json.loads(line) for line in open(log).read().splitlines()]
    assert [len(b["items"]) for b in bodies] == [2, 1]
