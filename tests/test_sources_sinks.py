"""REST-source pagination and HTTP-sink tests (O1/O11)."""

import pytest
from pyspark.sql import functions as F

from entity_etl_spark.batch import assemble_bodies, assign_batches
from entity_etl_spark.mapping import to_json_rows
from entity_etl_spark.sinks import _planned_single_partition, http_sink
from entity_etl_spark.sources import Catalog, rest_source
from entity_etl_spark.model import TableSpec


def test_rest_source_drains_pages(spark):
    # two pages: first partial, second final (reference do…while,
    # app.js:48-59)
    pages = [
        {"items": [{"id": 1, "x": 11, "updatedOnMs": 10},
                   {"id": 2, "x": 12, "updatedOnMs": 20}],
         "partialResults": True},
        {"items": [{"id": 3, "x": 13, "updatedOnMs": 30}],
         "partialResults": False},
    ]
    calls = []

    def fetch_page(updated_from_ms):
        calls.append(updated_from_ms)
        return pages[len(calls) - 1]

    df, saw_partial = rest_source(spark, fetch_page, checkpoint_ms=1)
    assert saw_partial is True
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 3]
    assert calls == [1, 20]  # second request resumes from the page max


def test_rest_source_empty(spark):
    df, saw_partial = rest_source(
        spark, lambda _: {"items": [], "partialResults": False}, 1
    )
    assert df.count() == 0
    assert saw_partial is False


def test_rest_source_tie_bump_progress(spark):
    # a partial page whose max equals the cursor must advance anyway
    # (reference cache.js:114-117 forward-progress rule)
    calls = []

    def fetch_page(updated_from_ms):
        calls.append(updated_from_ms)
        if len(calls) == 1:
            return {"items": [{"id": 1, "x": 1, "updatedOnMs": 10}],
                    "partialResults": True}
        return {"items": [], "partialResults": False}

    rest_source(spark, fetch_page, checkpoint_ms=10)
    assert calls == [10, 11]


def test_catalog_select():
    cat = Catalog([TableSpec("a", "id"), TableSpec("b", "id")])
    assert [s.name for s in cat.select()] == ["a", "b"]
    assert [s.name for s in cat.select(["b", "zz"])] == ["b"]


@pytest.fixture(params=["one_partition", "several_partitions"])
def bodies(spark, request):
    """Three bodies of ten rows, planned as one partition (``http_sink``
    sends them from the driver) or as several (from the executors)."""
    one = request.param == "one_partition"
    df = spark.range(0, 10, numPartitions=1 if one else 4).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    batched = assign_batches(to_json_rows(df), 4, ["json"])
    out = assemble_bodies(batched)
    if not one:
        out = out.repartition(2)
    assert _planned_single_partition(out.select("body")) == one
    return out


def test_http_sink_posts_every_batch(bodies):
    # the injected transport runs on the driver or executor-side, pickled
    # even in local mode: it records each body as a side-effect file
    import json
    import tempfile, os, glob

    d = tempfile.mkdtemp()

    def post(body: str) -> int:
        with open(os.path.join(d, f"{abs(hash(body))}.json"), "w") as f:
            f.write(body)
        return 200

    http_sink(bodies, post)
    files = glob.glob(os.path.join(d, "*.json"))
    assert len(files) == 3  # 10 rows / batch 4 -> 3 bodies
    items = [x for p in files for x in json.loads(open(p).read())]
    assert len(items) == 10


def test_http_sink_fails_fast_on_non_2xx(bodies):
    with pytest.raises(Exception):
        http_sink(bodies, lambda body: 503)


def test_http_sink_retries_transient_and_fails_fast_on_4xx(bodies, tmp_path):
    """Fault injection on the batch writer: each request's FIRST attempt
    times out (exception) and second gets a 503 — with max_retries=2 the
    third attempt lands every body; retries reuse the same
    Idempotency-Key. A 4xx must not retry at all (malformed bodies never
    heal)."""
    import glob
    import os

    d = str(tmp_path)

    def flaky_post(body: str, key: str) -> int:
        attempts = sorted(glob.glob(os.path.join(d, f"try_{key}_*")))
        n = len(attempts)
        open(os.path.join(d, f"try_{key}_{n}"), "w").close()
        if n == 0:
            raise ConnectionError("injected timeout")
        if n == 1:
            return 503
        with open(os.path.join(d, f"ok_{key}"), "w") as f:
            f.write(body)
        return 200

    http_sink(bodies, flaky_post, max_retries=2, backoff_s=0.0)
    assert len(glob.glob(os.path.join(d, "ok_*"))) == 3
    # exactly 3 attempts per body, all sharing one idempotency key
    keys = {p.split("try_")[1].rsplit("_", 1)[0]
            for p in glob.glob(os.path.join(d, "try_*"))}
    assert len(keys) == 3
    for key in keys:
        assert len(glob.glob(os.path.join(d, f"try_{key}_*"))) == 3

    # 4xx: fail fast, exactly one attempt even with retries enabled
    d4 = os.path.join(d, "c4")
    os.makedirs(d4)

    def bad_request(body: str, key: str) -> int:
        n = len(glob.glob(os.path.join(d4, f"try_{key}_*")))
        open(os.path.join(d4, f"try_{key}_{n}"), "w").close()
        return 400

    with pytest.raises(Exception, match="400"):
        http_sink(bodies, bad_request, max_retries=5, backoff_s=0.0)
    per_key = {}
    for p in glob.glob(os.path.join(d4, "try_*")):
        k = p.split("try_")[1].rsplit("_", 1)[0]
        per_key[k] = per_key.get(k, 0) + 1
    assert all(v == 1 for v in per_key.values())


def test_http_sink_partition_replay_is_idempotent_by_key(bodies, tmp_path):
    """The at-least-once hazard the sequential reference never has: a
    Spark task dying mid-partition is re-run from the partition's first
    row, re-sending already-delivered bodies. Simulate the replay by
    running the sink twice; a receiver that upserts by Idempotency-Key
    must end with exactly one record per body."""
    import glob
    import os

    d = str(tmp_path)

    def upsert_by_key(body: str, key: str) -> int:
        with open(os.path.join(d, f"rec_{key}"), "w") as f:
            f.write(body)
        return 200

    http_sink(bodies, upsert_by_key)
    http_sink(bodies, upsert_by_key)  # replayed delivery
    assert len(glob.glob(os.path.join(d, "rec_*"))) == 3


def test_read_table_formats_round_trip(spark, tmp_path):
    from entity_etl_spark.sinks import write_json, write_parquet
    from entity_etl_spark.sources import read_table

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    write_parquet(df, str(tmp_path / "p"))
    write_json(df, str(tmp_path / "j"))
    df.write.mode("overwrite").option("header", "true").csv(str(tmp_path / "c"))

    assert read_table(spark, str(tmp_path / "p"), "parquet").count() == 2
    got_j = read_table(spark, str(tmp_path / "j"), "json")
    assert sorted(r["s"] for r in got_j.collect()) == ["a", "b"]
    got_c = read_table(spark, str(tmp_path / "c"), "csv")
    assert sorted(r["s"] for r in got_c.collect()) == ["a", "b"]
    df.write.mode("overwrite").orc(str(tmp_path / "o"))
    got_o = read_table(spark, str(tmp_path / "o"), "orc")
    assert sorted(r["s"] for r in got_o.collect()) == ["a", "b"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_table(spark, str(tmp_path / "p"), "avro-nope")


def test_reference_catalog_covers_all_specs():
    from entity_etl_spark.mapping import load_projection_specs
    from entity_etl_spark.sources import reference_catalog

    cat = reference_catalog()
    assert set(cat.names()) == set(load_projection_specs())
    assert cat.get("awsEc2").id_field == "AWSUniqueId"
    assert cat.get("azureVm").id_field == "azure_vm_id"
    assert cat.get("gce").id_field == "gcp_id"
    assert all(cat.get(n).ts_field == "updatedOnMs" for n in cat.names())


def test_write_training_shards_layout(spark, tmp_path):
    import glob

    from entity_etl_spark.sinks import write_training_shards

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 8, "train")
        .when(F.col("id") % 10 == 8, "val")
        .otherwise("test")
        .alias("split"),
    )
    out = str(tmp_path / "shards")
    write_training_shards(
        df, out, shard_key="doc_id", n_shards=4, max_records_per_file=200
    )
    for split, n in (("train", 2400), ("val", 300), ("test", 300)):
        files = glob.glob(f"{out}/split={split}/*.parquet")
        assert files, split
        back = spark.read.parquet(f"{out}/split={split}")
        assert back.count() == n
        # the cap splits oversized shards at write time
        for f in files:
            assert spark.read.parquet(f).count() <= 200
    # deterministic membership: re-write -> identical doc_id -> file-set sizes
    whole = spark.read.parquet(out)
    assert whole.count() == 3000
    assert whole.select("doc_id").distinct().count() == 3000


def test_write_parquet_with_metrics_single_job(spark, tmp_path):
    from entity_etl_spark.sinks import write_parquet_with_metrics

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "id long, s string"
    )
    out = str(tmp_path / "obs_out")
    got = write_parquet_with_metrics(df, out)
    assert got == {"rows": 3, "null_free_rows": 2}
    assert spark.read.parquet(out).count() == 3


def test_compact_parquet_small_files(spark, tmp_path):
    from entity_etl_spark.sinks import compact_parquet

    path = str(tmp_path / "frag")
    # 8 tiny files from 8 incremental writes
    for i in range(8):
        spark.range(i * 10, (i + 1) * 10).write.mode(
            "append"
        ).parquet(path)
    before = spark.read.parquet(path)
    assert before.count() == 80
    got = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert got["files_before"] >= 8
    assert got["files_after"] == 1
    assert got["rows"] == 80
    after = spark.read.parquet(path)
    assert after.count() == 80
    assert sorted(r.id for r in after.collect()) == list(range(80))


def test_compact_parquet_crash_reentrancy(spark, tmp_path):
    """Leftover generations from an interrupted compaction must not be
    silently clobbered: a stale '.old' (holds the only good copy if the
    crash hit between the renames) fails fast with recovery guidance; a
    stale '.compact_tmp' (crash during the write — nothing references
    it) is discarded and the run proceeds."""
    import os

    import pytest

    from entity_etl_spark.sinks import compact_parquet

    path = str(tmp_path / "frag")
    spark.range(20).write.parquet(path)

    # stale tmp dir: cleaned up, compaction succeeds
    os.makedirs(path + ".compact_tmp/junk")
    got = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert got["rows"] == 20
    assert not os.path.exists(path + ".compact_tmp")

    # stale .old dir: refuse to run, name both paths in the message
    os.makedirs(path + ".old")
    with pytest.raises(RuntimeError, match=r"\.old"):
        compact_parquet(spark, path, target_file_bytes=1 << 30)
    # table untouched by the refused run
    assert spark.read.parquet(path).count() == 20


def test_http_sink_key_passing_respects_transport_signature(bodies, tmp_path):
    """Arity detection counts only REQUIRED POSITIONAL params: a transport
    like post(body, timeout=30) must NOT be handed the idempotency key (it
    would silently bind to timeout), while post(body, key) and
    post(body, key=...) positional-or-keyword forms must receive it."""
    import glob
    import os

    d1 = str(tmp_path / "no_key")
    os.makedirs(d1)

    def post_with_default(body: str, timeout: int = 30) -> int:
        # the key must NOT arrive here: timeout stays an int
        assert isinstance(timeout, int)
        with open(os.path.join(d1, f"{abs(hash(body))}.json"), "w") as f:
            f.write(body)
        return 200

    http_sink(bodies, post_with_default)
    assert len(glob.glob(os.path.join(d1, "*.json"))) == 3

    d2 = str(tmp_path / "with_key")
    os.makedirs(d2)

    def post_with_key(body: str, key: str) -> int:
        assert isinstance(key, str) and len(key) == 32  # md5 hex
        with open(os.path.join(d2, f"{key}.json"), "w") as f:
            f.write(body)
        return 200

    http_sink(bodies, post_with_key)
    assert len(glob.glob(os.path.join(d2, "*.json"))) == 3

    d3 = str(tmp_path / "kw_only")
    os.makedirs(d3)

    def post_kw_only(body: str, *, timeout: int = 5) -> int:
        # keyword-only param can't take a positional key: must get 1 arg
        assert isinstance(timeout, int)
        with open(os.path.join(d3, f"{abs(hash(body))}.json"), "w") as f:
            f.write(body)
        return 200

    http_sink(bodies, post_kw_only)
    assert len(glob.glob(os.path.join(d3, "*.json"))) == 3
