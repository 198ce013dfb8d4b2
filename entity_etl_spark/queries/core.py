from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._base import (
    CUTOFF,
    DUCK_TS_FMT,
    SPARK_TS_FMT,
    Q,
    REGISTRY,
    _ts_str,
    changed_rows,
    read_sf_table,
    register,
    tsutil,
)


# ---------------------------------------------------------------------------
# Core reference operators (SURVEY §2.1)
# ---------------------------------------------------------------------------


@register(
    "incremental_scan",
    f"""
    SELECT event_id,
           strftime(ts, '{DUCK_TS_FMT}') AS ts_str,
           user_id, event_type, value
    FROM events
    WHERE ts > TIMESTAMP '{CUTOFF}'
    """,
    doc="O1/O3 app.js:76-82: source scan with the checkpoint predicate "
    "pushed into the scan (parquet row-group pruning).",
    tags=("core", "bench"),
)
def q_incremental_scan(spark: SparkSession, sf: str) -> DataFrame:
    from datetime import datetime, timezone

    from ..sources import read_events_since

    cutoff_us = int(
        datetime.strptime(CUTOFF, "%Y-%m-%d %H:%M:%S")
        .replace(tzinfo=timezone.utc)
        .timestamp()
        * 1_000_000
    )
    ev = read_events_since(spark, sf, cutoff_us)
    return ev.select(
        "event_id",
        _ts_str(F.col("ts")).alias("ts_str"),
        "user_id",
        "event_type",
        "value",
    )


@register(
    "filter_isin",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events
    WHERE event_type IN ('signup', 'purchase')
    GROUP BY event_type
    """,
    doc="O4 app.js:62-69: CLI-args type filter as an IN-list predicate.",
    tags=("core",),
)
def q_filter_isin(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    return (
        ev.filter(F.col("event_type").isin("signup", "purchase"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "semi_join_filter",
    """
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer
    WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
    GROUP BY c_nationkey
    """,
    doc="O4 app.js:22-25: template-exists guard as a left-semi join against "
    "the spec catalog (broadcast at scale: the catalog is tiny).",
    tags=("core",),
)
def q_semi_join_filter(spark: SparkSession, sf: str) -> DataFrame:
    cust = read_sf_table(spark, sf, "customer")
    nation = read_sf_table(spark, sf, "nation").filter(F.col("n_regionkey") == 2)
    return (
        cust.join(
            F.broadcast(nation),
            cust.c_nationkey == nation.n_nationkey,
            "left_semi",
        )
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "changed_rows",
    f"""
    WITH state AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '{CUTOFF}') WHERE rn = 1
    ), incoming AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts > TIMESTAMP '{CUTOFF}') WHERE rn = 1
    )
    SELECT i.user_id, i.event_type, i.value
    FROM incoming i LEFT JOIN state s ON i.user_id = s.user_id
    WHERE s.user_id IS NULL
       OR i.event_type <> s.event_type OR i.value <> s.value
    """,
    doc="O5 cache.js:69-85 (the core operator): new-or-changed rows vs the "
    "state snapshot, ignoring the event-time column — content hash + left "
    "join in Spark; field-equality in the oracle.",
    tags=("core", "bench"),
)
def q_changed_rows(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")

    def latest(df):
        w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", "event_type", "value")
        )

    cutoff = F.lit(CUTOFF).cast("timestamp")
    state = latest(ev.filter(F.col("ts") <= cutoff))
    incoming = latest(ev.filter(F.col("ts") > cutoff))
    from ..delta import with_content_hash, HASH_COL

    state_h = with_content_hash(state, exclude=()).select(
        "user_id", F.col(HASH_COL)
    )
    return changed_rows(incoming, state_h, "user_id", ignore=())


@register(
    "keep_latest_per_key",
    f"""
    SELECT user_id, event_id, event_type,
           strftime(ts, '{DUCK_TS_FMT}') AS ts_str
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
    doc="O15 cache.js:55-57: last-write-wins per key (Map.set) as a "
    "keep-latest window.",
    tags=("core", "bench"),
)
def q_keep_latest(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id", "event_id", "event_type", _ts_str(F.col("ts")).alias("ts_str")
        )
    )


@register(
    "projection_mapping",
    """
    SELECT CAST(c_custkey AS VARCHAR) AS cmdb_ci,
           c_name AS name,
           'Customer' AS type,
           'Acme' AS vendor,
           c_mktsegment AS segment,
           'balance=' || CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR)
             || ' nation=' || CAST(c_nationkey AS VARCHAR) AS comments
    FROM customer
    """,
    doc="O6/O8 templates/*.hbs via app.js:84-86: rename + literal columns + "
    "string interpolation, compiled to a select list.",
    tags=("core",),
)
def q_projection_mapping(spark: SparkSession, sf: str) -> DataFrame:
    cust = read_sf_table(spark, sf, "customer")
    return cust.select(
        F.col("c_custkey").cast("string").alias("cmdb_ci"),
        F.col("c_name").alias("name"),
        F.lit("Customer").alias("type"),
        F.lit("Acme").alias("vendor"),
        F.col("c_mktsegment").alias("segment"),
        F.concat(
            F.lit("balance="),
            F.col("c_acctbal").cast("decimal(12,2)").cast("string"),
            F.lit(" nation="),
            F.col("c_nationkey").cast("string"),
        ).alias("comments"),
    )


@register(
    "coalesce_fallback",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderpriority IS NOT NULL AND o_orderpriority <> ''
                THEN o_orderpriority ELSE o_orderstatus END AS label
    FROM orders
    """,
    doc="O7 templates/awsEc2.hbs:8: Handlebars #with fallback — empty string "
    "AND null are falsy (plain coalesce would keep '').",
    tags=("core",),
)
def q_coalesce_fallback(spark: SparkSession, sf: str) -> DataFrame:
    orders = read_sf_table(spark, sf, "orders")
    c = F.col("o_orderpriority")
    return orders.select(
        "o_orderkey",
        F.when(c.isNotNull() & (c != ""), c)
        .otherwise(F.col("o_orderstatus"))
        .alias("label"),
    )


@register(
    "to_json_rows",
    """
    SELECT '{"id":' || CAST(event_id AS VARCHAR)
           || ',"type":"' || event_type || '"}' AS json
    FROM events
    """,
    doc="O9 app.js:85: row → JSON string serialization (deterministic "
    "field order; built via concat in both engines so bytes match).",
    tags=("core",),
)
def q_to_json_rows(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    return ev.select(
        F.concat(
            F.lit('{"id":'),
            F.col("event_id").cast("string"),
            F.lit(',"type":"'),
            F.col("event_type"),
            F.lit('"}'),
        ).alias("json")
    )


@register(
    "batch_assembly",
    """
    WITH numbered AS (
      SELECT event_id,
             CAST(floor((row_number() OVER (ORDER BY event_id) - 1) / 1000)
                  AS BIGINT) AS batch_id
      FROM events
    )
    SELECT batch_id,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(min(event_id) AS BIGINT) AS first_id,
           CAST(max(event_id) AS BIGINT) AS last_id
    FROM numbered GROUP BY batch_id
    """,
    doc="O10 app.js:95-107: slice into maxBatchSize chunks "
    "(config.json:19) — batch ids via row_number, then per-batch array-agg.",
    tags=("core",),
)
def q_batch_assembly(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    w = Window.orderBy("event_id")
    return (
        ev.withColumn(
            "batch_id", F.floor((F.row_number().over(w) - 1) / F.lit(1000))
        )
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("event_id").alias("first_id"),
            F.max("event_id").alias("last_id"),
        )
    )


@register(
    "batch_assembly_hbs",
    """
    WITH numbered AS (
      SELECT '{"id":' || event_id || '}' AS js,
             CAST(floor((row_number() OVER (ORDER BY event_id) - 1) / 1000)
                  AS BIGINT) AS batch_id
      FROM events
    )
    SELECT batch_id,
           CAST(count(*) AS BIGINT) AS n_items,
           '[' || chr(10) || string_agg(js, ',' ORDER BY js) || chr(10)
               || ']' AS body
    FROM numbered GROUP BY batch_id
    """,
    doc="O10 request bodies through the reference's ACTUAL body template "
    "(templates/targetBody.hbs:1-3, inlined verbatim): {{#each}} compiled "
    "to transform+array_join Column expressions (hbs.compile_hbs_body / "
    "batch.assemble_bodies_hbs) — a migrating user's custom body template "
    "runs unmodified, distributed, zero UDFs. Byte-equal oracle (chr(10) "
    "prefix/suffix from the template literal; items sorted for retry "
    "determinism — the sink is an order-insensitive per-id upsert, "
    "reference README.md:161-171).",
    tags=("core",),
)
def q_batch_assembly_hbs(spark: SparkSession, sf: str) -> DataFrame:
    from ..batch import TARGET_BODY_HBS, assemble_bodies_hbs

    ev = read_sf_table(spark, sf, "events")
    w = Window.orderBy("event_id")
    batched = ev.select(
        F.concat(
            F.lit('{"id":'), F.col("event_id").cast("string"), F.lit("}")
        ).alias("json"),
        F.floor((F.row_number().over(w) - 1) / F.lit(1000)).alias(
            "__batch_id"
        ),
    )
    return assemble_bodies_hbs(batched, TARGET_BODY_HBS)


@register(
    "state_merge_upsert",
    f"""
    WITH unioned AS (
      SELECT user_id, event_type, value, ts, event_id, 0 AS prio
      FROM events WHERE ts <= TIMESTAMP '{CUTOFF}'
      UNION ALL
      SELECT user_id, event_type, value, ts, event_id, 1 AS prio
      FROM events WHERE ts > TIMESTAMP '{CUTOFF}'
    )
    SELECT user_id, event_type, value FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY prio DESC, ts DESC, event_id DESC) AS rn
      FROM unioned) WHERE rn = 1
    """,
    doc="O12 cache.js:50-58: MERGE/upsert last-write-wins — union + "
    "keep-latest window (Delta MERGE equivalent without Delta).",
    tags=("core", "bench"),
)
def q_state_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    cutoff = F.lit(CUTOFF).cast("timestamp")
    old = ev.filter(F.col("ts") <= cutoff).withColumn("prio", F.lit(0))
    new = ev.filter(F.col("ts") > cutoff).withColumn("prio", F.lit(1))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("prio"), F.desc("ts"), F.desc("event_id")
    )
    return (
        old.unionByName(new)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_type", "value")
    )


@register(
    "ttl_expiry",
    f"""
    SELECT user_id, CAST(count(*) AS BIGINT) AS live_events
    FROM events
    WHERE ts >= TIMESTAMP '{CUTOFF}'
    GROUP BY user_id
    """,
    doc="O13 cache.js:60-67: TTL purge — state rows older than the horizon "
    "are dropped during the merge.",
    tags=("core",),
)
def q_ttl_expiry(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    return (
        ev.filter(F.col("ts") >= F.lit(CUTOFF).cast("timestamp"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("live_events"))
    )


@register(
    "checkpoint_max",
    f"""
    SELECT strftime(max(ts), '{DUCK_TS_FMT}') AS max_ts_str,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    """,
    doc="O14 cache.js:99-119: checkpoint advance = max(updatedOnMs) — the "
    "reference sorts desc and takes head; here a map-side-combined max.",
    tags=("core",),
)
def q_checkpoint_max(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    return ev.agg(
        _ts_str(F.max("ts")).alias("max_ts_str"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "json_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
    doc="O9/JSON functions (app.js:73,81 res.json(); cache.js:26 "
    "JSON.parse): JSON field extraction from a string column.",
    tags=("core",),
)
def q_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    )


