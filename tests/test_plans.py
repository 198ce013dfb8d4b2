"""Plan-quality regression tests: the physical properties the engine
depends on at scale must survive refactors."""

import re

from pyspark.sql import functions as F


def plan_of(df):
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df, spark):
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_incremental_scan_predicate_reaches_parquet(spark):
    """The checkpoint predicate must be pushed into the events scan even
    though the ts column needs a nanos->micros conversion (monotonic
    rewrite, sources.read_events_since)."""
    from entity_etl_spark.sources import read_events_since

    df = read_events_since(spark, "/root/testdata/sf0.001", 1_705_708_800_000_000)
    plan = formatted_plan(df, spark)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "GreaterThan(ts" in m.group(1)


def test_q1_scan_prunes_columns(spark):
    """Group-by aggregate must not read columns it does not use."""
    from entity_etl_spark.queries import REGISTRY

    plan = formatted_plan(
        REGISTRY["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001"), spark
    )
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert "l_orderkey" not in read_cols     # unused columns pruned
    assert "l_comment" not in read_cols
    assert {"l_quantity", "l_returnflag"} <= read_cols


def test_top_orders_broadcasts_dimension(spark):
    """The filtered customer dimension must broadcast, not shuffle."""
    from entity_etl_spark.queries import REGISTRY

    plan = formatted_plan(
        REGISTRY["top_orders_revenue"].fn(spark, "/root/testdata/sf0.001"), spark
    )
    assert "BroadcastHashJoin" in plan
    # top-k must not global-sort: TakeOrderedAndProject caps it
    assert "TakeOrderedAndProject" in plan


def test_asof_join_single_exchange(spark):
    """asof_join is one window over one shuffle — no join operator, no
    second exchange."""
    from entity_etl_spark.operators import asof_join
    from entity_etl_spark.sources import read_sf_table

    ev = read_sf_table(spark, "/root/testdata/sf0.001", "events")
    purchases = ev.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    signups = ev.filter("event_type = 'signup'").select(
        "user_id", ev.ts.alias("signup_ts")
    )
    plan = formatted_plan(
        asof_join(purchases, signups, "user_id", "ts", "signup_ts", ["signup_ts"]),
        spark,
    )
    body = plan.split("== Physical Plan ==")[-1]
    n_exchanges = len(re.findall(r"\bExchange\b", body.split("===== Subqueries")[0]))
    assert "Join" not in body or "SortMergeJoin" not in body
    assert n_exchanges <= 2  # one shuffle (plan text may repeat the node)


def test_simhash_blocked_join_is_hash_join(spark):
    """The SimHash pair search must equi-join on the rotated block key —
    never the all-pairs BroadcastNestedLoopJoin (VERDICT r1 item 3)."""
    from entity_etl_spark.ext.dedup import simhash_near_dups
    from entity_etl_spark.sources import read_sf_table

    docs = read_sf_table(spark, "/root/testdata/sf0.001", "documents")
    plan = plan_of(simhash_near_dups(docs, "doc_id", "text"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan  # BroadcastHashJoin or ShuffledHashJoin


def test_exact_dedup_shuffles_two_columns_only(spark):
    """exact_dedup's fp-keyed aggregation exchange must carry only
    (fingerprint, id) — never document bodies (VERDICT r1 item 4)."""
    from entity_etl_spark.ext.dedup import exact_dedup
    from entity_etl_spark.sources import read_sf_table

    docs = read_sf_table(spark, "/root/testdata/sf0.001", "documents")
    plan = formatted_plan(exact_dedup(docs, ["text"], "doc_id"), spark)
    # every hashpartitioning exchange in the plan is keyed by the
    # fingerprint (winner aggregation) or the id (semi join) — grab the
    # aggregate exchange's input and check its width
    body = plan.split("== Physical Plan ==")[-1]
    m = re.search(r"Arguments: hashpartitioning\(__fp[^,]*,", body)
    assert m, body
    # the HashAggregate feeding that exchange must project only fp + id
    m2 = re.search(
        r"HashAggregate.*?\n.*?Input \[2\]: \[__fp[^,]*, (?:__id|min)[^\]]*\]",
        body,
    )
    assert m2 is not None or "Input [2]" in body, body


def test_pack_sequences_single_exchange_per_shard_key(spark):
    """Sequence packing is one window over one shard-keyed shuffle plus a
    generator — no extra exchange, no join."""
    from entity_etl_spark.ext.packing import pack_sequences
    from entity_etl_spark.ext.text import token_count
    from entity_etl_spark.sources import read_sf_table

    docs = read_sf_table(spark, "/root/testdata/sf0.001", "documents").select(
        "source", "doc_id", token_count("text").alias("n")
    )
    plan = formatted_plan(
        pack_sequences(docs, "n", 1024, "source", "doc_id"), spark
    )
    body = plan.split("== Physical Plan ==")[-1].split("===== Subqueries")[0]
    assert len(re.findall(r"\(\d+\) Exchange", body)) == 1
    assert "Join" not in body
    assert "Generate" in body  # the explode


def test_pii_redact_is_map_only(spark):
    """PII redaction must be a single map-only scan: no exchange at all."""
    from entity_etl_spark.ext.pii import pii_counts, redact_pii
    from entity_etl_spark.sources import read_sf_table

    docs = read_sf_table(spark, "/root/testdata/sf0.001", "documents")
    out = docs.select("doc_id", *pii_counts("text"), redact_pii("text"))
    plan = formatted_plan(out, spark)
    body = plan.split("== Physical Plan ==")[-1]
    assert "Exchange" not in body
    # '*(1)' prefix = the whole projection runs in one codegen stage
    assert plan_of(out).startswith("*(1)")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned layout + a partition-column predicate must prune at
    planning time: the scan reads ONE partition directory, and the filter
    appears as a PartitionFilter, not a data filter."""
    from entity_etl_spark.sources import read_sf_table

    ev = read_sf_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "ev_by_type")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).filter("event_type = 'purchase'")
    plan = formatted_plan(back, spark)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan
    # the predicate must NOT degrade to a post-scan data filter
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed is None or "event_type" not in pushed.group(1)
    assert back.count() == ev.filter("event_type = 'purchase'").count()


def test_salted_join_is_hash_join_no_nested_loop(spark):
    """The salted join must plan an equi hash join on (key, salt) — never a
    BroadcastNestedLoopJoin (that would defeat the whole point)."""
    from entity_etl_spark.operators import salted_join

    facts = spark.range(0, 10000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("fid"))
    dim = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    plan = plan_of(salted_join(facts, dim, ["k"], salt_buckets=8,
                               salt_on="fid"))
    assert "NestedLoop" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_winsorize_broadcasts_group_stats(spark):
    """The per-group percentile table must broadcast back onto the rows."""
    from entity_etl_spark.operators import winsorize

    df = spark.range(0, 10000).select(
        (F.col("id") % 5).cast("string").alias("g"),
        (F.col("id") % 997).cast("double").alias("v"))
    plan = plan_of(winsorize(df, "v", ["g"]))
    assert "BroadcastHashJoin" in plan, plan


def test_scd2_history_single_exchange(spark):
    """Change-point window + interval window share one (key, time) ordering:
    ONE Exchange, one Sort."""
    from entity_etl_spark.state import scd2_history

    df = spark.createDataFrame(
        [("a", "x", 1, 1)], "k string, v string, t long, eid long")
    plan = plan_of(scd2_history(df, "k", "v", "t", "eid"))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_merge_scd2_closed_rows_bypass_shuffle(spark):
    """Closed history rows union AROUND the windowed tail — the plan's
    exchanges must touch only the current+incoming side."""
    from entity_etl_spark.state import merge_scd2, scd2_history

    hist = scd2_history(
        spark.createDataFrame(
            [("a", "x", 1, 1), ("a", "y", 2, 2)],
            "k string, v string, t long, eid long"),
        "k", "v", "t", "eid").localCheckpoint()
    batch = spark.createDataFrame(
        [("a", "z", 5, 9)], "k string, v string, t long, eid long")
    plan = plan_of(merge_scd2(hist, batch, "k", "v", "t", "eid"))
    # one exchange for the re-windowed tail; the closed branch is a plain
    # filter feeding the union
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Union" in plan


def test_aqe_splits_skewed_join(spark):
    """With AQE skew-join thresholds forced low, a hot key must trigger the
    runtime skew split (the automatic path; operators.salted_join is the
    manual fallback)."""
    import pyspark.sql.functions as SF

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        skewed = spark.range(0, 200_000).select(
            SF.when(SF.col("id") % 10 < 9, 0).otherwise(SF.col("id")).alias("k"),
            SF.sha2(SF.col("id").cast("string"), 256).alias("pad"))
        right = spark.range(0, 2000).select(
            SF.col("id").alias("k"), SF.lit("x").alias("v"))
        joined = skewed.join(right, "k")
        joined.collect()  # materialize THIS plan so AQE finalizes it
        plan = plan_of(joined)
        assert "isSkew=true" in plan or "skew=" in plan.lower(), plan[:4000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_join_strategy_hints_control_physical_plan(spark):
    """Join-strategy hints are the manual override when stats mislead the
    planner at scale: SHUFFLE_HASH avoids the sort of SMJ for a
    medium-sized build side; MERGE forces the spill-safe sort-merge;
    BROADCAST pins the replicate-small-side plan regardless of the
    autoBroadcast threshold."""
    import pyspark.sql.functions as SF

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        # disable auto-broadcast so the hint is what decides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(0, 50_000).select(
            SF.col("id").alias("k"), SF.lit("l").alias("lv"))
        right = spark.range(0, 5_000).select(
            SF.col("id").alias("k"), SF.lit("r").alias("rv"))

        p_default = plan_of(left.join(right, "k"))
        assert "SortMergeJoin" in p_default, p_default[:2000]

        p_sh = plan_of(left.join(right.hint("shuffle_hash"), "k"))
        assert "ShuffledHashJoin" in p_sh, p_sh[:2000]

        p_bc = plan_of(left.join(right.hint("broadcast"), "k"))
        assert "BroadcastHashJoin" in p_bc, p_bc[:2000]

        p_mg = plan_of(
            left.join(right.hint("shuffle_hash").hint("merge"), "k"))
        assert "SortMergeJoin" in p_mg, p_mg[:2000]
    finally:
        if old is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_aqe_converts_smj_to_broadcast_at_runtime(spark):
    """AQE's other headline re-plan: the static planner estimates a big
    join side (no filter selectivity stats) and picks SortMergeJoin; at
    runtime the filtered side's ACTUAL shuffle size is tiny, so AQE
    re-plans the remaining stages into a BroadcastHashJoin. This is the
    safety net for the 100 TB case where a selective predicate makes a
    fact-fact join broadcastable and no one hand-tuned it."""
    import pyspark.sql.functions as SF

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        # below the unfiltered side's ~30 MB size ESTIMATE, above the
        # filtered side's ~30 KB ACTUAL size: static SMJ, runtime BHJ
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1MB")
        left = spark.range(0, 200_000).select(
            SF.col("id").alias("k"),
            SF.sha2(SF.col("id").cast("string"), 256).alias("pad"),
        )
        # selective filter the static planner cannot see through
        right = spark.range(0, 200_000).select(
            SF.col("id").alias("k"),
            SF.sha2(SF.col("id").cast("string"), 256).alias("rpad"),
        ).filter(SF.col("k") % 1000 == 0)
        joined = left.join(right, "k")
        static = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in static, static[:2000]
        joined.collect()  # materialize: AQE finalizes the adaptive plan
        final = plan_of(joined)
        assert "AdaptiveSparkPlan" in final
        assert "BroadcastHashJoin" in final, final[:3000]
    finally:
        if old is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_window_group_limit_caps_postings_and_quota(spark):
    """The rank<=K filters in inverted_index_postings and
    per_source_quota must compile to WindowGroupLimit — the map-side
    per-group truncation that makes a stop-word or a giant domain cost
    K rows of window state instead of the whole group."""
    from entity_etl_spark.queries import REGISTRY

    for name in ("inverted_index_postings", "per_source_quota"):
        plan = plan_of(
            REGISTRY[name].fn(spark, "/root/testdata/sf0.001")
        )
        assert "WindowGroupLimit" in plan, (name, plan[:2000])


def test_incremental_retraction_base_filter_pushed(spark):
    """incremental_agg_retractions' cutoff predicates must reach the
    parquet scan (PushedFilters) — the 'never rescan the base' claim
    needs the scan itself pruned, not a post-scan filter."""
    from entity_etl_spark.queries import REGISTRY

    plan = plan_of(
        REGISTRY["incremental_agg_retractions"].fn(
            spark, "/root/testdata/sf0.001"
        )
    )
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("LessThanOrEqual(ts" in p or "GreaterThan(ts" in p
               for p in pushed), pushed


def test_classifier_rejects_short_weights(spark):
    import pytest as _pytest

    from entity_etl_spark.ext.classifier import classify_documents

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="n_buckets"):
        classify_documents(docs, weights=[0.1, 0.2]).collect()


def test_parquet_aggregate_pushdown_reads_footers_only(spark):
    """COUNT/MIN/MAX over parquet can be answered from row-group footer
    statistics instead of scanning data — at 100 TB the difference
    between a metadata read and a full pass. Requires the V2 parquet
    source + spark.sql.parquet.aggregatePushdown; the plan must show
    PushedAggregation and the results must equal the scan-based answer."""
    import pyspark.sql.functions as SF

    olds = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.sources.useV1SourceList",
            "spark.sql.parquet.aggregatePushdown",
        )
    }
    try:
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        agg = df.agg(
            SF.count(SF.lit(1)).alias("n"),
            SF.min("l_quantity").alias("mn"),
            SF.max("l_quantity").alias("mx"),
        )
        plan = plan_of(agg)
        assert "PushedAggregation: [COUNT(*), MIN(l_quantity), MAX(l_quantity)]" in plan, plan[:1500]
        got = agg.first()
    finally:
        for k, v in olds.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    want = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).agg(
        SF.count(SF.lit(1)).alias("n"),
        SF.min("l_quantity").alias("mn"),
        SF.max("l_quantity").alias("mx"),
    ).first()
    assert (got.n, got.mn, got.mx) == (want.n, want.mn, want.mx)


def test_round4_wave_plan_claims(spark):
    """Pin the physical-plan claims the round-4 query docstrings make:
    q4's correlated EXISTS decorrelates to a left-semi hash join (never a
    per-row re-scan), tfidf's per-doc top-3 is a WindowGroupLimit rank
    pushdown, and the two top-k outputs (q2, item-item) cap with
    TakeOrderedAndProject instead of a global sort."""
    from entity_etl_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"

    q4 = plan_of(REGISTRY["q4_order_priority"].fn(spark, sf))
    assert "LeftSemi" in q4
    assert "BroadcastNestedLoopJoin" not in q4

    tfidf = plan_of(REGISTRY["tfidf_top_terms"].fn(spark, sf))
    assert "WindowGroupLimit" in tfidf

    q2 = plan_of(REGISTRY["q2_min_cost_supplier"].fn(spark, sf))
    assert "TakeOrderedAndProject" in q2
    assert "BroadcastHashJoin" in q2

    ii = plan_of(REGISTRY["item_item_cosine_topk"].fn(spark, sf))
    assert "TakeOrderedAndProject" in ii

    # triangle counting: every join is a hash join on edge keys; the only
    # nested loops are the two 1-row stat broadcasts at the very top
    # (degree count+wedges share one agg pass)
    tri = plan_of(REGISTRY["triangle_count_copurchase"].fn(spark, sf))
    assert tri.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in tri


def test_shingles_split_runs_outside_every_lambda(spark):
    """Higher-order functions run interpreted, and a lambda re-evaluates
    each non-lambda expression it captures once per element: a
    tokenization (StringSplit) inside a LambdaFunction re-splits the
    whole text for every shingle, quadratic per document. The analysed
    expression of shingles() must keep the split outside every lambda."""
    from entity_etl_spark.ext.dedup import shingles

    df = spark.createDataFrame([(1, "a b c d")], "id int, text string")
    expr = (
        df.select(shingles("text", 3).alias("s"))
        ._jdf.queryExecution().analyzed().projectList().apply(0)
    )

    def kinds(e, under_lambda=False):
        name = e.getClass().getSimpleName()
        under_lambda = under_lambda or name == "LambdaFunction"
        yield name, under_lambda
        kids = e.children()
        for i in range(kids.size()):
            yield from kinds(kids.apply(i), under_lambda)

    seen = list(kinds(expr))
    assert ("StringSplit", False) in seen
    assert ("StringSplit", True) not in seen


def test_shingle_rows_split_each_doc_once(spark):
    """_shingle_rows_with_size evaluates shingles() once per row: one
    tokenization in the optimized plan, none of it re-inlined into the
    generator or into a filter the optimizer infers from it."""
    from entity_etl_spark.ext.dedup import _shingle_rows_with_size

    df = spark.createDataFrame([(1, "a b c d")], "id int, text string")
    plan = (
        _shingle_rows_with_size(df, "id", "text", 3)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("split(") == 1, plan
