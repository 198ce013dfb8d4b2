"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed as plan-build + full execution (count of the result —
every row computed, nothing driver-collected). One warm-up run of a trivial
query absorbs JVM/codegen startup so the numbers measure the queries, not
session bring-up.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# sf1 quiet bests — per-query MIN of the round-11 quiet runs
# (BENCH_sf1_r11.json, post-optimization code; two full runs via
# tools/merge_bench_min). The reworked queries re-based DOWN
# (training_data_prep 40.9 -> 2.6, semantic_dedup_pairs 7.5 -> 2.0);
# the rest moved within the host band — zero sf1 factor breaches
# against the r10 dict before this refresh.
# ONE known loosening that refresh absorbed (r11 ADVICE): the
# minhash_recall_gate entry (19.65 -> 50.835) embeds full-suite
# contention — the r11 same-host interleaved SOLO A/B measured the same
# code at 31.5-34.1 s — so its sf10 factor gate is ~1.6x softer than a
# solo-derived ref would be. Re-base it from a solo quiet measurement
# when the r12 prefix-filter rework lands (it changes this query's
# cost anyway).
# The sf10 factor ratchet compares AGAINST these, so they must share the
# sf10 run's measurement context: same host, same session design, same
# round (the r9-established rule; comparing against a faster round's box
# measures the HOST, not the per-decade scaling). The r10/r9/r8/r7
# values live in git history and the committed BENCH artifacts.
# Names missing from this dict are REPORTED as sf10_ratchet_ungated,
# never silently passed.
SF1_REF_BESTS: dict[str, float] = {
    "asof_join": 0.444,
    "bm25_topk": 1.595,
    "boilerplate_segment_removal": 2.147,
    "bpe_encode_tokens": 2.036,
    "changed_rows": 1.931,
    "chunk_documents_builtin": 1.099,
    "containment_near_dups": 9.92,
    "dedup_corpus_minhash": 11.665,
    "dedup_corpus_minhash_prod": 6.546,
    "dedup_exact": 0.434,
    "embedding_pq_topk": 6.334,
    "embedding_topk": 0.6,
    "embedding_topk_heap": 0.631,
    "image_ahash_near_dups": 7.37,
    "incremental_scan": 0.361,
    "item_item_cosine_topk": 10.515,
    "item_item_cosine_topk_capped": 6.561,
    "keep_latest_per_key": 1.085,
    "kmeans_lloyd_2iter": 2.637,
    "minhash_near_dups": 7.943,
    "minhash_near_dups_xxh64_pairs": 5.756,
    "minhash_recall_gate": 50.835,
    "neardup_keep_best": 16.738,
    "neardup_keep_best_prod": 9.677,
    "q1_pricing_summary": 0.804,
    "range_join": 2.012,
    "region_nation_revenue": 2.382,
    "scd2_user_event_history": 1.014,
    "semantic_dedup_pairs": 1.963,
    "session_window_agg": 1.522,
    "sessionize": 0.324,
    "state_merge_upsert": 1.066,
    "streaming_bloom_state": 6.401,
    "streaming_countmin_state": 4.335,
    "streaming_dedup_watermark": 5.521,
    "streaming_kmeans_state": 5.266,
    "streaming_neardup_prep": 22.94,
    "streaming_state_pipeline": 6.865,
    "streaming_topk_state": 4.121,
    "text_quality": 0.324,
    "top_customers_per_nation": 1.999,
    "top_orders_revenue": 3.044,
    "training_data_prep": 2.647,
    "triangle_count_copurchase": 56.892,
    "triangle_count_doulion": 8.446,
    "variant_shred": 0.178,
}
# sf10 exclusions — NEVER silent (reported in the JSON): the exact
# near-dup pair family rides the shared-shingle counting join, whose
# work is sum_s C(df_s, 2). The synthetic corpus draws every doc from
# ONE 31-token vocabulary, so per-shingle df grows linearly with the
# corpus (~130 at sf1 -> ~250M join rows, 28 s; ~1300 at sf10 ->
# ~25G rows — runnable on a cluster, not in one local JVM). This is
# the stop-shingle regime the production profile's max_shingle_df
# cap exists for; the registry/bench keeps these EXACT (uncapped) by
# contract, so at sf10 they are excluded rather than silently capped.
# Their linear production twins (minhash_near_dups LSH leg,
# dedup_exact fp state, triangle_count_doulion) stay in the run.
# Module-level so tools (finish_bench_sf10, capped-sf10 runners) import
# the ONE definition instead of duplicating it (r7 ADVICE).
SF10_EXCLUDED: dict[str, str] = {
    "minhash_recall_gate": "exact-truth pair join (quadratic-by-design measurement gate)",
    "dedup_corpus_minhash": "exact shingle-pair source (policy contract)",
    "neardup_keep_best": "exact shingle-pair source (policy contract)",
    "containment_near_dups": "exact containment counting join",
    "streaming_neardup_prep": "exact shingle-index state per micro-batch",
    # MEASURED infeasible, not assumed: the r7 sf10 attempt ran >30
    # min and then died filling ~70 GB of disk with wedge-join
    # shuffle spill (java.io.IOException: No space left on device).
    # Co-purchase degree grows with SF, so wedge volume grows
    # ~quadratically per decade; triangle_count_doulion (p=0.25
    # edge-sampled, 1/64 the wedge work) is the sf10+ path and IS in
    # this run.
    "triangle_count_copurchase": "exact wedge counting: >30 min + "
    "~70 GB shuffle spill filled the disk at sf10 (DOULION twin is "
    "the scale path)",
    # r9: the exact leg is now GUARDED, not just slow — its pair-volume
    # pre-flight (queries/stats_rounds._pair_volume_preflight, the
    # wedge-guard pattern) raises at sf10's measured 1.32G packed pairs
    # (> the 600M default): ~800M unique pair keys degrade the final
    # agg to sort-spill on one box (measured 150-156 s vs the 99.5 s
    # 15x ceiling). The capped production twin IS in the run.
    "item_item_cosine_topk": "exact pair self-join guarded by the "
    "pair-volume pre-flight (1.32G pairs > 600M guard at sf10; capped "
    "twin benched)",
}

# Queries whose CONTRACT is quadratic-in-corpus (the exact-truth
# measurement gates: the exact pair computation IS the measurement) get
# a documented 110x per-decade allowance instead of the 15x rule —
# exact-truth work grows ~100x per decade; the 15x rule exists to catch
# UNINTENDED superlinearity, not the stated contract.
QUADRATIC_CONTRACT = {
    "minhash_recall_gate",
    "semantic_dedup_pairs",
    # r9: the oracle-paired xxh64 gate row computes the same exact-truth
    # pair join as minhash_recall_gate (not in any bench group; listed
    # here so the sf10 parity sweep's exclusion set covers it)
    "minhash_near_dups_xxh64",
}


# Heavy-group per-query ceilings = 2x the r11-close quiet best + 0.5 s
# (BASELINE.md round-4 rule; re-derived from BENCH_sf01_r11_final.json
# after the r11 reworks so the ratchet actually ratchets — the old
# training_data_prep ceiling of 8.2 s would have let a regression back
# to its pre-r11 cost pass silently). ONE documented exception:
# semantic_dedup_pairs keeps its r10 ceiling 3.0 (formula says 2.3) —
# the post-rework shape front-loads a driver collect + tile fan-out
# whose quiet best is 0.898 s but whose measured spread under this
# box's load spikes is 0.9-4.3 s (r11 quiet-run set); the pinned 3.0
# still catches any real blowup while not reading a loaded box as one.
HEAVY_CEILINGS_SF01: dict[str, float] = {
    "bm25_topk": 1.9,
    "boilerplate_segment_removal": 1.6,
    "bpe_encode_tokens": 1.9,
    "containment_near_dups": 3.4,
    "dedup_corpus_minhash": 4.8,
    "dedup_corpus_minhash_prod": 7.6,
    "embedding_pq_topk": 4.6,
    "image_ahash_near_dups": 3.1,
    "item_item_cosine_topk": 9.2,
    "item_item_cosine_topk_capped": 6.7,
    "kmeans_lloyd_2iter": 2.7,
    "minhash_recall_gate": 8.5,
    "neardup_keep_best": 6.5,
    "neardup_keep_best_prod": 9.9,
    "scd2_user_event_history": 1.9,
    "semantic_dedup_pairs": 3.0,
    "streaming_bloom_state": 8.1,
    "streaming_countmin_state": 5.6,
    "streaming_dedup_watermark": 7.3,
    "streaming_kmeans_state": 10.3,
    "streaming_neardup_prep": 22.0,
    "streaming_state_pipeline": 9.1,
    "streaming_topk_state": 7.2,
    "training_data_prep": 2.4,
    "triangle_count_copurchase": 13.9,
    "triangle_count_doulion": 5.9,
}

# sf0.1 quiet bests — per-query MIN of the round-11 close quiet runs
# (BENCH_sf01_r11_final.json, 3 runs merged). The sf1 factor ratchet
# compares against these; same same-round/same-host rule as
# SF1_REF_BESTS above.
SF01_REF_BESTS: dict[str, float] = {
    "asof_join": 0.378,
    "bm25_topk": 0.718,
    "boilerplate_segment_removal": 0.567,
    "bpe_encode_tokens": 0.697,
    "changed_rows": 0.922,
    "chunk_documents_builtin": 0.387,
    "containment_near_dups": 1.441,
    "dedup_corpus_minhash": 2.175,
    "dedup_corpus_minhash_prod": 3.535,
    "dedup_exact": 0.236,
    "embedding_pq_topk": 2.03,
    "embedding_topk": 0.581,
    "embedding_topk_heap": 0.44,
    "image_ahash_near_dups": 1.312,
    "incremental_scan": 0.319,
    "item_item_cosine_topk": 4.355,
    "item_item_cosine_topk_capped": 3.12,
    "keep_latest_per_key": 0.516,
    "kmeans_lloyd_2iter": 1.114,
    "minhash_near_dups": 3.415,
    "minhash_near_dups_xxh64_pairs": 2.102,
    "minhash_recall_gate": 3.98,
    "neardup_keep_best": 2.977,
    "neardup_keep_best_prod": 4.69,
    "q1_pricing_summary": 0.552,
    "range_join": 0.549,
    "region_nation_revenue": 1.089,
    "scd2_user_event_history": 0.717,
    "semantic_dedup_pairs": 0.898,
    "session_window_agg": 0.474,
    "sessionize": 0.249,
    "state_merge_upsert": 0.505,
    "streaming_bloom_state": 3.783,
    "streaming_countmin_state": 2.57,
    "streaming_dedup_watermark": 3.407,
    "streaming_kmeans_state": 4.916,
    "streaming_neardup_prep": 10.733,
    "streaming_state_pipeline": 4.319,
    "streaming_topk_state": 3.335,
    "text_quality": 0.309,
    "top_customers_per_nation": 0.685,
    "top_orders_revenue": 0.869,
    "training_data_prep": 0.944,
    "triangle_count_copurchase": 6.694,
    "triangle_count_doulion": 2.689,
    "variant_shred": 0.169,
}


def factor_ceiling(name: str, refs: dict[str, float], pad: float) -> float:
    """The cross-decade scaling gate: quadratic-contract queries may
    scale ~110x per decade, everything else 15x, plus a fixed-cost
    pad."""
    return (110.0 if name in QUADRATIC_CONTRACT else 15.0) * refs[name] + pad


def build_artifact(
    sf: str,
    timings: dict[str, float],
    timings2: dict[str, float],
    note: str | None = None,
) -> dict:
    """The bench JSON artifact from the headline (``timings``) and heavy
    (``timings2``) per-query seconds at scale factor ``sf``: totals, heavy
    ceilings (sf0.1), factor ratchets against the committed
    previous-decade reference bests (sf1 vs sf0.1 refs, sf10 vs sf1
    refs), ungated lists, and the frozen-18 subtotal. ``main`` and the
    merge tools (tools/merge_bench_min.py, tools/assemble_bench.py) build
    their artifacts here, so a gate rule has one definition; the tools
    record their provenance in ``note``."""
    both = {**timings, **timings2}

    # Heavy-group ratchet (BASELINE.md round-4): per-query ceilings =
    # 2x the recorded r3-final best + 0.5 s absolute slack (sub-second
    # queries triple under host contention; the slack keeps a loaded box
    # from reading as a regression while a real blowup — the 10-100x
    # class bench2 caught twice in r3 — still goes red).
    breaches = (
        {
            name: {"sec": t, "ceiling": HEAVY_CEILINGS_SF01[name]}
            for name, t in timings2.items()
            if name in HEAVY_CEILINGS_SF01 and t > HEAVY_CEILINGS_SF01[name]
        }
        if sf == "0.1"
        else {}
    )

    # sf1 factor ratchet (round 6, BASELINE.md): at 10x the data every
    # query must stay under a LOOSE 15x of its recorded sf0.1 quiet best
    # (+2 s absolute slack for sub-second queries) — the superlinear class
    # (semantic_dedup_pairs read 22x at r5's rehearsal) goes red here
    # instead of relying on someone eyeballing the factors. Reference
    # bests are the r6-close quiet sf0.1 run; update them when a query's
    # implementation legitimately changes.
    #
    # QUADRATIC_CONTRACT (module level): minhash_recall_gate's exact
    # SHINGLE join is additionally row-explosive (~25G join rows at sf10
    # — excluded there, see SF10_EXCLUDED); semantic_dedup_pairs' exact
    # truth is a BLAS block matmul, so it RUNS at sf10 (measured 492 s =
    # 81x sf1) under the 110x allowance. The production semdedup path
    # (auto-k, no in-query truth) stays linear by design.
    sf1_breaches = (
        {
            name: {
                "sec": t,
                "factor_ceiling": round(
                    factor_ceiling(name, SF01_REF_BESTS, 2.0), 1
                ),
            }
            for name, t in both.items()
            if name in SF01_REF_BESTS
            and t > factor_ceiling(name, SF01_REF_BESTS, 2.0)
        }
        if sf == "1"
        else {}
    )
    # a timed query missing from the reference dict is UNGATED, which
    # silently defeats the ratchet for queries added after the dict was
    # recorded — always surface the uncovered list so a zero-breach run
    # can't hide an unratcheted regression
    sf1_ungated = sorted(set(both) - set(SF01_REF_BESTS)) if sf == "1" else []

    # sf10 factor ratchet (round 7): the second measured decade. Same
    # per-decade rule as sf1 — every query < 15x its recorded sf1 quiet
    # best + 3 s absolute slack — so a query that stays ~linear passes
    # with margin while the superlinear class compounds into a breach.
    # Names missing from SF1_REF_BESTS surface in sf10_ratchet_ungated,
    # never pass silently.
    sf10_breaches = (
        {
            name: {
                "sec": t,
                "factor_ceiling": round(
                    factor_ceiling(name, SF1_REF_BESTS, 3.0), 1
                ),
            }
            for name, t in both.items()
            if name in SF1_REF_BESTS
            and t > factor_ceiling(name, SF1_REF_BESTS, 3.0)
        }
        if sf == "10"
        else {}
    )
    sf10_ungated = sorted(set(both) - set(SF1_REF_BESTS)) if sf == "10" else []

    total = round(sum(timings.values()), 3)
    # minhash_near_dups history: r6 folded the exact-truth recall gate
    # into this name (~2.5x r1 work); r7 moved the gate to the heavy
    # group (minhash_recall_gate) and the frozen name benches the linear
    # LSH leg again — at the 64/16 config (r5's recall fix; r1 ran 32/8,
    # about half the signature work) with the portable cross-engine hash
    # (~0.25 s premium over xxhash64 at sf0.1). r8 added the DEPLOYABLE
    # engine-native leg under its own headline name (VERDICT r7 item 3);
    # r9 renamed that bench entry to minhash_near_dups_xxh64_pairs when
    # the original name became the oracle-paired gate row (VERDICT r8
    # item 2). Both legs stay excluded from the frozen-18 subtotal,
    # which remains the strictly-like-for-like r1 comparison.
    frozen18 = round(
        total
        - timings.get("minhash_near_dups", 0.0)
        - timings.get("minhash_near_dups_xxh64_pairs", 0.0),
        3,
    )
    artifact = {
        "metric": "headline-queries-total-sec",
        "value": total,
        "unit": "sec",
        "frozen18_subtotal_sec": frozen18,
        "queries": timings,
        "heavy_total_sec": round(sum(timings2.values()), 3),
        "heavy_queries": timings2,
        "heavy_ceiling_breaches": breaches,
        "sf1_factor_breaches": sf1_breaches,
        "sf1_ratchet_ungated": sf1_ungated,
        "sf10_factor_breaches": sf10_breaches,
        "sf10_ratchet_ungated": sf10_ungated,
        "sf10_excluded": dict(SF10_EXCLUDED) if sf == "10" else {},
        "sf": sf,
    }
    if note is not None:
        artifact["note"] = note
    return artifact


def main() -> None:
    from entity_etl_spark.queries import REGISTRY

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    # local[N] shares ONE heap across all N executor threads; at sf1 the
    # exact-join working set exceeds 16g's execution-memory fraction and
    # the run pays GC + shuffle spill (measured 18-20 s steady vs 11-15 s
    # at 48g for dedup_corpus_minhash). A real cluster sizes per-executor
    # heaps; this is the local-mode equivalent, not engine tuning.
    default_mem = {"1": "48g", "10": "64g"}.get(sf, "16g")

    # The engine's session policy (session.get_spark), including its AQE
    # start width keyed on the scanned input bytes, so the numbers measure
    # what a deployment actually gets; only what timing needs sits on top.
    from entity_etl_spark.session import estimate_input_bytes, get_spark

    spark = get_spark(
        app_name="entity-etl-spark-bench",
        input_bytes=estimate_input_bytes(sf_dir),
        extra_conf={
            # small test-scale files must still split across all cores; at
            # real scale files exceed this and the default behavior is
            # identical
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.driver.memory": os.environ.get(
                "SPARK_DRIVER_MEMORY", default_mem
            ),
            # the status store must still hold every job and stage of a
            # query's first run when query_stats reads it (streaming
            # harness queries run hundreds of jobs per run; the default
            # keeps 1000)
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    bench_queries = [name for name, q in REGISTRY.items() if "bench" in q.tags]
    # additive group (round-2 heavy operators): timed identically but summed
    # separately, so the frozen-19 headline total stays comparable across
    # rounds while regressions in the newer heavy code remain visible
    bench2_queries = [
        name for name, q in REGISTRY.items() if "bench2" in q.tags
    ]

    if sf == "10":
        bench_queries = [q for q in bench_queries if q not in SF10_EXCLUDED]
        bench2_queries = [q for q in bench2_queries if q not in SF10_EXCLUDED]

    # warm-up: JVM + parquet footer reads
    REGISTRY[bench_queries[0]].fn(spark, sf_dir).count()

    # Scaling evidence (r12, VERDICT item 2): per-query executed job /
    # stage / task counts of the first timed run, read from the
    # DAGScheduler job counter + the public StatusTracker right after that
    # run, outside its timed span — the probe adds nothing to the timed
    # path. A low-core rerun can then tell
    # overhead-bound (few tasks, ratio ~1 at tiny SF) from genuinely
    # serial (tasks >> cores but ratio ~1) instead of flagging
    # suspect_cpus_ignored on sub-second queries.
    sc = spark.sparkContext

    def _next_job_id() -> int:
        v = sc._jsc.sc().dagScheduler().nextJobId()
        return v if isinstance(v, int) else int(v.get())

    query_stats: dict[str, dict[str, int]] = {}

    def _collect_stats(name: str, j0: int, j1: int) -> None:
        # the status store is fed asynchronously by the listener bus;
        # drain it so the run's last jobs and stages are there
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        stages: set[int] = set()
        for jid in range(j0, j1):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for sid in stages:
            sinfo = tracker.getStageInfo(sid)
            if sinfo is not None:
                tasks += sinfo.numTasks
        query_stats[name] = {
            "jobs": j1 - j0, "stages": len(stages), "tasks": tasks
        }

    # best-of-2 per query: the second run amortizes codegen compilation and
    # GC noise, so round-over-round comparisons track plan quality, not JIT
    def run_group(names: list[str]) -> dict[str, float]:
        timings: dict[str, float] = {}
        for name in names:
            best = float("inf")
            for run in range(2):
                j0 = _next_job_id()
                t0 = time.perf_counter()
                REGISTRY[name].fn(spark, sf_dir).count()
                best = min(best, time.perf_counter() - t0)
                if run == 0:
                    _collect_stats(name, j0, _next_job_id())
            timings[name] = round(best, 3)
            # a query that persists internally (item_item_cosine_topk's
            # 4-consumer cp set) must not pin executor storage for every
            # LATER query's memory budget — clear between queries (no-op
            # when nothing is cached)
            spark.catalog.clearCache()
            # per-query progress on stderr: a crashed run (the sf10 OOM)
            # is diagnosable to the query, not just a stage number
            print(f"## {name}: {timings[name]}s", file=sys.stderr, flush=True)
        return timings

    timings = run_group(bench_queries)
    timings2 = run_group(bench2_queries)

    artifact = build_artifact(sf, timings, timings2)
    # breaches and ratchet gaps are REPORTED on stderr as well as in the
    # JSON, never swallowed
    for key, label in (
        ("heavy_ceiling_breaches", "HEAVY CEILING BREACH"),
        ("sf1_factor_breaches", "SF1 FACTOR BREACH"),
        ("sf1_ratchet_ungated", "SF1 RATCHET GAP (no sf0.1 reference best)"),
        ("sf10_factor_breaches", "SF10 FACTOR BREACH"),
        ("sf10_ratchet_ungated", "SF10 RATCHET GAP (no sf1 reference best)"),
    ):
        found = artifact[key]
        if found:
            shown = json.dumps(found) if isinstance(found, dict) else found
            print(f"{label}: {shown}", file=sys.stderr)
    print(
        json.dumps(
            {
                **artifact,
                # scaling evidence (r12): the core count this run actually
                # executed with, and per-query executed job/stage/task
                # counts from run 1 — additions only; the timed loop and
                # every pre-existing key are unchanged
                "cpus": int(cpus) if cpus.isdigit() else cpus,
                "query_stats": query_stats,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
