"""The two workloads and the measurement loop around them.

Both are closed loops on one ``local[nproc]`` session: a cycle starts only
after the previous one finished and was checked.

- ``cron_steady``: a cycle is one cron tick, one
  ``pipeline.run_incremental`` call for ``awsEc2`` against state seeded
  with every key. The simulated clock moves 15 minutes per tick.
- ``neardup_stream``: ``ext.prep.run_streaming_neardup_prep`` (exact
  method) drains a file-source directory one file per micro-batch; a cycle
  is one micro-batch.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import pyarrow.parquet as pq

from perfbench import gen, model, tracer
from perfbench.receiver import Receiver

T0_MS = 1_700_000_000_000
TICK_MS = 15 * 60 * 1000

# cron_steady sizing: awsEc2 keys, the share of keys one tick fetches, and
# the shape of a page (see gen.EntityPopulation.page).
CRON_TYPE = "awsEc2"
CRON_KEYS = 20_000
CRON_PAGE = dict(share=0.05, change_share=0.2, dup_share=0.02, boundary_rows=5)
CRON_ZIPF_S = 1.0
CRON_WARMUP_TICKS = 2
MAX_BATCH_SIZE = 100
# The seed sync stores keys with a long TTL; a key fetched by a tick gets
# the short cron TTL, so a key not fetched again within two ticks expires.
SEED_TTL_HOURS = 24.0
CRON_TTL_HOURS = 0.5

# The shipped awsEc2 projection spec re-stated as a reference-style
# Handlebars template: both render the same JSON object per entity.
AWS_EC2_TEMPLATE = """{
  "cmdb_ci": "{{entity.aws_arn}}",
  "asset": "{{entity.AWSUniqueId}}",
  "cpu_type": "{{entity.aws_architecture}}",
  "hardware_status": "{{entity.aws_state}}",
  "hardware_substatus": "{{entity.aws_state_reason}}",
  "install_date": "{{entity.aws_launch_time}}",
  "name": "{{#with entity.aws_tag_Name}}{{.}}{{else}}{{entity.aws_instance_id}}{{/with}}",
  "operational_status": "{{entity.aws_state}}",
  "subcategory": "{{entity.aws_instance_type}}",
  "type": "VM",
  "vendor": "AWS/EC2",
  "version": "{{entity.aws_image_id}}",
  "virtual": "{{entity.aws_hypervisor}}"
}"""

# neardup_stream sizing
DOCS_PER_FILE = 200
DOC_FILES = 24
DOC_OPEN_P, DOC_JOIN_P = 0.15, 0.3
NEARDUP_WARMUP_DRAINS = 1
DOC_SCHEMA = "doc_id long, text string, source string"


# Host-speed reference: a fixed little Spark SQL pipeline (parquet scan,
# window, aggregate, join, write, read back) that calls no engine code. The
# time metrics are scaled by REF_NOMINAL_S over this run's median reference
# time, so that the minutes-long speed drifts of a shared host cancel out.
REF_WARMUP_RUNS = 2
REF_NOMINAL_S = 1.0


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Run:
    """One benchmark process: session, receiver, counters and results."""

    def __init__(self, args, work: str, t_start: float):
        self.args, self.work, self.t_start = args, work, t_start
        self.gen_s = 0.0  # generator time, kept out of setup_s
        self.cycles: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.fault_armed = False
        self.layer: dict[str, float] = {}
        self.ref_s: list[float] = []  # host reference job times

    # -- session -----------------------------------------------------------
    def start_session(self) -> None:
        from entity_etl_spark.session import get_spark

        ncpu = len(os.sched_getaffinity(0))
        tmp = os.path.join(self.work, "tmp")
        conf = {
            **tracer.RETAIN_CONF,
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": "-Xms1g",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{ncpu}]",
            shuffle_partitions=ncpu, extra_conf=conf,
        )
        self.session_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.ncpu = ncpu
        self.stats = tracer.SparkStats(self.spark)
        self.tracer = tracer.Tracer(self.stats)
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def stop_session(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.tracer.restore()
        self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    # -- bookkeeping -------------------------------------------------------
    def timed(self, cycle_start: float) -> bool:
        """True while the measured window is open: a cycle starts only
        within ``--seconds`` of the first measured cycle. Runs the host
        reference before each measured cycle."""
        if not hasattr(self, "t_measure"):
            self.setup_s = cycle_start - self.t_start - self.gen_s
            for _ in range(REF_WARMUP_RUNS):
                self.reference(keep=False)
            self.t_measure = cycle_start = time.perf_counter()
        if cycle_start - self.t_measure >= self.args.seconds:
            return False
        self.reference()
        return True

    def reference(self, keep: bool = True) -> None:
        """Run and time the host reference job."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        ref_in = os.path.join(self.work, "ref_in.parquet")
        ref_out = os.path.join(self.work, "ref_out.parquet")
        if not os.path.exists(ref_in):
            self.spark.range(0, 20000, 1, 1).select(
                F.format_string("k%05d", F.col("id") % 5000).alias("k"),
                F.sha2(F.col("id").cast("string"), 256).alias("v"),
            ).write.parquet(ref_in)
        t = time.perf_counter()
        df = self.spark.read.parquet(ref_in)
        w = Window.partitionBy("k").orderBy(F.desc("v"))
        top = df.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
        top.join(df.groupBy("k").count(), "k").write.mode("overwrite").parquet(ref_out)
        self.spark.read.parquet(ref_out).agg(F.sum("count")).collect()
        if keep:
            self.ref_s.append(time.perf_counter() - t)

    def record(self, problems: list[str], measured: bool, **cycle) -> None:
        """Count a checked cycle; only measured cycles enter the metrics,
        but a failed set-up cycle fails the run too."""
        if measured:
            self.cycles.append(cycle)
        elif not problems:
            return
        self.attempted += 1
        if problems:
            self.failed += 1
            what = f"cycle {self.attempted}" if measured else "set-up cycle"
            for p in problems:
                log(f"{what}: {p}")

    def end_to_end(self) -> dict[str, dict]:
        walls = [c["wall_s"] for c in self.cycles]
        rows = sum(c["rows"] for c in self.cycles)
        busy = sum(c["busy_s"] for c in self.cycles)
        cpu = sum(c["cpu_ms"] for c in self.cycles)
        jobs = sum(c["jobs"] for c in self.cycles)
        # host-normalized: raw value x (nominal / this run's reference)
        speed = REF_NOMINAL_S / statistics.median(self.ref_s)
        raw = {
            "setup_s": self.setup_s,
            "rows_per_s": rows / busy,
            "cycle_p50_s": statistics.median(walls),
            "cpu_ms_per_krow": cpu / (rows / 1000),
        }
        m = {
            "setup_s": (raw["setup_s"] * speed, "s"),
            "rows_per_s": (raw["rows_per_s"] / speed, "rows/s"),
            "cycle_p50_s": (raw["cycle_p50_s"] * speed, "s"),
            "cpu_ms_per_krow": (raw["cpu_ms_per_krow"] * speed, "ms"),
            "jobs_per_cycle": (jobs / len(self.cycles), "count"),
            "peak_rss_mb": (tracer.peak_rss_mb(self.jvm_pid), "MB"),
        }
        log(
            f"{len(walls)} cycles, {rows} rows, failed_ratio="
            f"{self.failed / max(1, self.attempted):.3f}, reference job "
            f"{statistics.median(self.ref_s):.3f} s, unscaled "
            + ", ".join(f"{k}={v:.4g}" for k, v in raw.items())
        )
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _state_rows(spark, state_dir: str, table: str) -> tuple[int, int, int]:
    """(rows, files, bytes) of a persisted state table, from parquet footers
    (no Spark job). Falls back to a Spark count for another layout."""
    from entity_etl_spark import state as state_mod

    path = state_mod.state_path(state_dir, table)
    if not os.path.isdir(path):
        df = state_mod.load_state(spark, state_dir, table)
        return (0 if df is None else df.count()), 0, 0
    rows = files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                rows += pq.read_metadata(p).num_rows
                files += 1
                size += os.path.getsize(p)
    return rows, files, size


# ------------------------------------------------------------- cron_steady


def cron_steady(run: Run) -> None:
    from entity_etl_spark import checkpoint as ckpt_mod
    from entity_etl_spark import pipeline
    from entity_etl_spark.mapping import load_projection_specs
    from entity_etl_spark.model import EngineConfig
    from entity_etl_spark.sources import reference_catalog

    args = run.args
    spec = reference_catalog().get(CRON_TYPE)
    # even ticks project through the shipped spec, odd ticks through the
    # equivalent Handlebars template, so both compilers are measured
    projections = (load_projection_specs()[CRON_TYPE], AWS_EC2_TEMPLATE)
    id_key, status_key = "asset", gen.ENTITY_TYPES[CRON_TYPE][3]
    # the source is handed its schema, as a fetch knows its payload shape
    schema = ", ".join(
        f"{f} string" for f in gen.ENTITY_TYPES[CRON_TYPE][1]
    ) + f", {gen.TS_FIELD} long"
    state_dir = os.path.join(run.work, "state")
    pages = os.path.join(run.work, "pages")
    os.makedirs(pages)
    pop = gen.EntityPopulation(args.seed, CRON_TYPE, CRON_KEYS, CRON_ZIPF_S)
    cache = model.CacheModel()
    receiver = Receiver(max(1, run.ncpu - 1)).start()
    seed_cfg, cron_cfg = (
        EngineConfig(max_batch_size=MAX_BATCH_SIZE, state_ttl_hours=ttl,
                     state_dir=state_dir)
        for ttl in (SEED_TTL_HOURS, CRON_TTL_HOURS)
    )

    def sink(bodies):
        from entity_etl_spark import sinks

        sinks.http_sink(bodies, url=f"{receiver.url}/{CRON_TYPE}")

    layer_cycles: list[dict] = []
    tick = 0
    try:
        while True:
            now = T0_MS + tick * TICK_MS
            cfg = seed_cfg if tick == 0 else cron_cfg
            t = time.perf_counter()
            if tick == 0:
                rows = pop.seed_page(now - TICK_MS, now)
            else:
                rows = pop.page(
                    now - TICK_MS, now, boundary_ts=cache.checkpoint, **CRON_PAGE
                )
            page = os.path.join(pages, f"{CRON_TYPE}-{tick}.parquet")
            gen.write_entity_page(page, args.seed, CRON_TYPE, rows)
            if not hasattr(run, "t_measure"):
                run.gen_s += time.perf_counter() - t

            tick_start = time.perf_counter()
            measured = tick > CRON_WARMUP_TICKS
            if measured and not run.timed(tick_start):
                break
            if measured and args.fault == "drop_body" and not run.fault_armed:
                receiver.drop_body(1)
                run.fault_armed = True
            # traced and untraced ticks alternate in pairs, so each side
            # covers both projections
            traced = measured and args.trace and tick % 4 >= 2
            recv0 = receiver.counters()
            run.tracer.active = traced
            j0 = run.stats.next_job()
            t = time.perf_counter()
            error = None
            with run.tracer.span("bench.cycle"):
                try:
                    src = run.spark.read.schema(schema).parquet(page)
                    pipeline.run_incremental(
                        run.spark, spec, src, projections[tick % 2], cfg,
                        sink, now_epoch_ms=now,
                    )
                except Exception:
                    error = traceback.format_exc()
            wall = time.perf_counter() - t
            run.tracer.active = False
            j1 = run.stats.next_job()
            spans = run.tracer.take()
            recv = [b - a for a, b in zip(recv0, receiver.counters())]

            # check the cycle against the model
            exp = cache.cycle(
                [(gen.entity_id(CRON_TYPE, r.key), r.version, r.ts) for r in rows],
                now, int(cfg.state_ttl_hours * 3600 * 1000),
            )
            bodies = receiver.take().get(f"/{CRON_TYPE}", [])
            status = dict(zip(exp.emitted, gen.status_values(
                args.seed, CRON_TYPE, [gen.entity_key(r) for r in exp.emitted],
                list(exp.emitted.values()),
            )))
            problems = model.check_entity_cycle(
                exp, bodies, id_key, status_key, status, cfg.max_batch_size,
                ckpt_mod.load_checkpoint(state_dir, CRON_TYPE),
                _state_rows(run.spark, state_dir, CRON_TYPE)[0],
            )
            if recv[4]:
                problems.append(f"{recv[4]} bodies answered with non-2xx")
            if error:
                problems.insert(0, error)
            log(f"tick {tick}: {wall:.2f} s, {len(exp.emitted)} emitted")
            tick += 1
            run.stats.settle()
            counters = run.stats.job_counters(j0, j1)
            run.record(
                problems, measured,
                wall_s=wall, busy_s=wall, rows=len(rows),
                cpu_ms=sum(c["cpu_ms"] for c in counters.values()),
                jobs=j1 - j0,
            )
            if measured and args.trace:
                layer_cycles.append({
                    "traced": traced,
                    "wall_s": wall,
                    "spans": tracer.summarize(spans, counters) if traced else {},
                    "delta.rows_in": exp.rows_scanned,
                    "delta.rows_out": len(exp.emitted),
                    "batch.bodies": len(bodies),
                    "batch.items_per_body_max": max(map(len, bodies), default=0),
                    "batch.body_mb": recv[1] / 1e6,
                    "sinks.http_sink.requests": recv[0],
                    "sinks.http_sink.body_mb": recv[1] / 1e6,
                    "sinks.http_sink.retries": recv[2],
                    "sinks.receiver.busy_s": recv[3],
                    "state.keys_live": exp.keys_live,
                    "state.keys_expired": exp.keys_expired,
                    "state.save_state.rows": exp.keys_live,
                })
    finally:
        receiver.close()
    if args.trace:
        _, files, size = _state_rows(run.spark, state_dir, CRON_TYPE)
        run.layer.update(layer_metrics(layer_cycles, {
            "state.bytes": size, "state.files": files,
        }))


# ---------------------------------------------------------- neardup_stream


def neardup_stream(run: Run) -> None:
    from entity_etl_spark import streaming
    from entity_etl_spark.ext import prep

    args = run.args
    pool = os.path.join(run.work, "pool")
    src = os.path.join(run.work, "src")
    out = os.path.join(run.work, "out")
    state_dir = os.path.join(run.work, "nstate")
    ckpt = os.path.join(run.work, "nckpt")
    os.makedirs(src)
    t = time.perf_counter()
    files, cluster_of = gen.write_doc_files(
        pool, args.seed, DOC_FILES, DOCS_PER_FILE, DOC_OPEN_P, DOC_JOIN_P
    )
    run.gen_s += time.perf_counter() - t
    progress = tracer.ProgressLog()
    run.spark.streams.addListener(progress)
    stream = (
        run.spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    landed: list[int] = []
    mtime = [time.time() - 3600]
    probe = {"calls": 0, "fallbacks": 0, "skip": False}

    if args.trace or args.fault == "skip_batch":
        def planned(fn, a, kw):
            rows = fn(*a, **kw)
            if run.tracer.active or probe["skip"]:
                probe["calls"] += 1
                probe["fallbacks"] += rows is None
            if probe["skip"] and rows:
                # planted fault: a data-bearing batch read as empty
                probe["skip"] = False
                return 0
            return rows

        def drain(fn, a, kw):
            stream_df, ckpt_dir, batch_fn = a[:3]

            def traced_batch(df, batch_id):
                with run.tracer.span("ext.prep.batch"):
                    return batch_fn(df, batch_id)

            return fn(stream_df, ckpt_dir, traced_batch, *a[3:], **kw)

        run.tracer.wrap(streaming, "planned_batch_rows",
                        "streaming.planned_batch_rows", around=planned)
        if args.trace:
            run.tracer.wrap(streaming, "run_available_now",
                            "streaming.run_available_now", around=drain)

    def land(n: int) -> list[int]:
        ids = []
        for f in files[len(landed) // DOCS_PER_FILE:][:n]:
            dst = os.path.join(src, os.path.basename(f.path))
            os.replace(f.path, dst)
            mtime[0] += 1
            os.utime(dst, (mtime[0], mtime[0]))
            ids += f.ids
        landed.extend(ids)
        return ids

    layer_cycles: list[dict] = []
    drains = 0
    while True:
        warm = drains < NEARDUP_WARMUP_DRAINS
        if len(landed) // DOCS_PER_FILE >= len(files):
            log("document pool exhausted before the window closed")
            break
        cycle_start = time.perf_counter()
        if not warm and not run.timed(cycle_start):
            break
        if not warm and args.fault == "skip_batch" and not run.fault_armed:
            probe["skip"] = run.fault_armed = True
        traced = not warm and args.trace and len(layer_cycles) % 2 == 1
        run.tracer.active = traced
        calls0, fallbacks0 = probe["calls"], probe["fallbacks"]
        ids = land(1)
        j0 = run.stats.next_job()
        t = time.perf_counter()
        error = None
        with run.tracer.span("bench.cycle"):
            try:
                prep.run_streaming_neardup_prep(
                    run.spark, stream, out, state_dir, ckpt, timeout_sec=150
                )
            except Exception:
                error = traceback.format_exc()
        wall = time.perf_counter() - t
        run.tracer.active = False
        j1 = run.stats.next_job()
        spans = run.tracer.take()
        drains += 1
        events = progress.take(1)
        batches = [e for e in events if e["rows"] > 0]

        kept = pq.read_table(out, columns=["doc_id"]).column("doc_id").to_pylist() \
            if os.path.isdir(out) else []
        problems = model.check_neardup(
            model.neardup_survivors(landed, cluster_of), kept
        )
        if len(batches) != 1:
            problems.append(f"{len(batches)} data batches reported for one file")
        if error:
            problems.insert(0, error)
        trigger_s = (
            batches[0]["duration_ms"].get("triggerExecution", 0) / 1000
            if batches else wall
        )
        log(f"drain {drains}: {wall:.2f} s, micro-batch {trigger_s:.2f} s")
        run.stats.settle()
        counters = run.stats.job_counters(j0, j1)
        run.record(
            problems, not warm,
            wall_s=trigger_s, busy_s=wall, rows=len(ids),
            cpu_ms=sum(c["cpu_ms"] for c in counters.values()),
            jobs=j1 - j0,
        )
        if not warm and args.trace:
            sh_rows = _state_rows(run.spark, state_dir, "doc_shingles")
            sz_rows = _state_rows(run.spark, state_dir, "doc_sizes")
            layer_cycles.append({
                "traced": traced,
                "wall_s": wall,
                "spans": tracer.summarize(spans, counters) if traced else {},
                "streaming.trigger_overhead_ms": [
                    e["duration_ms"].get("triggerExecution", 0)
                    - e["duration_ms"].get("addBatch", 0)
                    for e in batches
                ],
                "streaming.planned_batch_rows.calls": probe["calls"] - calls0,
                "streaming.planned_batch_rows.fallbacks":
                    probe["fallbacks"] - fallbacks0,
                "state_rows": sh_rows[0] + sz_rows[0],
                "state_files": sh_rows[1] + sz_rows[1],
                "state_bytes": sh_rows[2] + sz_rows[2],
                "kept": len(kept),
                "landed": len(landed),
                "live": sz_rows[0],
            })
    run.spark.streams.removeListener(progress)
    if args.trace:
        run.layer.update(neardup_layer_metrics(layer_cycles))


# ------------------------------------------------------------------ tracing


def _wrap_engine(tr: tracer.Tracer) -> None:
    """Spans around the engine's public calls. Names are
    ``<module>.<function>``; ``pipeline.transform`` is
    ``pipeline.run_incremental`` and its self time is the work the run does
    outside the wrapped calls (scan, keep-latest, changed-rows, projection
    and body assembly, all run by the bodies aggregate)."""
    from entity_etl_spark import batch, checkpoint, hbs, pipeline, sinks, state

    tr.wrap(pipeline, "run_incremental", "pipeline.transform")
    # pipeline binds these names at import time
    tr.wrap(pipeline, "changed_rows", "delta.changed_rows")
    tr.wrap(pipeline, "apply_mapping", "mapping.apply_mapping")
    tr.wrap(hbs, "compile_hbs", "hbs.compile_hbs")
    tr.wrap(batch, "assign_batches_distributed", "batch.assign_batches_distributed")
    tr.wrap(batch, "assemble_bodies", "batch.assemble_bodies")
    tr.wrap(sinks, "http_sink", "sinks.http_sink")
    for fn in ("load_state", "save_state", "append_state"):
        tr.wrap(state, fn, f"state.{fn}")
    for fn in ("load_checkpoint", "max_ts_and_count", "save_checkpoint"):
        tr.wrap(checkpoint, fn, f"checkpoint.{fn}")


LAYERS = (
    "bench", "pipeline", "delta", "mapping", "hbs", "batch", "sinks",
    "state", "checkpoint", "streaming", "ext.prep",
)


def _span_metrics(cycles: list[dict]) -> dict:
    """Mean per cycle of every span and layer counter over the traced
    cycles."""
    traced = [c for c in cycles if c["traced"]]
    units = len(traced) or 1
    spans: dict[str, dict[str, float]] = {}
    for c in traced:
        for name, agg in c["spans"].items():
            tgt = spans.setdefault(name, dict.fromkeys(
                ("calls", "incl_s", "self_s") + tracer.COUNTERS, 0.0))
            for k, v in agg.items():
                tgt[k] += v
    m: dict[str, float] = {}

    def span(name: str, key: str) -> float:
        return spans.get(name, {}).get(key, 0.0) / units

    for layer in LAYERS:
        for k in ("jobs", "stages", "tasks"):
            m[f"{layer}.{k}"] = sum(
                agg[k] for n, agg in spans.items()
                if n.rsplit(".", 1)[0] == layer
            ) / units
    m["pipeline.transform.wall_s"] = span("pipeline.transform", "self_s")
    for k in ("cpu_ms", "shuffle_write_mb", "tasks", "jobs"):
        m[f"pipeline.transform.{k}"] = span("pipeline.transform", k)
    # plan-only calls: mean per call, since projections alternate by tick
    for name in ("delta.changed_rows", "mapping.apply_mapping", "hbs.compile_hbs"):
        agg = spans.get(name, {})
        m[f"{name}.plan_ms"] = agg.get("incl_s", 0.0) / max(1, agg.get("calls", 0)) * 1e3
    m["sinks.http_sink.wall_s"] = span("sinks.http_sink", "self_s")
    m["sinks.http_sink.cpu_ms"] = span("sinks.http_sink", "cpu_ms")
    m["state.load_state.wall_s"] = span("state.load_state", "self_s")
    m["state.save_state.wall_s"] = span("state.save_state", "self_s")
    for k in ("cpu_ms", "shuffle_write_mb", "spill_mb"):
        m[f"state.save_state.{k}"] = span("state.save_state", k)
    m["state.append_state.wall_s"] = span("state.append_state", "self_s")
    m["checkpoint.max_ts_and_count.wall_s"] = span("checkpoint.max_ts_and_count", "self_s")
    m["checkpoint.save_checkpoint.wall_s"] = span("checkpoint.save_checkpoint", "self_s")
    m["streaming.run_available_now.wall_s"] = span("streaming.run_available_now", "self_s")
    m["ext.prep.batch.wall_s"] = span("ext.prep.batch", "self_s")
    for k in ("cpu_ms", "shuffle_write_mb", "spill_mb"):
        m[f"ext.prep.batch.{k}"] = span("ext.prep.batch", k)

    # the self times of all spans of a cycle partition the cycle's span
    self_sum = sum(agg["self_s"] for agg in spans.values())
    walls_t = [c["wall_s"] for c in traced]
    walls_u = [c["wall_s"] for c in cycles if not c["traced"]]
    m["trace.self_sum_s"] = self_sum / max(1, len(traced))
    m["trace.cycle_wall_s"] = statistics.median(walls_t) if walls_t else 0.0
    m["trace.unaccounted_ms"] = (
        (sum(walls_t) - self_sum) / max(1, len(traced)) * 1e3
    )
    m["trace.untraced_cycle_s"] = statistics.median(walls_u) if walls_u else 0.0
    m["trace.overhead_ms"] = (
        (m["trace.cycle_wall_s"] - m["trace.untraced_cycle_s"]) * 1e3
        if walls_t and walls_u else 0.0
    )
    m["trace.cycles"] = len(traced)
    return m


def layer_metrics(cycles: list[dict], extra: dict) -> dict:
    m = _span_metrics(cycles)
    traced = [c for c in cycles if c["traced"]] or cycles
    n = max(1, len(traced))
    for k in (
        "delta.rows_in", "delta.rows_out", "batch.bodies", "batch.body_mb",
        "sinks.http_sink.requests", "sinks.http_sink.body_mb",
        "sinks.http_sink.retries", "sinks.receiver.busy_s",
        "state.keys_expired", "state.save_state.rows",
    ):
        m[k] = sum(c[k] for c in traced) / n
    m["batch.items_per_body_max"] = max((c["batch.items_per_body_max"] for c in cycles), default=0)
    m["delta.emit_ratio"] = m["delta.rows_out"] / max(1, m["delta.rows_in"])
    m["state.keys_live"] = cycles[-1]["state.keys_live"] if cycles else 0
    m.update(extra)
    return m


def neardup_layer_metrics(cycles: list[dict]) -> dict:
    m = _span_metrics(cycles)
    traced = [c for c in cycles if c["traced"]]
    over = [o for c in cycles for o in c["streaming.trigger_overhead_ms"]]
    m["streaming.batches"] = len(traced)
    m["streaming.trigger_overhead_ms"] = statistics.median(over) if over else 0.0
    for k in ("calls", "fallbacks"):
        m[f"streaming.planned_batch_rows.{k}"] = sum(
            c[f"streaming.planned_batch_rows.{k}"] for c in traced)
    if len(cycles) > 1:
        m["state.append_state.rows"] = (
            cycles[-1]["state_rows"] - cycles[0]["state_rows"]
        ) / (len(cycles) - 1)
    last = cycles[-1]
    m["state.bytes"] = last["state_bytes"]
    m["state.files"] = last["state_files"]
    m["state.keys_live"] = last["live"]
    m["ext.dedup.kept_ratio"] = last["kept"] / last["landed"]
    return m


PER_LAYER = (
    "host.reference_s",
    "session.get_spark.wall_s",
    "pipeline.transform.wall_s", "pipeline.transform.cpu_ms",
    "pipeline.transform.shuffle_write_mb", "pipeline.transform.tasks",
    "pipeline.transform.jobs",
    "delta.rows_in", "delta.rows_out", "delta.emit_ratio",
    "delta.changed_rows.plan_ms",
    "mapping.apply_mapping.plan_ms", "hbs.compile_hbs.plan_ms",
    "batch.bodies", "batch.items_per_body_max", "batch.body_mb",
    "sinks.http_sink.wall_s", "sinks.http_sink.cpu_ms",
    "sinks.http_sink.requests", "sinks.http_sink.body_mb",
    "sinks.http_sink.retries", "sinks.receiver.busy_s",
    "state.load_state.wall_s", "state.save_state.wall_s",
    "state.save_state.cpu_ms", "state.save_state.shuffle_write_mb",
    "state.save_state.spill_mb", "state.save_state.rows",
    "state.append_state.wall_s", "state.append_state.rows",
    "state.bytes", "state.files", "state.keys_live", "state.keys_expired",
    "checkpoint.max_ts_and_count.wall_s", "checkpoint.save_checkpoint.wall_s",
    "streaming.run_available_now.wall_s", "streaming.batches",
    "streaming.trigger_overhead_ms", "streaming.planned_batch_rows.calls",
    "streaming.planned_batch_rows.fallbacks",
    "ext.prep.batch.wall_s", "ext.prep.batch.cpu_ms",
    "ext.prep.batch.shuffle_write_mb", "ext.prep.batch.spill_mb",
    "ext.dedup.kept_ratio",
    *(f"{layer}.{k}" for layer in LAYERS for k in ("jobs", "stages", "tasks")),
    "trace.cycles", "trace.cycle_wall_s", "trace.untraced_cycle_s",
    "trace.overhead_ms", "trace.self_sum_s", "trace.unaccounted_ms",
)

WORKLOADS = {"cron_steady": cron_steady, "neardup_stream": neardup_stream}


def run_workload(args, work: str, t_start: float) -> dict:
    run = Run(args, work, t_start)
    run.start_session()
    try:
        if args.trace:
            _wrap_engine(run.tracer)
        WORKLOADS[args.workload](run)
        if not run.cycles:
            raise RuntimeError("no measured cycle completed")
        if args.trace:
            run.layer["session.get_spark.wall_s"] = run.session_s
            run.layer["host.reference_s"] = statistics.median(run.ref_s)
            metrics = {
                name: {"value": run.layer.get(name, 0.0), "unit": PER_LAYER_UNITS[name]}
                for name in PER_LAYER
            }
        else:
            metrics = run.end_to_end()
    finally:
        run.stop_session()
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_mb"):
        return "MB"
    if last == "bytes":
        return "bytes"
    if last.endswith("ratio"):
        return "ratio"
    return "count"


PER_LAYER_UNITS = {name: _unit(name) for name in PER_LAYER}
