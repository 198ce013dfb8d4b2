"""Spans around the engine's public calls, Spark counters per span, and
streaming progress.

Spans are opened by wrappers the benchmark installs on module attributes of
the engine (the engine itself is unchanged). They are held in memory until
the run ends. A span's self time is its duration minus its child spans.

Spark jobs are attributed by job-id range: a span records the scheduler's
next job id when it opens and when it closes, and a job belongs to the
innermost span whose range holds its id. A job belongs to the call that
triggered it, not to the call that built its plan: in
``pipeline.run_streaming`` the bodies are not cached, so the sink call runs
the whole transform and its stages land on ``sinks.http_sink``.

Stage counters come from Spark's status store, read after each cycle once
the listener bus is drained, with ``spark.ui.retainedJobs/retainedStages``
raised so that nothing is evicted before it is read.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

RETAIN_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}

COUNTERS = ("jobs", "stages", "tasks", "cpu_ms", "shuffle_write_mb", "spill_mb")


class SparkStats:
    """Job and stage counters read from the driver's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._counted_stages: set[int] = set()

    def next_job(self) -> int:
        return self._sc.dagScheduler().numTotalJobs()

    def settle(self) -> None:
        """Wait until the status store has seen every event posted so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def job_counters(self, j0: int, j1: int) -> dict[int, dict[str, float]]:
        """Counters of jobs ``j0 <= id < j1``. A stage counts once, for the
        first job that lists it, and only if it ran (skipped stages reuse
        shuffle output of an earlier stage)."""
        out = {}
        for jid in range(j0, j1):
            c = dict.fromkeys(COUNTERS, 0.0)
            c["jobs"] = 1
            try:
                sids = self._store.job(jid).stageIds()
            except Exception:  # evicted or unknown: count the job alone
                out[jid] = c
                continue
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in self._counted_stages:
                    continue
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:
                    continue
                if sd.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                self._counted_stages.add(sid)
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["cpu_ms"] += sd.executorCpuTime() / 1e6
                c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                c["spill_mb"] += sd.diskBytesSpilled() / 1e6
            out[jid] = c
        return out


@dataclass
class Span:
    name: str
    parent: "Span | None"
    t0: float
    j0: int
    t1: float = 0.0
    j1: int = 0


class Tracer:
    """Spans in memory. ``active`` switches recording on and off between
    cycles, so one run can interleave traced and untraced cycles."""

    def __init__(self, stats: SparkStats):
        self.stats = stats
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        with self._lock:
            s = Span(name, self._stack[-1] if self._stack else None,
                     time.perf_counter(), self.stats.next_job())
            self._stack.append(s)
        try:
            yield
        finally:
            with self._lock:
                s.j1 = self.stats.next_job()
                s.t1 = time.perf_counter()
                self._stack.remove(s)
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, around=None) -> None:
        """Replace ``owner.attr`` by a traced wrapper. ``around(fn, args,
        kwargs)`` may rewrite the call, e.g. to wrap a callback argument."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                if around is not None:
                    return around(original, args, kwargs)
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def take(self) -> list[Span]:
        with self._lock:
            out, self.spans = self.spans, []
        return out


def summarize(spans: list[Span], job_counters: dict[int, dict[str, float]]):
    """Per span name: calls, inclusive and self seconds, and the Spark
    counters of the jobs attributed to it."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[id(s.parent)].append(s)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: defaultdict(float)
    )
    for s in spans:
        kids = children[id(s)]
        agg = out[s.name]
        agg["calls"] += 1
        agg["incl_s"] += s.t1 - s.t0
        agg["self_s"] += (s.t1 - s.t0) - sum(k.t1 - k.t0 for k in kids)
        owned = set(range(s.j0, s.j1))
        for k in kids:
            owned -= set(range(k.j0, k.j1))
        for jid in owned:
            for c, v in job_counters.get(jid, {}).items():
                agg[c] += v
    return out


class ProgressLog(StreamingQueryListener):
    """Progress of every streaming micro-batch, in arrival order."""

    def __init__(self):
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self._events.append({
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
            })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self, batches: int, timeout_s: float = 30.0) -> list[dict]:
        """Wait until ``batches`` batches have reported, then hand over
        every event received so far."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                if len(self._events) >= batches or time.monotonic() > deadline:
                    out, self._events = self._events, []
                    return out
            time.sleep(0.02)


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus this process."""
    total_kb = 0
    for pid in (jvm_pid, "self"):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024
