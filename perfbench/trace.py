"""Traced runs: fold spans, the event log and streaming progress into
per-layer metrics.

A traced run first measures the workload untraced (its end-to-end value
is the base of `trace_overhead`), then builds a second session with an
uncompressed event log and a `StreamingQueryListener`, repeats the
timed passes inside spans, and folds everything after that session
stops.

Each Spark job is charged to the span whose job group it carries; jobs
started by threads the span does not reach (the stream execution
thread, side threads) are charged by time to the innermost span open
when they were submitted. A span's totals include its children's.

Every workload prints every per-layer metric. A layer the workload does
not run reports 0: it did no work there.
"""

from __future__ import annotations

import json
import time
from statistics import median

from perfbench import eventlog
from perfbench.harness import Run, Span

CORPUS_CELLS = ("ngram_jaccard", "near_dedup", "similarity_topk_lsh",
                "corpus_pipeline", "stream_near_dedup")

PER_LAYER: dict[str, str] = {
    "session.build_s": "s",
    "sources.plan_s": "s",
    "sources.parse_s": "s",
    "functions.ua_ladder_s": "s",
    "sources.lines_in": "count",
    "sources.rows_out": "count",
    "sinks.write_s": "s",
    "sinks.lineage_job_s": "s",
    "sinks.insert_job_s": "s",
    "sinks.driver_s": "s",
    "spark.executor_cpu_ms": "ms",
    "spark.jvm_gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.peak_heap_mb": "MB",
    **{
        f"operators.{cell}.{m}": unit
        for cell in CORPUS_CELLS
        for m, unit in (("wall_s", "s"), ("plan_s", "s"), ("executor_cpu_ms", "ms"),
                        ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"))
    },
    "operators.ngram_jaccard.join_rows": "count",
    "operators.ngram_jaccard.pairs_out": "count",
    "streaming.state_rows_updated": "count",
    "streaming.state_commit_ms": "ms",
    "streaming.state_memory_bytes": "bytes",
    "trace_overhead": "ratio",
}


def progress_listener(spark, into: list):
    """Register a listener that appends every streaming progress (as a
    dict) to `into`."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            into.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener


def wait_quiet(items: list, settle_s: float = 0.5, limit_s: float = 10.0) -> None:
    """Wait until `items` stops growing (asynchronous listener calls)."""
    t_end = time.time() + limit_s
    n = -1
    while len(items) != n and time.time() < t_end:
        n = len(items)
        time.sleep(settle_s)


class Tracer:
    """Spans of one traced session joined with its folded event log."""

    def __init__(self, spans: list[Span], folded: eventlog.Folded, progress: list[dict]):
        self.spans = spans
        self.folded = folded
        self.progress = progress
        by_group = {s.group: s for s in spans}
        self.children: dict[str, list[Span]] = {}
        for s in spans:
            if s.parent:
                self.children.setdefault(s.parent, []).append(s)
        self.jobs: dict[str, list] = {}
        for job in folded.jobs:
            span = by_group.get(job.group) or self._innermost(job.start_ms / 1000)
            if span is not None:
                self.jobs.setdefault(span.group, []).append(job)
        self.sql: dict[str, list] = {}
        for ex in folded.sql:
            span = by_group.get(ex.group) or self._innermost(ex.start_ms / 1000)
            if span is not None:
                self.sql.setdefault(span.group, []).append(ex)

    def _innermost(self, t: float) -> Span | None:
        inside = [s for s in self.spans if s.start <= t <= s.end]
        return min(inside, key=lambda s: s.wall_s) if inside else None

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def _tree(self, span: Span) -> list[Span]:
        out = [span]
        for c in self.children.get(span.group, ()):
            out += self._tree(c)
        return out

    def jobs_under(self, span: Span) -> list:
        return [j for s in self._tree(span) for j in self.jobs.get(s.group, ())]

    def sql_under(self, span: Span) -> list:
        return [x for s in self._tree(span) for x in self.sql.get(s.group, ())]

    def progress_in(self, span: Span) -> list[dict]:
        from datetime import datetime

        def t(p):
            return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

        return [p for p in self.progress if span.start <= t(p) <= span.end]

    def median_total(self, name: str, attr: str) -> float:
        """Median over the spans called `name` of a job metric summed
        over each span's jobs."""
        spans = self.named(name)
        if not spans:
            return 0.0
        return median([sum(getattr(j, attr) for j in self.jobs_under(s)) for s in spans])

    def median_wall(self, name: str) -> float:
        spans = self.named(name)
        return median([s.wall_s for s in spans]) if spans else 0.0


def finish(run: Run, metrics: dict, tracer: Tracer, traced_e2e: float, untraced_e2e: float) -> dict:
    """Common per-layer metrics, zero defaults, and the overhead."""
    out = dict.fromkeys(PER_LAYER, 0)
    out.update({
        # the first build, inside setup_s: it also starts the JVM
        "session.build_s": next(s.wall_s for s in run.spans if s.name == "session.build"),
        "spark.executor_cpu_ms": tracer.median_total("pass", "executor_cpu_ms"),
        "spark.jvm_gc_ms": tracer.median_total("pass", "gc_ms"),
        "spark.shuffle_write_bytes": tracer.median_total("pass", "shuffle_write_bytes"),
        "spark.peak_heap_mb": tracer.folded.peak_heap_bytes / 2**20,
        "trace_overhead": traced_e2e / untraced_e2e - 1,
    })
    out.update(metrics)
    return out


def traced_session(run: Run):
    """Stop the untraced session and start the traced one; returns the
    progress list its listener fills."""
    run.stop_session()
    spark = run.build_session(traced=True)
    progress: list[dict] = []
    progress_listener(spark, progress)
    return progress


def fold(run: Run, progress: list[dict], since: float) -> Tracer:
    """Stop the traced session (flushing its event log) and fold the
    spans opened from `since` on, with the jobs they started."""
    wait_quiet(progress)
    spans = [s for s in run.spans if s.start >= since]
    run.stop_session()
    return Tracer(spans, eventlog.fold_dir(run.path("events", "")), progress)
