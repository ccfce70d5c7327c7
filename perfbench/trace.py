"""Tracing for the benchmark's traced run, built from outside the engine.

:class:`Tracer` wraps public callables where the engine binds them and
records a span (name, start, end, parent span, op id) for each call made
while tracing is on. Spans and counters stay in memory; the runner writes
them out when the run ends. With tracing off a wrapper costs one flag
test, so traced and untraced operations can alternate in one run.

:class:`SparkCounters` reads Spark's own accounting for a window of jobs
from the status store: jobs, stages, tasks, executor run time, input and
shuffle bytes, and the time within the window when no job was running.
"""

from __future__ import annotations

import functools
import time
from collections import Counter


class Tracer:
    def __init__(self) -> None:
        self.on = False
        self.op_id: int | None = None
        self.spans: list[tuple] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    def patch(self, owner, attr: str, name: str, hit=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``.
        ``hit(result) -> bool`` additionally counts useful outcomes:
        ``<name>.calls`` and ``<name>.hits``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.on:
                return orig(*args, **kwargs)
            idx = len(tracer.spans)
            parent = tracer._stack[-1] if tracer._stack else None
            tracer.spans.append(None)
            tracer._stack.append(idx)
            t0 = time.perf_counter()
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer._stack.pop()
                tracer.spans[idx] = (name, t0, time.perf_counter(), parent, tracer.op_id)
            if hit is not None:
                tracer.counts[f"{name}.calls"] += 1
                tracer.counts[f"{name}.hits"] += bool(hit(out))
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def count_calls(self, owner, attr: str, name: str) -> None:
        """Count calls of ``owner.attr`` made while tracing is on."""
        orig = getattr(owner, attr)
        counts = self.counts
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tracer.on:
                counts[name] += 1
            return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def span_seconds(self, name: str, op_ids=None) -> float:
        """Total duration of spans called ``name`` (within ``op_ids``)."""
        return sum(
            s[2] - s[1]
            for s in self.spans
            if s is not None and s[0] == name and (op_ids is None or s[4] in op_ids)
        )

    def dump(self) -> dict:
        return {
            "spans": [
                {"name": s[0], "start": s[1], "end": s[2], "parent": s[3], "op": s[4]}
                for s in self.spans
                if s is not None
            ],
            "counts": dict(self.counts),
        }


def install_engine_spans(tracer: Tracer) -> None:
    """Wrap each layer's public callables where the engine binds them."""
    from pyspark.sql import SparkSession
    from py4j.java_gateway import JavaMember

    from kylin_on_parquet_v2_spark import session
    from kylin_on_parquet_v2_spark.cube import build, dictionary, merge
    from kylin_on_parquet_v2_spark.pipeline import (
        decontam,
        dedup,
        sampling,
        similarity,
        text,
    )
    from kylin_on_parquet_v2_spark.query import engine

    tracer.count_calls(JavaMember, "__call__", "py4j.calls")
    tracer.patch(SparkSession, "sql", "catalyst.analyze")
    tracer.patch(session, "register_views", "session.register_views")
    tracer.patch(engine, "register_views", "session.register_views")
    present = lambda out: out is not None  # noqa: E731
    tracer.patch(engine, "extract_digest", "query.digest", hit=present)
    for fn in ("extract_join_digest", "extract_union_digest", "extract_agg_over_union"):
        tracer.patch(engine, fn, "query.digest.multi")
    tracer.patch(engine, "plan_route", "query.router.plan", hit=present)
    tracer.patch(engine, "execute_route", "query.router.scan_build")
    tracer.count_calls(build.CubeInstance, "layout_df", "cube.layout_df_calls")
    tracer.patch(build.CubeBuilder, "build_increment", "cube.refresh.build_increment")
    tracer.patch(dictionary, "extend_global_dict", "cube.dictionary.extend")
    tracer.patch(merge, "maybe_auto_merge", "cube.merge.auto_merge")
    tracer.patch(merge, "apply_retention", "cube.merge.retention")
    tracer.patch(text, "quality_quantile_gate", "pipeline.text.gate")
    tracer.patch(decontam, "decontaminate", "pipeline.decontam.decontaminate")
    tracer.patch(dedup, "dedup_filter", "pipeline.dedup.filter")
    tracer.patch(sampling, "split_corpus", "pipeline.sampling.split")
    tracer.patch(similarity.IVFIndex, "topk", "pipeline.similarity.ivf_topk")
    tracer.patch(similarity.IVFIndex, "build", "pipeline.similarity.ivf_build")


class SparkCounters:
    """Spark's accounting for the jobs of one window, read by job id range
    (the benchmark runs one client, so every job in the range is its own)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._seen_stages: set[int] = set()

    def next_job(self) -> int:
        return self._dag.numTotalJobs()

    def read(self, first_job: int, end_job: int, t0_ms: float, t1_ms: float) -> Counter:
        """Counters for jobs ``[first_job, end_job)`` run in wall window
        ``[t0_ms, t1_ms]`` (epoch milliseconds)."""
        self._bus.waitUntilEmpty()
        out: Counter = Counter()
        busy: list[tuple[float, float]] = []
        for jid in range(first_job, end_job):
            job = self._store.job(jid)
            out["spark.jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                start = sub.get().getTime()
                end = done.get().getTime() if done.isDefined() else t1_ms
                busy.append((max(start, t0_ms), min(end, t1_ms)))
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                stage = self._store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += stage.numTasks()
                out["spark.executor_run_ms"] += stage.executorRunTime()
                out["spark.input_bytes"] += stage.inputBytes()
                out["spark.shuffle_read_bytes"] += stage.shuffleReadBytes()
                out["spark.shuffle_write_bytes"] += stage.shuffleWriteBytes()
        covered, cur_end = 0.0, t0_ms
        for start, end in sorted(busy):
            start = max(start, cur_end)
            if end > start:
                covered += end - start
                cur_end = end
        out["spark.no_job_ms"] += max(t1_ms - t0_ms - covered, 0.0)
        return out
