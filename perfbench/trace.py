"""Layer spans for the traced run, and Spark counters attributed to them.

:class:`Tracer` wraps the public layer entry points in place (module and
class attributes), records one span per call, and afterwards attributes
every Spark job to the innermost span open at the job's submission time.
Job and stage numbers come from the application status store, which
answers with the UI disabled. Nothing in the package is modified: the
wrappers are installed and removed by the benchmark.
"""

from __future__ import annotations

import functools
import math
import sys
import time
from contextlib import contextmanager

from data_engineering_datawarehousingandetlpipeline_spark.operators import (
    dedup as dd,
    similarity as sim,
)
from data_engineering_datawarehousingandetlpipeline_spark.sources import readers
from data_engineering_datawarehousingandetlpipeline_spark.streaming import (
    pipeline as sp,
)
from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
    WarehouseTable,
)

#: every span name the benchmark records; ``session.start`` is timed by the
#: runner itself, before any job can run.
SPANS = (
    "session.start",
    "sources.load",
    "cleaning.exec",
    "streaming.drain",
    "warehouse.merge",
    "warehouse.read",
    "plans.construct",
    "plans.exec",
    "operators.minhash_pairs",
    "operators.jaccard_pairs",
    "operators.ivf_topk",
)

#: (metric suffix, status-store StageData getter, scale to the unit)
COUNTERS = (
    ("task_s", "executorRunTime", 1e-3),
    ("cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "memoryBytesSpilled", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)

#: (owner, attribute, span) — the layer entry points wrapped in place
ENTRY_POINTS = (
    (readers, "load_table", "sources.load"),
    (readers, "load_events_range", "sources.load"),
    (sp, "read_json_file_stream", "sources.load"),
    (sp, "run_available", "streaming.drain"),
    (WarehouseTable, "merge_upsert", "warehouse.merge"),
    (WarehouseTable, "read", "warehouse.read"),
    (dd, "minhash_near_dup_pairs", "operators.minhash_pairs"),
    (dd, "jaccard_pairs", "operators.jaccard_pairs"),
    (sim, "cosine_top_k_ivf", "operators.ivf_topk"),
)

_PACKAGE = "data_engineering_datawarehousingandetlpipeline_spark"


class Span:
    __slots__ = ("name", "start", "end", "depth", "children_s")

    def __init__(self, name: str, start: float, depth: int) -> None:
        self.name = name
        self.start = start
        self.end = math.inf
        self.depth = depth
        self.children_s = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


class Tracer:
    """Span recorder plus in-place wrappers around the layer entry points.

    Spans live on one stack shared by all threads: the streaming sink runs
    on a callback thread while the thread that started the drain waits, so
    the calls never overlap. A wrapper opens no span while a span of the
    same layer is already innermost, so a table read inside a merge stays
    merge time.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled or (
            self._stack and self._stack[-1].name.split(".")[0] == name.split(".")[0]
        ):
            yield
            return
        s = Span(name, time.time(), len(self._stack))
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                self._stack[-1].children_s += s.duration
            self.spans.append(s)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap every entry point, including names other modules imported."""
        for owner, attr, name in ENTRY_POINTS:
            original = getattr(owner, attr)
            wrapped = self._wrap(original, name)
            targets = [owner] + [
                m for key, m in list(sys.modules.items())
                if m is not None and m is not owner
                and (key.startswith(_PACKAGE) or key == "__main__")
                and getattr(m, attr, None) is original
            ]
            for target in targets:
                self._patches.append((target, attr, original))
                setattr(target, attr, wrapped)

    def uninstall(self) -> None:
        for target, attr, original in reversed(self._patches):
            setattr(target, attr, original)
        self._patches.clear()

    # ---------------------------------------------------------- summaries

    def covered_s(self, start: float, end: float) -> float:
        """Time inside [start, end] covered by top-level spans."""
        return sum(
            min(s.end, end) - max(s.start, start)
            for s in self.spans
            if s.depth == 0 and s.end > start and s.start < end
        )

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: inclusive seconds and self seconds."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            t = out.setdefault(s.name, {"total_s": 0.0, "self_s": 0.0})
            t["total_s"] += s.duration
            t["self_s"] += s.self_s
        return out

    def spark_counters(self, spark, windows) -> dict[str, dict[str, float]]:
        """Jobs and stage counters per innermost span, for jobs submitted
        inside ``windows`` (a list of (start, end) wall-clock seconds).

        Returns ``{span name: {"jobs": n, "task_s": ..., ...}}``; jobs no
        span covers are left out.
        """
        store = spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        ordered = sorted(self.spans, key=lambda s: (s.start, s.depth))
        out: dict[str, dict[str, float]] = {}
        seen_stages: set[int] = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            submitted = job.submissionTime()
            if not submitted.isDefined():
                continue
            t = submitted.get().getTime() / 1000.0
            if not any(a - 0.001 <= t <= b for a, b in windows):
                continue
            owner, depth = None, -1
            for s in ordered:
                if s.start - 0.001 <= t <= s.end and s.depth >= depth:
                    owner, depth = s.name, s.depth
            if owner is None:
                continue
            counts = {"jobs": 1.0}
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    stage = store.lastStageAttempt(sid)
                except Exception:  # evicted or never attempted
                    continue
                for key, getter, scale in COUNTERS:
                    counts[key] = counts.get(key, 0.0) + getattr(stage, getter)() * scale
            acc = out.setdefault(owner, {})
            for key, value in counts.items():
                acc[key] = acc.get(key, 0.0) + value
        return out
