"""In-memory spans around the calls into each engine layer.

A ``Tracer`` records one span per call: name, start, end, parent and
the id of the pass it belongs to, plus the Spark jobs, stages and tasks
the call ran. Jobs are attributed by tagging each span's calls with its
own Spark job group (``spark.jobGroup.id``, read back through
``sc.statusTracker()``; the UI stays off), so a span's own jobs exclude
those of its child spans.

``Tracer.install`` wraps the engine's public seams and ``uninstall``
puts the originals back:

* extractors, transformers and loaders, re-registered through
  ``pipeline.registries.register_*``;
* the ``ExtractResult.cleanup`` each wrapped extractor returns;
* ``TrackingStore.put``;
* ``ParquetSource.write`` / ``rmw`` / ``merge_pruned``, with the
  commit-log entries and data bytes each call adds.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: int
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the part of [lo, hi] that the union of ``intervals``
    covers; overlapping intervals count once."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_seconds(span: Span, children: list[Span]) -> float:
    """Span time minus the time its children cover."""
    return span.seconds - covered(span.start, span.end, [(c.start, c.end) for c in children])


def children_of(spans: list[Span]) -> dict[int | None, list[Span]]:
    out: dict[int | None, list[Span]] = {}
    for s in spans:
        out.setdefault(s.parent, []).append(s)
    return out


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    kids = children_of(spans)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, ()))
    return out


def inclusive(spans: list[Span], root: Span, key: str) -> int:
    """Sum of a per-span count (jobs, stages, tasks) over ``root``'s
    subtree."""
    return sum(s.attrs.get(key, 0) for s in subtree(spans, root))


def table_bytes(root: str, name: str) -> dict[int, int]:
    """inode -> size of every data file of a ParquetSource table; hard
    links that carry a file into a new version share its inode."""
    out = {}
    for d, _dirs, files in os.walk(f"{root}/.v/{name}"):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[st.st_ino] = st.st_size
    return out


class Tracer:
    def __init__(self, spark, cpu_probe=None) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.cpu_probe = cpu_probe
        self.spans: list[Span] = []
        self.run = 0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._restore: list = []

    # ----------------------------------------------------------- spans

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else None
        group = f"perfbench-{os.getpid()}-{sid}"
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, group)
        cpu0 = self.cpu_probe() if self.cpu_probe and attrs.pop("cpu", False) else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield attrs
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, prev)
            if cpu0 is not None:
                cpu1 = self.cpu_probe()
                attrs["cpu"] = tuple(b - a for a, b in zip(cpu0, cpu1))
            attrs.update(self.job_counts(group))
            self.spans.append(Span(sid, name, t0, t1, parent, self.run, attrs))

    def job_counts(self, group: str) -> dict:
        """Jobs, completed stages, tasks and failed tasks of a job group."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def wrap(self, name: str, fn, **attrs):
        def traced(*a, **kw):
            with self.span(name, **attrs):
                return fn(*a, **kw)

        return traced

    # ------------------------------------------------- engine seams

    def install(self) -> None:
        from migrator_spark.pipeline import registries
        from migrator_spark.pipeline.tracking import TrackingStore
        from migrator_spark.sources.parquet import ParquetSource

        for kind, table, register in (
            ("extractor", registries.EXTRACTORS, registries.register_extractor),
            ("transformer", registries.TRANSFORMERS, registries.register_transformer),
            ("loader", registries.LOADERS, registries.register_loader),
        ):
            registries.resolve(kind, "default" if kind != "extractor" else "queue")
            for name, fn in list(table.items()):
                wrapped = (
                    self._traced_extractor(fn) if kind == "extractor"
                    else self.wrap(f"{kind}s", fn)
                )
                register(name)(wrapped)
                self._restore.append(lambda r=register, n=name, f=fn: r(n)(f))

        put = TrackingStore.put
        TrackingStore.put = self.wrap("tracking", put)
        self._restore.append(lambda: setattr(TrackingStore, "put", put))
        for meth in ("write", "rmw", "merge_pruned"):
            orig = getattr(ParquetSource, meth)
            setattr(ParquetSource, meth, self._traced_parquet(meth, orig))
            self._restore.append(lambda m=meth, o=orig: setattr(ParquetSource, m, o))

    def uninstall(self) -> None:
        while self._restore:
            self._restore.pop()()

    def _traced_extractor(self, fn):
        def traced(*a, **kw):
            with self.span("extractors"):
                res = fn(*a, **kw)
            if res.cleanup is not None:
                res.cleanup = self.wrap("cleanup", res.cleanup)
            return res

        return traced

    def _traced_parquet(self, meth: str, fn):
        tracer = self

        def traced(src, *a, **kw):
            # write(df, name, ...) vs rmw/merge_pruned(spark, name, ...)
            name = a[1] if len(a) > 1 else kw.get("name")
            before_n = src.current_commit(name)[0]
            before = table_bytes(src.root, name)
            with tracer.span("parquet", op=meth, table=name) as attrs:
                out = fn(src, *a, **kw)
            after = table_bytes(src.root, name)
            attrs["commits"] = src.current_commit(name)[0] - before_n
            attrs["bytes"] = sum(v for k, v in after.items() if k not in before)
            return out

        return traced
