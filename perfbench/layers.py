"""Per-layer tracing from outside the package.

``Tracer.install`` wraps public functions of each layer module in place
(and restores them in ``uninstall``). Every wrapped call records a span
(name, start, end, parent span) plus the Spark jobs its own thread's job
group ran; spans stay in memory until the run ends. A layer's *self*
time is its spans' duration minus the time its child spans cover.

The file-system seam is hot (hundreds of calls per commit), so it keeps
counters only, no spans.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from jobs import JobCounter

PKG = "transactional_datalake_using_apache_iceberg_on_aws_glue_spark"
UNTRACED_THREAD = "perfbench-visibility-probe"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    child_s: float = 0.0
    jobs: set = field(default_factory=set)
    info: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
            except FileNotFoundError:
                pass  # removed by a concurrent commit's cleanup
    return files, size


class Tracer:
    def __init__(self, spark) -> None:
        self.jobs = JobCounter(spark)
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    @staticmethod
    def quiet() -> bool:
        """True on the benchmark's own visibility probe thread, whose
        metadata reads are not the engine's work."""
        return threading.current_thread().name == UNTRACED_THREAD

    @contextmanager
    def span(self, name: str, count_jobs: bool = True):
        if self.quiet():
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        group = self.jobs.group() if count_jobs else None
        before = self.jobs.job_ids(group) if count_jobs else set()
        s = Span(name, time.perf_counter(), parent=stack[-1] if stack else None)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if count_jobs:
                s.jobs = self.jobs.job_ids(group) - before
            if s.parent is not None:
                s.parent.child_s += s.end - s.start
            with self._lock:
                self.spans.append(s)

    # -- installation ------------------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _wrap_span(self, owner, attr: str, name: str, count_jobs: bool = True,
                   before=None, after=None) -> None:
        tracer = self

        def make(orig):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                pre = before(*args, **kwargs) if before and not tracer.quiet() else None
                with tracer.span(name, count_jobs) as s:
                    out = orig(*args, **kwargs)
                if s is not None and after is not None:
                    after(s, pre, out, *args, **kwargs)
                return out
            return wrapper

        self._patch(owner, attr, make)

    def _wrap_count(self, owner, attr: str, name: str) -> None:
        tracer = self

        def make(orig):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                if tracer.quiet():
                    return orig(*args, **kwargs)
                t0 = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    dt = time.perf_counter() - t0
                    with tracer._lock:
                        tracer.counts[f"{name}.ops"] += 1
                        tracer.counts[f"{name}.s"] += dt
            return wrapper

        self._patch(owner, attr, make)

    def install(self) -> None:
        import importlib

        apply_mod = importlib.import_module(f"{PKG}.cdc.apply")
        stream_mod = importlib.import_module(f"{PKG}.streaming.cdc_stream")
        table_mod = importlib.import_module(f"{PKG}.lake.table")
        fsio_mod = importlib.import_module(f"{PKG}.lake.fsio")
        sql_mod = importlib.import_module(f"{PKG}.lake.merge_sql")
        mat_mod = importlib.import_module(f"{PKG}.lake.materialized")
        Table = table_mod.ParquetLakeTable

        def batch_info(s, _pre, _out, _df, table, batch_id=None, *a, **k):
            s.info["batch_id"] = batch_id
            s.info["version"] = table.current_version()  # the batch's commit

        # start_cdc_stream's foreachBatch resolves apply_cdc_batch in the
        # streaming module, a hand-built stream in cdc.apply: wrap both
        self._wrap_span(stream_mod, "apply_cdc_batch", "cdc.apply", after=batch_info)
        self._wrap_span(apply_mod, "apply_cdc_batch", "cdc.apply", after=batch_info)
        self._wrap_span(apply_mod, "flatten_envelope", "cdc.envelope.plan", count_jobs=False)
        self._wrap_span(apply_mod, "latest_per_key", "cdc.dedup.plan", count_jobs=False)

        def table_bytes(table, *a, **k):
            return dir_bytes(table.path)

        def written(s, pre, _out, table, *a, **k):
            files, size = dir_bytes(table.path)
            s.info["files_written"] = max(0, files - pre[0])
            s.info["bytes_written"] = max(0, size - pre[1])

        self._wrap_span(Table, "merge", "lake.table.merge", before=table_bytes, after=written)
        self._wrap_span(Table, "compact", "lake.table.compact", before=table_bytes,
                        after=written)
        self._wrap_span(Table, "read_data", "lake.table.read")
        self._wrap_span(Table, "scan", "lake.table.read")
        # the one non-public hook: each merge attempt, so that attempts
        # beyond the first per merge() are the internal commit retries
        self._wrap_count(Table, "_merge_once", "lake.table.merge_attempts")

        def harvested(s, _pre, _out, _spark, files, *a, **k):
            s.info["files"] = len(files)

        # lake.table imports harvest_stats by name; wrap that binding
        self._wrap_span(table_mod, "harvest_stats", "lake.scan.harvest", after=harvested)

        for attr in ("read_text", "exists", "isdir", "listdir", "walk_files", "size",
                     "mtime_ms", "makedirs", "write_text", "create_exclusive", "touch",
                     "replace", "remove", "rmtree"):
            self._wrap_count(fsio_mod.LocalFileSystem, attr,
                             "lake.fsio.walks" if attr == "walk_files" else "lake.fsio")
        self._wrap_span(sql_mod.MergeSqlRunner, "query", "lake.merge_sql.rewrite")
        self._wrap_span(mat_mod.MaterializedRollup, "refresh", "lake.materialized.refresh")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- summaries ---------------------------------------------------------

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def totals(self, name: str) -> dict:
        """Summed self seconds, jobs, stages and tasks over a span name."""
        spans = self.by_name(name)
        jobs = set().union(*(s.jobs for s in spans)) if spans else set()
        stages, tasks = self.jobs.shape(jobs)
        return {"calls": len(spans), "s": sum(s.self_s for s in spans),
                "jobs": len(jobs), "stages": stages, "tasks": tasks}
