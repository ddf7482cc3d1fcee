"""Span tracing for the traced run, recorded from outside the engine.

:class:`Tracer` replaces public functions of each engine layer with timing
wrappers. A wrapper records one span per call: name, layer, start, end, the
span that was open when it started (its parent) and the benchmark op it
belongs to. Spans stay in memory until the run writes them out.

Spark work is counted two ways. Each op runs under its own job group, and
the jobs, stages and tasks of that group are read back through
``statusTracker`` when the op returns. Streaming micro-batches run on the
query's own thread, outside any job group, so a ``StreamingQueryListener``
counts them and sums their trigger durations.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import sys
import threading
import time
from typing import Any, Callable

PKG = "demo_iceberg_permanent_delete_spark"

# (module, class or None, attribute) for every wrapped entry point; the
# module is the span's layer and the span is named `<module>.<attribute>`
TARGETS: tuple[tuple[str, str | None, str], ...] = (
    ("sources.tables", None, "load_table"),
    ("lake.catalog", "Catalog", "create_table"),
    ("lake.catalog", "Catalog", "load_table"),
    *(
        ("lake.table", "LakeTable", m)
        for m in ("delete", "read", "scan")
    ),
    ("lake.metadata", "TableMetadata", "commit"),
    ("lake.metadata", "TableMetadata", "load"),
    ("lake.pruning", None, "candidate_files"),
    ("lake.pruning", None, "scope_delete_files"),
    ("lake.planner", None, "scan_estimate"),
    ("lake.datafiles", None, "write_data_files"),
    ("lake.datafiles", None, "write_arrow_file"),
    *(
        ("lake.maintenance", None, m)
        for m in (
            "rewrite_data_files",
            "rewrite_position_delete_files",
            "expire_snapshots",
            "remove_orphan_files",
        )
    ),
    ("lake.sql", "LakeEngine", "sql"),
    ("streaming.pipelines", None, "run_available_now"),
    ("streaming.pipelines", None, "run_available_now_many"),
)

# PySpark calls that block while the JVM runs jobs: the `spark` layer
SPARK_ACTIONS = {
    "pyspark.sql.classic.dataframe:DataFrame": (
        "collect", "count", "toPandas", "toArrow", "take", "head", "first",
        "isEmpty", "localCheckpoint", "checkpoint", "toLocalIterator",
        "_collect_as_arrow",
    ),
    "pyspark.sql.readwriter:DataFrameWriter": (
        "save", "parquet", "insertInto", "saveAsTable",
    ),
}

LAYERS = (
    "session",
    "sources.tables",
    "lake.catalog",
    "lake.table",
    "lake.metadata",
    "lake.pruning",
    "lake.planner",
    "lake.datafiles",
    "lake.maintenance",
    "lake.sql",
    "operators",
    "streaming.pipelines",
    "spark",
    "bench",
)


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "op", "info", "child_s")

    def __init__(self, name: str, layer: str, parent: Span | None, op: int | None):
        self.name = name
        self.layer = layer
        self.parent = parent
        self.op = op
        self.info: dict[str, Any] = {}
        self.child_s = 0.0
        self.start = time.perf_counter()
        self.end = self.start

    @property
    def dur(self) -> float:
        return self.end - self.start

    def within(self, *, layer: str | None = None, name: str | None = None) -> bool:
        """Whether an enclosing span has this layer or this name."""
        p = self.parent
        while p is not None:
            if p.layer == layer or p.name == name:
                return True
            p = p.parent
        return False


class Tracer:
    """Records spans on the thread that drives the benchmark.

    Engine calls made on other threads (``parallel.run_concurrent``) are
    timed as spans with no parent and do not disturb the main stack."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[dict[str, Any]] = []
        self.paused = False
        self._local = threading.local()
        self._restore: list[tuple[Any, str, Any]] = []
        self._op_id: int | None = None
        self.stream_batches = 0
        self.stream_batch_ms = 0.0
        self._listener = None
        self._timed_from = 0
        # seconds of job-group set-up and read-back inside ops
        self.op_overhead_s = 0.0

    def start_timed_region(self) -> None:
        """Per-op counts and most per-layer metrics cover only what follows;
        set-up layers (session, sources, catalog) are summed over the run."""
        self.ops.clear()
        self.op_overhead_s = 0.0
        self._timed_from = len(self.spans)
        if self.stream_batches:
            self.drain_stream_events()
            self.stream_batches = 0
            self.stream_batch_ms = 0.0

    # ------------------------------------------------------------ spans
    def add_span(self, name: str, layer: str, start: float, end: float) -> None:
        """Record a span timed before the tracer existed (session start)."""
        sp = Span(name, layer, None, None)
        sp.start, sp.end = start, end
        self.spans.append(sp)

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if self.paused:
            yield None
            return
        stack = self._stack()
        sp = Span(name, layer, stack[-1] if stack else None, self._op_id)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if sp.parent is not None:
                sp.parent.child_s += sp.dur
            self.spans.append(sp)

    def _wrapper(self, fn: Callable, name: str, layer: str) -> Callable:
        post = _POST.get(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer) as sp:
                out = fn(*args, **kwargs)
                if sp is not None and post is not None:
                    post(sp, args, out)
                return out

        return traced

    def _patch(self, owner: Any, attr: str, value: Any) -> None:
        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def install(self) -> None:
        """Wrap every target, and rebind the names other engine modules
        imported with ``from … import``."""
        import importlib

        for layer, cls_name, attr in TARGETS:
            mod = importlib.import_module(f"{PKG}.{layer}")
            name = f"{layer}.{attr}"
            if cls_name is None:
                fn = getattr(mod, attr)
                wrapped = self._wrapper(fn, name, layer)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith(PKG) and m.__dict__.get(attr) is fn:
                        self._patch(m, attr, wrapped)
                continue
            cls = getattr(mod, cls_name)
            raw = cls.__dict__[attr]
            if isinstance(raw, classmethod):
                self._patch(cls, attr, classmethod(self._wrapper(raw.__func__, name, layer)))
            else:
                self._patch(cls, attr, self._wrapper(raw, name, layer))
        for path, methods in SPARK_ACTIONS.items():
            mod_name, cls_name = path.split(":")
            cls = getattr(importlib.import_module(mod_name), cls_name)
            for attr in methods:
                raw = getattr(cls, attr, None)
                if raw is None:
                    continue
                if attr not in cls.__dict__:
                    # inherited (e.g. toPandas from a mixin): patch on the class
                    self._restore.append((cls, attr, None))
                    setattr(cls, attr, self._wrapper(raw, f"spark.{attr}", "spark"))
                else:
                    self._patch(cls, attr, self._wrapper(raw, f"spark.{attr}", "spark"))
        self._add_stream_listener()

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._restore):
            if old is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, old)
        self._restore.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def _add_stream_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class BatchCounter(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.stream_batches += 1
                tracer.stream_batch_ms += float(
                    event.progress.durationMs.get("triggerExecution", 0)
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = BatchCounter()
        self.spark.streams.addListener(self._listener)

    def drain_stream_events(self, timeout_s: float = 5.0) -> None:
        """Listener events arrive asynchronously: wait until the count
        stops changing."""
        if self._listener is None:
            return
        last, still = -1, 0
        deadline = time.perf_counter() + timeout_s
        while time.perf_counter() < deadline and still < 3:
            time.sleep(0.1)
            still = still + 1 if self.stream_batches == last else 0
            last = self.stream_batches

    # -------------------------------------------------------------- ops
    @contextlib.contextmanager
    def op(self, kind: str, op_id: int):
        sc = self.spark.sparkContext
        group = f"perfbench-{op_id}"
        t0 = time.perf_counter()
        sc.setJobGroup(group, kind)
        self.op_overhead_s += time.perf_counter() - t0
        self._op_id = op_id
        try:
            with self.span(f"op.{kind}", "bench"):
                yield
        finally:
            t0 = time.perf_counter()
            self._op_id = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            st = sc.statusTracker()
            jobs = st.getJobIdsForGroup(group)
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for s in stages:
                sinfo = st.getStageInfo(s)
                if sinfo is not None:
                    tasks += sinfo.numTasks
            self.ops.append(
                {"id": op_id, "kind": kind, "jobs": len(jobs), "stages": len(stages), "tasks": tasks}
            )
            self.op_overhead_s += time.perf_counter() - t0

    def per_span_cost_s(self, n: int = 20000) -> float:
        """Cost one wrapper adds to a call, measured on a no-op."""

        def noop():
            return None

        wrapped = self._wrapper(noop, "calibrate", "bench")
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        bare = time.perf_counter() - t0
        keep = len(self.spans)
        t0 = time.perf_counter()
        for _ in range(n):
            wrapped()
        cost = (time.perf_counter() - t0 - bare) / n
        del self.spans[keep:]
        return max(cost, 0.0)

    # ---------------------------------------------------------- summary
    def summary(self) -> dict[str, float]:
        self.drain_stream_events()
        out: dict[str, float] = {}
        run_secs: dict[str, float] = collections.defaultdict(float)
        for sp in self.spans:
            run_secs[sp.name] += sp.dur
        out["sources.tables.load_table.s"] = run_secs["sources.tables.load_table"]
        out["lake.catalog.create_table.s"] = run_secs["lake.catalog.create_table"]
        out["lake.catalog.load_table.s"] = run_secs["lake.catalog.load_table"]
        spans = self.spans[self._timed_from :]
        calls: dict[str, int] = collections.Counter()
        secs: dict[str, float] = collections.defaultdict(float)
        self_s: dict[str, float] = collections.defaultdict(float)
        for sp in spans:
            calls[sp.name] += 1
            # nested calls of the same function count once toward its time
            if not sp.within(name=sp.name):
                secs[sp.name] += sp.dur
            self_s[sp.layer] += sp.dur - sp.child_s

        def pair(key: str, span_name: str) -> None:
            out[f"{key}.calls"] = calls.get(span_name, 0)
            out[f"{key}.s"] = secs.get(span_name, 0.0)

        for m in ("delete", "read", "scan"):
            pair(f"lake.table.{m}", f"lake.table.{m}")
        pair("lake.metadata.commit", "lake.metadata.commit")
        pair("lake.metadata.load", "lake.metadata.load")
        out["lake.pruning.candidate_files.s"] = secs.get("lake.pruning.candidate_files", 0.0)
        out["lake.pruning.scope_delete_files.s"] = secs.get("lake.pruning.scope_delete_files", 0.0)
        files_in = files_kept = dels_in = dels_kept = 0
        for sp in spans:
            if sp.name == "lake.pruning.candidate_files":
                files_in += sp.info.get("in", 0)
                files_kept += sp.info.get("kept", 0)
            elif sp.name == "lake.pruning.scope_delete_files":
                dels_in += sp.info.get("in", 0)
                dels_kept += sp.info.get("kept", 0)
        out["lake.pruning.files_considered"] = files_in
        out["lake.pruning.files_kept_ratio"] = files_kept / files_in if files_in else 0.0
        out["lake.pruning.deletes_considered"] = dels_in
        out["lake.pruning.deletes_kept_ratio"] = dels_kept / dels_in if dels_in else 0.0
        pair("lake.planner.scan_estimate", "lake.planner.scan_estimate")
        pair("lake.datafiles.write_data_files", "lake.datafiles.write_data_files")
        pair("lake.datafiles.write_arrow_file", "lake.datafiles.write_arrow_file")
        n_exec = calls.get("lake.datafiles.write_data_files", 0)
        n_drv = calls.get("lake.datafiles.write_arrow_file", 0)
        out["lake.datafiles.driver_path_ratio"] = n_drv / (n_drv + n_exec) if n_drv + n_exec else 0.0
        written = rewritten = 0
        for sp in spans:
            if sp.layer == "lake.datafiles":
                written += sp.info.get("bytes", 0)
                if sp.within(layer="lake.maintenance"):
                    rewritten += sp.info.get("bytes", 0)
        out["lake.datafiles.bytes_written"] = written
        for m in (
            "rewrite_data_files",
            "rewrite_position_delete_files",
            "expire_snapshots",
            "remove_orphan_files",
        ):
            out[f"lake.maintenance.{m}.s"] = secs.get(f"lake.maintenance.{m}", 0.0)
        out["lake.maintenance.bytes_rewritten"] = rewritten
        pair("lake.sql.sql", "lake.sql.sql")
        selects = calls.get("lake.sql.sql", 0)
        inner_scans = sum(
            1 for sp in spans if sp.name == "lake.table.scan" and sp.within(layer="lake.sql")
        )
        out["lake.sql.scan_miss_ratio"] = inner_scans / selects if selects else 0.0
        out["operators.build_s"] = secs.get("operators.build", 0.0)
        out["operators.exec_s"] = secs.get("operators.exec", 0.0)
        out["streaming.pipelines.run_available_now.s"] = sum(
            sp.dur
            for sp in spans
            if sp.layer == "streaming.pipelines" and not sp.within(layer="streaming.pipelines")
        )
        out["streaming.batches"] = self.stream_batches
        out["streaming.batch_s"] = self.stream_batch_ms / 1000.0
        for layer in LAYERS:
            out[f"self_s.{layer}"] = self_s.get(layer, 0.0)
        out["self_s.session"] = run_secs["session.get_spark"]
        out["trace.spans"] = len(spans)
        return out

    def op_counts(self, kinds: tuple[str, ...]) -> dict[str, float]:
        """Mean jobs, stages and tasks per op of each kind."""
        out = {}
        for kind in kinds:
            rows = [o for o in self.ops if o["kind"] == kind]
            for what in ("jobs", "stages", "tasks"):
                out[f"spark.{what}.{kind}"] = (
                    sum(o[what] for o in rows) / len(rows) if rows else 0.0
                )
        return out

    def dump(self) -> dict[str, Any]:
        index = {id(sp): i for i, sp in enumerate(self.spans)}
        t0 = min((sp.start for sp in self.spans), default=0.0)
        return {
            "spans": [
                {
                    "name": sp.name,
                    "layer": sp.layer,
                    "start": sp.start - t0,
                    "end": sp.end - t0,
                    "parent": index.get(id(sp.parent)),
                    "op": sp.op,
                    **({"info": sp.info} if sp.info else {}),
                }
                for sp in self.spans
            ],
            "ops": self.ops,
        }


def _count_pruned(sp: Span, args: tuple, out: Any) -> None:
    sp.info["in"] = len(args[0])
    sp.info["kept"] = len(out)


def _count_bytes(sp: Span, args: tuple, out: Any) -> None:
    sp.info["bytes"] = sum(getattr(e, "file_size_in_bytes", 0) for e in out or ())


_POST: dict[str, Callable[[Span, tuple, Any], None]] = {
    "lake.pruning.candidate_files": _count_pruned,
    "lake.pruning.scope_delete_files": _count_pruned,
    "lake.datafiles.write_data_files": _count_bytes,
    "lake.datafiles.write_arrow_file": _count_bytes,
}
