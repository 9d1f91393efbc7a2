"""Traced mode: spans around the calls into each layer, plus Spark job
statistics per benchmark operation.

Nothing here is installed in an untraced run. ``Tracer.install`` wraps
the public functions each caller actually reaches (the module attribute
or class attribute looked up at call time), records one span per call
in memory, and restores every original in ``uninstall``. Spark work is
attributed by job group: each benchmark operation runs under its own
group, and the jobs, tasks, job run time and shuffle bytes of that group
are read back from Spark's status store after the operation.
"""

from __future__ import annotations

import statistics
import threading
import time
from dataclasses import dataclass, field

# (owner module path, attribute, span name). Class methods are given as
# "module:Class". Patched where the caller looks them up:
#   * engine -> readers: ``R.read_stream_page`` etc. (module attribute);
#   * engine -> runtime / subscriptions: names imported into the engine
#     module (``run_batch``, ``subscribe_all``);
#   * engine -> system projections: ``sysproj.<fn>`` (module attribute);
#   * writer -> manifest: ``manifest.<fn>`` (module attribute; calls
#     inside manifest.py go through its globals, so they nest);
#   * writer -> pyarrow: ``pq.write_table`` after a function-local import.
TARGETS = [
    ("eventstore_spark.writer:EventLogWriter", "__init__", "writer.open"),
    ("eventstore_spark.writer:EventLogWriter", "append", "writer.append"),
    ("eventstore_spark.writer:EventLogWriter", "append_df", "writer.append_df"),
    ("eventstore_spark.writer:EventLogWriter", "load", "writer.load"),
    ("pyarrow.parquet", "write_table", "writer.parquet_write"),
    ("eventstore_spark.manifest", "append_files", "manifest.append_files"),
    ("eventstore_spark.manifest", "latest", "manifest.latest"),
    ("eventstore_spark.manifest", "history", "manifest.history"),
    ("eventstore_spark.manifest", "files_at", "manifest.files_at"),
    ("eventstore_spark.manifest", "resolve_files", "manifest.resolve_files"),
    ("eventstore_spark.engine:EventStoreEngine", "__init__", "engine.open"),
    ("eventstore_spark.engine:EventStoreEngine", "close", "engine.close"),
    ("eventstore_spark.engine:EventStoreEngine", "append", "engine.append"),
    ("eventstore_spark.engine:EventStoreEngine", "events", "engine.events"),
    ("eventstore_spark.engine:EventStoreEngine", "read_stream", "engine.read_stream"),
    ("eventstore_spark.engine:EventStoreEngine", "read_stream_page", "engine.read_stream_page"),
    ("eventstore_spark.engine:EventStoreEngine", "read_all_page", "engine.read_all_page"),
    ("eventstore_spark.engine:EventStoreEngine", "poll_all", "engine.poll_all"),
    ("eventstore_spark.engine:EventStoreEngine", "subscribe", "engine.subscribe"),
    ("eventstore_spark.engine:EventStoreEngine", "create_projection", "engine.create_projection"),
    ("eventstore_spark.engine:EventStoreEngine", "run_projection", "engine.run_projection"),
    ("eventstore_spark.sources.readers", "read_stream_page", "readers.read_stream_page"),
    ("eventstore_spark.sources.readers", "read_all_page", "readers.read_all_page"),
    ("eventstore_spark.sources.readers", "read_all_filtered", "readers.read_all_filtered"),
    ("eventstore_spark.sources.readers", "read_stream_forward", "readers.read_stream_forward"),
    ("eventstore_spark.engine", "run_batch", "runtime.run_batch"),
    ("eventstore_spark.projections.runtime", "select_source", "reader_strategy.select_source"),
    ("eventstore_spark.engine", "subscribe_all", "subscriptions.subscribe_all"),
    ("eventstore_spark.streaming.subscriptions", "start_to_memory", "subscriptions.start_to_memory"),
    ("eventstore_spark.operators.system_projections", "by_category", "system_projections.by_category"),
    ("eventstore_spark.operators.system_projections", "system_stream_events",
     "system_projections.system_stream_events"),
]

# span-name prefix -> reported layer (the repo's module names)
LAYERS = {
    "writer": "writer",
    "manifest": "manifest",
    "engine": "engine",
    "readers": "sources.readers",
    "runtime": "projections.runtime",
    "reader_strategy": "plans.reader_strategy",
    "subscriptions": "streaming.subscriptions",
    "system_projections": "operators.system_projections",
    "op": "benchmark",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op_id: int = -1
    n: int | None = None  # size attribute (files resolved)
    children_s: float = 0.0

    @property
    def dur_ms(self) -> float:
        return (self.end - self.start) * 1000.0

    @property
    def self_ms(self) -> float:
        return (self.end - self.start - self.children_s) * 1000.0


@dataclass
class OpStats:
    """Spark work one benchmark operation caused."""

    kind: str
    wall_ms: float
    jobs: int = 0
    tasks: int = 0
    job_ms: float = 0.0
    shuffle_write_bytes: int = 0


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)
    ops: list[OpStats] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _saved: list = field(default_factory=list)
    _next_op: int = 0
    per_span_cost_ms: float = 0.0
    stats_ms: float = 0.0  # time spent reading job statistics back

    # -- span recording -------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, op_id: int | None = None) -> int:
        st = self._stack()
        parent = st[-1] if st else -1
        if op_id is None:
            op_id = self.spans[parent].op_id if parent >= 0 else -1
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op_id=op_id))
        idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def end(self, idx: int) -> None:
        sp = self.spans[idx]
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()
        if sp.parent >= 0:
            self.spans[sp.parent].children_s += sp.end - sp.start

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                out = fn(*args, **kwargs)
                if name == "manifest.resolve_files":
                    tracer.spans[idx].n = len(out)
                return out
            finally:
                tracer.end(idx)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def install(self) -> None:
        import importlib

        for owner_path, attr, name in TARGETS:
            mod_path, _, cls = owner_path.partition(":")
            owner = importlib.import_module(mod_path)
            if cls:
                owner = getattr(owner, cls)
            orig = owner.__dict__[attr] if cls else getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))
        self.per_span_cost_ms = self._calibrate()

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _calibrate(self, n: int = 20000) -> float:
        """Cost of one wrapped call around a no-op, in ms (the recorder's
        own overhead, multiplied by the span count in the report)."""
        w = self._wrap(lambda: None, "calibrate")
        keep = len(self.spans)
        t = time.perf_counter()
        for _ in range(n):
            w()
        cost = (time.perf_counter() - t) * 1000.0 / n
        del self.spans[keep:]
        return cost

    # -- operations -----------------------------------------------------
    def op(self, kind: str):
        return _OpScope(self, kind)

    def _job_stats(self, group: str, st: OpStats) -> None:
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            st.jobs += 1
            st.tasks += job.numCompletedTasks()
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                st.job_ms += done.get().getTime() - sub.get().getTime()
            stages = job.stageIds()  # a Scala Seq
            for i in range(stages.length()):
                try:
                    st.shuffle_write_bytes += store.lastStageAttempt(
                        stages.apply(i)).shuffleWriteBytes()
                except Py4JJavaError:
                    pass  # stage already evicted from the status store

    # -- report ---------------------------------------------------------
    def spans_named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def layer_self_ms(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if not s.end:
                continue
            layer = LAYERS.get(s.name.split(".", 1)[0], s.name)
            out[layer] = out.get(layer, 0.0) + s.self_ms
        return out

    def ops_of(self, *kinds: str) -> list[OpStats]:
        return [o for o in self.ops if o.kind in kinds]

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op_id, "n": s.n,
                }) + "\n")


class _OpScope:
    """One benchmark operation: a top-level span, a Spark job group, and
    (on exit) that group's job statistics."""

    def __init__(self, tracer: Tracer, kind: str):
        self.t, self.kind = tracer, kind

    def __enter__(self):
        t = self.t
        self.op_id = t._next_op
        t._next_op += 1
        self.group = f"perfbench-{self.op_id}"
        t.spark.sparkContext.setJobGroup(self.group, self.kind, False)
        self.idx = t.begin(f"op.{self.kind}", op_id=self.op_id)
        return self

    def __exit__(self, *exc):
        t = self.t
        t.end(self.idx)
        st = OpStats(self.kind, t.spans[self.idx].dur_ms)
        t.spark.sparkContext.setJobGroup("perfbench-idle", "idle", False)
        c = time.perf_counter()
        t._job_stats(self.group, st)
        t.stats_ms += (time.perf_counter() - c) * 1000.0
        t.ops.append(st)
        return False


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0
