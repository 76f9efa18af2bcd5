"""Outside-in tracer: spans and counts around the engine's public calls.

Nothing in the engine is edited. :meth:`Tracer.install` replaces public
functions on their modules (and ``DataFrame.materialize`` on the class)
with wrappers that open a span around each call. It must run after
``googleanalytics_etl_spark`` is imported but before ``registry.queries()``
imports the ops modules, because those bind ``io.load`` by name.

Each span records name, layer, start, end, parent and trace (one trace per
benchmark operation) and sets its own Spark job group, so jobs, stages and
task metrics in the status store can be attributed to the innermost span
that fired them. Streaming micro-batches run under the stream's own job
group and are read from a ``StreamingQueryListener`` instead. Spans stay
in memory; :meth:`Tracer.write` stores them once at the end.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    layer: str
    trace: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    run_id: str = ""  # set on stream runs, whose jobs carry the run id as group

    @property
    def group(self) -> str:
        return self.run_id or f"perfbench-{self.id}"


def _tree_size(root: Path) -> tuple[set[str], int]:
    files, total = set(), 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                files.add(p)
                total += os.path.getsize(p)
    return files, total


class Tracer:
    """In-memory span recorder; one instance per benchmark process."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self._trace = 0  # current operation's trace id; 0 outside operations
        self._lock = threading.Lock()
        self.progress: list[dict] = []  # streaming trigger progress events
        self.stream_runs: dict[str, Span] = {}  # stream run id → its jobs

    # -- spans --------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if span is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(span.group, span.name, False)

    @contextmanager
    def span(self, name: str, layer: str, **counts):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, layer, self._trace,
                 parent.id if parent else None, time.perf_counter(), counts=dict(counts))
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    @contextmanager
    def operation(self, name: str):
        """One benchmark operation: a new trace and its root span."""
        self._trace = next(self._traces)
        try:
            with self.span(name, "op") as s:
                yield s
        finally:
            self._trace = 0

    def _wrap(self, fn, name: str, layer: str, after=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer) as s:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(s, args, kwargs, out)
                return out

        return wrapper

    # -- hooks --------------------------------------------------------

    def install(self) -> None:
        """Wrap the public boundary of every engine module the workloads
        use. Call before ``registry.queries()`` first runs."""
        import googleanalytics_etl_spark as pkg
        from googleanalytics_etl_spark import io, session
        from pyspark.sql import DataFrame

        get_spark = self._wrap(session.get_spark, "get_spark", "session")
        session.get_spark = pkg.get_spark = get_spark
        load = self._wrap(io.load, "load", "io")
        io.load = pkg.load = load
        DataFrame.materialize = self._wrap(DataFrame.materialize, "materialize", "materialize")

        from googleanalytics_etl_spark import etl, reports
        from googleanalytics_etl_spark.sources import paged, sinks

        def rows_offered(span, args, kwargs, out):
            import pyarrow.parquet as pq

            sf_dir = args[1] if len(args) > 1 else kwargs["sf_dir"]
            span.counts["rows_read"] = pq.read_metadata(f"{sf_dir}/events.parquet").num_rows

        paged.read_paged = self._wrap(paged.read_paged, "read_paged", "paged", rows_offered)
        etl.SyncPipeline.sync = self._wrap(etl.SyncPipeline.sync, "sync", "etl")
        etl.SyncPipeline.high_water_mark = self._wrap(
            etl.SyncPipeline.high_water_mark, "high_water_mark", "etl.hwm")

        upsert = sinks.upsert_append

        def traced_upsert(spark, incoming, target_path, key, *a, **kw):
            before, size0 = _tree_size(Path(target_path))
            with self.span("upsert_append", "sinks") as s:
                n = upsert(spark, incoming, target_path, key, *a, **kw)
            after, size1 = _tree_size(Path(target_path))
            new = after - before
            s.counts.update(
                appended=n,
                files_written=len(new),
                bytes_written=size1 - size0,
                buckets_touched=len({os.path.dirname(p) for p in new}),
            )
            return n

        sinks.upsert_append = etl.upsert_append = traced_upsert

        def days(span, args, kwargs, out):
            span.counts["days_rewritten"] = sum(
                1 for _ in Path(out["daily_metrics"]).glob("day_str=*"))

        reports.materialize_reports = self._wrap(
            reports.materialize_reports, "materialize_reports", "reports", days)

    def listen(self, spark) -> None:
        """Record streaming trigger progress for ``spark``'s queries."""
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    tracer.progress.append({
                        "run_id": str(p.runId),
                        "batch": p.batchId,
                        "input_rows": p.numInputRows,
                        "trigger_ms": p.durationMs.get("triggerExecution", 0),
                        "at": time.perf_counter(),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Progress())

    # -- status store -------------------------------------------------

    def harvest(self, sc) -> None:
        """Attribute jobs/stages/task metrics to spans by job group.
        Micro-batches run under their stream's run id, so each stream run
        gets a record of its own."""
        tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
        for p in self.progress:
            if p["run_id"] not in self.stream_runs:
                self.stream_runs[p["run_id"]] = Span(
                    next(self._ids), "stream", "streaming.run", 0, None, p["at"],
                    run_id=p["run_id"])
        for s in self.spans + list(self.stream_runs.values()):
            seen: set[int] = set()
            for jid in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    s.stages += 1
                    s.tasks += st.numTasks()
                    s.task_s += st.executorRunTime() / 1000.0
                    s.gc_s += st.jvmGcTime() / 1000.0
                    s.shuffle_write_bytes += st.shuffleWriteBytes()
                    s.input_bytes += st.inputBytes()

    # -- summary ------------------------------------------------------

    def self_time(self, s: Span) -> float:
        return (s.end - s.start) - sum(
            c.end - c.start for c in self.spans if c.parent == s.id)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans + list(self.stream_runs.values()):
                rec = asdict(s)
                rec["self_s"] = self.self_time(s)
                f.write(json.dumps(rec) + "\n")
            for p in self.progress:
                f.write(json.dumps({"stream_progress": p}) + "\n")
