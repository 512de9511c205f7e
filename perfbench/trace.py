"""Layer tracing for one traced pass, installed from outside the program.

``Tracer.install()`` wraps the public calls of each layer -- the
``ParquetDatabase`` catalog surface, ``diff_tables`` as ``compare`` calls
it, ``DriftAnalysis.write``, the table pool of ``compare_all`` and the
drift-table parquet write -- plus the two routing probes of
``operators.diff`` when they exist. Each wrapper records a span (name,
start, end, parent, thread) and tags the Spark jobs it launches with its
own job group, so the JVM status store can attribute jobs, stages, task
time and bytes to the layer that asked for them. ``uninstall()`` restores
every attribute. Spans stay in memory; the worker writes them out once.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str
    attrs: dict


class Tracer:
    def __init__(self, spark, prefix: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.spans: list[Span] = []
        self.diffs: list[dict] = []  # per-table DiffResult route record
        # kind, span id, seconds, and whether the answer changed the plan;
        # a probe call that launched no job answered from size stats alone
        self.probes: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._root: int | None = None
        self._patches: list[tuple[object, str, object]] = []

    # ---- spans and job groups ----

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def group(self, sid: int) -> str:
        return f"{self.prefix}:{sid}"

    def open(self, name: str, **attrs) -> tuple[int, str | None]:
        """Start a span; its id becomes this thread's job group until
        ``close``. Returns (span id, job group to restore)."""
        with self._lock:
            sid = self._next
            self._next += 1
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        self.spans.append(Span(
            sid, name, time.perf_counter(), 0.0, parent,
            threading.current_thread().name, attrs,
        ))
        stack.append(sid)
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, self.group(sid))
        return sid, prev

    def close(self, sid: int, prev: str | None, **attrs) -> None:
        span = self.spans[self._index(sid)]
        span.end = time.perf_counter()
        span.attrs.update(attrs)
        self._stack().pop()
        self.sc.setLocalProperty(GROUP_PROP, prev)

    def _index(self, sid: int) -> int:
        # spans are appended in id order from several threads
        for i in range(len(self.spans) - 1, -1, -1):
            if self.spans[i].sid == sid:
                return i
        raise KeyError(sid)

    def span(self, name: str, fn, *args, **kwargs):
        sid, prev = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(sid, prev)

    def set_root(self, sid: int | None) -> None:
        """Parent for spans opened on threads with no open span (the
        table pool's workers)."""
        self._root = sid

    # ---- wrappers ----

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr, None)
        if orig is None:
            return
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _spanning(self, name: str):
        tracer = self

        def make(orig):
            def wrapped(*args, **kwargs):
                return tracer.span(name, orig, *args, **kwargs)
            return wrapped
        return make

    def install(self) -> None:
        import lotad_spark.compare as compare_mod
        import lotad_spark.operators.diff as diff_mod
        from lotad_spark.analysis import DriftAnalysis
        from lotad_spark.sources.parquet import ParquetDatabase
        from pyspark.sql.readwriter import DataFrameWriter

        tracer = self
        for attr in ("list_tables", "get_schema", "table"):
            self._patch(ParquetDatabase, attr, self._spanning(f"sources.{attr}"))
        self._patch(DriftAnalysis, "write", self._spanning("analysis.write"))

        def make_diff(orig):
            def wrapped(df1, df2, **kwargs):
                table = kwargs.get("table_name")
                sid, prev = tracer.open("diff.plan", table=table)
                try:
                    res = orig(df1, df2, **kwargs)
                finally:
                    tracer.close(sid, prev)
                tracer.diffs.append({
                    "table": table, "strategy": res.strategy_used,
                    "hash": res.hash_path, "columns": len(res.columns),
                    "df1": df1, "df2": df2,
                })
                # the drift write that follows on this thread
                tracer._local.table = (table, tracer.spans[tracer._index(sid)].start)
                return res
            return wrapped
        self._patch(compare_mod, "diff_tables", make_diff)

        def make_probe(kind, changed):
            def make(orig):
                def wrapped(*args, **kwargs):
                    sid, prev = tracer.open(f"diff.probe.{kind}")
                    try:
                        out = orig(*args, **kwargs)
                    finally:
                        tracer.close(sid, prev)
                    span = tracer.spans[tracer._index(sid)]
                    tracer.probes.append({
                        "kind": kind, "sid": sid, "s": span.end - span.start,
                        "changed": changed(out), "answer": out,
                    })
                    return out
                return wrapped
            return make
        # The density probe's default is "window"; the JSON probe's is the
        # Arrow hash (True = JSON present).
        self._patch(diff_mod, "_route_strategy",
                    make_probe("density", lambda out: out != "window"))
        self._patch(diff_mod, "_strings_bear_json",
                    make_probe("json", lambda out: out is False))

        def make_parquet(orig):
            def wrapped(writer, path, *args, **kwargs):
                table = getattr(tracer._local, "table", None)
                if table is None:
                    return orig(writer, path, *args, **kwargs)
                tracer._local.table = None
                sid, prev = tracer.open("compare.sink_write", table=table[0])
                try:
                    return orig(writer, path, *args, **kwargs)
                finally:
                    tracer.close(sid, prev)
                    end = tracer.spans[tracer._index(sid)].end
                    tracer.spans.append(Span(
                        -1, "compare.table", table[1], end, tracer._root,
                        threading.current_thread().name, {"table": table[0]},
                    ))
            return wrapped
        self._patch(DataFrameWriter, "parquet", make_parquet)

        class TracedPool(ThreadPoolExecutor):
            """compare_all's table pool, recording submission-to-start
            waits and each task's run on its worker thread."""

            def submit(self, fn, *args, **kwargs):
                submitted = time.perf_counter()

                def task(*a, **k):
                    tracer.spans.append(Span(
                        -1, "compare.pool_wait", submitted, time.perf_counter(),
                        tracer._root, threading.current_thread().name, {},
                    ))
                    return tracer.span("compare.task", fn, *a, **k)
                return super().submit(task, *args, **kwargs)
        self._patch(compare_mod, "ThreadPoolExecutor", lambda orig: TracedPool)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


# ---- Spark status store ----

def read_jobs(sc, prefix: str) -> list[dict]:
    """Jobs whose group starts with ``prefix``, each with the summed
    metrics of the stages it ran (skipped stages carry none)."""
    # the listener bus is asynchronous: wait until the status store has
    # every finished job's metrics
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    any_status = sc._jvm.java.util.ArrayList()
    jobs = store.jobsList(None)
    out = []
    seen_stages: set[int] = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        grp = job.jobGroup()
        if not grp.isDefined() or not grp.get().startswith(prefix):
            continue
        rec = {
            "job": job.jobId(), "group": grp.get(), "stages": 0, "tasks": 0,
            "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "input_b": 0,
            "shuffle_write_b": 0, "output_b": 0, "spill_b": 0,
            "input_rows": 0, "output_rows": 0,
        }
        ids = job.stageIds()
        for j in range(ids.size()):
            stage_id = ids.apply(j)
            if stage_id in seen_stages:
                continue
            attempts = store.stageData(stage_id, False, any_status, False, no_quantiles)
            ran = False
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if st.numCompleteTasks() == 0:
                    continue
                ran = True
                rec["tasks"] += st.numCompleteTasks()
                rec["run_ms"] += st.executorRunTime()
                rec["cpu_ns"] += st.executorCpuTime()
                rec["gc_ms"] += st.jvmGcTime()
                rec["input_b"] += st.inputBytes()
                rec["shuffle_write_b"] += st.shuffleWriteBytes()
                rec["output_b"] += st.outputBytes()
                rec["input_rows"] += st.inputRecords()
                rec["output_rows"] += st.outputRecords()
                rec["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if ran:
                seen_stages.add(stage_id)
                rec["stages"] += 1
        out.append(rec)
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
