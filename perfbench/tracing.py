"""Spans recorded from the benchmark's side of each layer boundary.

Nothing in the program is edited. ``TracedEngine`` overrides the
``DruidEngine`` methods that ``execute`` calls through ``self`` (plan,
etag, serialize, sql, execute) and delegates to ``super()``. Rollup
routing and Druid SQL rewriting are module functions, so the traced
phase swaps those module attributes for timed wrappers and restores
them afterwards. Catalyst is split from execution by forcing
``executedPlan()`` on the planned DataFrame; the following action reuses
that ``QueryExecution``. Spark jobs are attributed to a request through
its job group.

A span is (id, name, start, end, parent id, request id). Spans stay in
memory and are written out when the run ends. The layer of a span is
the part of its name before the first dot.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

from coolplaydruid_spark.engine import DruidEngine

REQUEST_HEADER = "X-Perfbench-Request"


class Tracer:
    def __init__(self):
        self.active = False
        self.spans: list[tuple] = []
        self.routed: dict[str, bool] = {}
        # request id -> the Spark job group its query ran under
        self.groups: dict[str, str] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()

    # -- request scope ----------------------------------------------------

    @property
    def request(self) -> str | None:
        return getattr(self._local, "rid", None)

    def set_request(self, rid: str | None) -> None:
        self._local.rid = rid
        self._local.stack = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((sid, name, t0, t1, parent, self.request))

    def add(self, name: str, t0: float, t1: float) -> None:
        """Record an already-timed interval under the current span."""
        if self.active:
            stack = self._stack()
            self.spans.append((next(self._ids), name, t0, t1,
                               stack[-1] if stack else None, self.request))

    # -- reductions -------------------------------------------------------

    def by_request(self) -> dict[str, list[tuple]]:
        out: dict[str, list[tuple]] = {}
        for s in self.spans:
            if s[5] is not None:
                out.setdefault(s[5], []).append(s)
        return out

    @staticmethod
    def self_ms(spans: list[tuple]) -> dict[str, float]:
        """Self time per layer over one request's spans: each span's
        duration minus its children's."""
        child = {}
        for s in spans:
            if s[4] is not None:
                child[s[4]] = child.get(s[4], 0.0) + (s[3] - s[2])
        out: dict[str, float] = {}
        for s in spans:
            layer = s[1].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s[3] - s[2] - child.get(s[0], 0.0)) * 1e3
        return out

    def mean_self_ms(self, rids: list[str]) -> dict[str, float]:
        """Per-request mean self time of each layer over ``rids``."""
        spans = self.by_request()
        total: dict[str, float] = {}
        for rid in rids:
            for layer, ms in self.self_ms(spans.get(rid, [])).items():
                total[layer] = total.get(layer, 0.0) + ms
        return {k: v / max(len(rids), 1) for k, v in sorted(total.items())}

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        cols = ["id", "name", "start", "end", "parent", "request"]
        with open(path, "w") as f:
            json.dump({**extra, "columns": cols, "spans": self.spans}, f)


def force_catalyst(tracer: Tracer, df) -> None:
    """Analysis, optimization and physical planning, timed on their own."""
    with tracer.span("spark.catalyst"):
        df._jdf.queryExecution().executedPlan()  # noqa: SLF001


def timed_actions(tracer: Tracer, df) -> None:
    """Shadow the DataFrame's actions so their wall lands in spark.exec."""
    collect, to_iter = df.collect, df.toLocalIterator

    def traced_collect():
        with tracer.span("spark.exec"):
            return collect()

    def traced_iter(*a, **kw):
        it = iter(to_iter(*a, **kw))
        while True:
            t0 = time.perf_counter()
            try:
                row = next(it)
            except StopIteration:
                tracer.add("spark.exec", t0, time.perf_counter())
                return
            tracer.add("spark.exec", t0, time.perf_counter())
            yield row

    df.collect = traced_collect
    df.toLocalIterator = traced_iter


class TracedEngine(DruidEngine):
    """DruidEngine whose layer calls record spans while tracing is on."""

    tracer: Tracer

    def execute(self, query):
        t = self.tracer
        if not t.active:
            return super().execute(query)
        with t.span("engine.execute"):
            return super().execute(query)

    def etag(self, query):
        with self.tracer.span("engine.etag"):
            return super().etag(query)

    def plan(self, query):
        t = self.tracer
        if not t.active:
            return super().plan(query)
        depth = getattr(t._local, "plan_depth", 0)  # noqa: SLF001
        t._local.plan_depth = depth + 1  # noqa: SLF001
        try:
            with t.span("plans.build"):
                df = super().plan(query)
        finally:
            t._local.plan_depth = depth  # noqa: SLF001
        if depth == 0:
            if t.request is not None:
                t.groups[t.request] = self.spark.sparkContext.getLocalProperty(
                    "spark.jobGroup.id")
            force_catalyst(t, df)
            timed_actions(t, df)
        return df

    def serialize(self, query, rows):
        with self.tracer.span("engine.serialize"):
            return super().serialize(query, rows)

    def sql(self, statement, args=None):
        t = self.tracer
        if not t.active:
            return super().sql(statement, args)
        if t.request:
            # The HTTP SQL path sets no job group; tag this thread's jobs
            # with the request so they can be attributed.
            self.spark.sparkContext.setJobGroup(t.request, "perfbench sql")
            t.groups[t.request] = t.request
        with t.span("engine.sql"):
            df = super().sql(statement, args)
            force_catalyst(t, df)
        timed_actions(t, df)
        return df


@contextmanager
def patched(tracer: Tracer):
    """Swap the module functions the engine calls for timed wrappers:
    rollup routing (which also records whether the query was routed)
    and Druid SQL rewriting."""
    import coolplaydruid_spark.engine as engine_mod
    import coolplaydruid_spark.sqlcompat as sqlcompat_mod

    route, rewrite = engine_mod.rewrite_with_rollup, sqlcompat_mod.rewrite_druid_sql

    def timed_route(rollups, query):
        with tracer.span("rollup.route"):
            out = route(rollups, query)
        rid = tracer.request
        if rid is not None:
            routed = out.get("dataSource") != query.get("dataSource")
            tracer.routed[rid] = tracer.routed.get(rid, False) or routed
        return out

    def timed_rewrite(statement, *a, **kw):
        with tracer.span("sqlcompat.rewrite"):
            return rewrite(statement, *a, **kw)

    engine_mod.rewrite_with_rollup = timed_route
    sqlcompat_mod.rewrite_druid_sql = timed_rewrite
    try:
        yield
    finally:
        engine_mod.rewrite_with_rollup = route
        sqlcompat_mod.rewrite_druid_sql = rewrite


def traced_handler(base, tracer: Tracer):
    """Handler class whose POSTs run inside a server.request span tagged
    with the client's request id."""

    class Handler(base):
        def do_POST(self):  # noqa: N802
            tracer.set_request(self.headers.get(REQUEST_HEADER))
            try:
                with tracer.span("server.request"):
                    super().do_POST()
            finally:
                tracer.set_request(None)

    return Handler


# ---- Spark job attribution ----------------------------------------------


def spark_counts(spark, group: str) -> dict:
    """Jobs, stages that ran, their tasks, input records and shuffle
    write records for one job group. Read after the run, when the
    listener bus has drained."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    jobs = list(tracker.getJobIdsForGroup(group))
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
           "input_records": 0, "shuffle_write_records": 0}
    seen = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in (list(info.stageIds) if info else []):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted or never submitted
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["input_records"] += st.inputRecords()
            out["shuffle_write_records"] += st.shuffleWriteRecords()
    return out


def wait_listener_bus(spark, timeout_s: float = 30.0) -> None:
    """Block until the status store has seen every submitted job end."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.time() + timeout_s
    while tracker.getActiveJobsIds() and time.time() < deadline:
        time.sleep(0.05)
    time.sleep(0.5)


def per_query_counts(spark, groups: dict) -> dict:
    """Spark work per query from {query key: [job group, ...]}: for each
    key the median over its executions, then the mean over keys (record
    counts per Spark job)."""
    wait_listener_bus(spark)
    med = {}
    for key, gs in groups.items():
        counts = [spark_counts(spark, g) for g in gs]
        med[key] = {f: statistics.median(c[f] for c in counts) for f in counts[0]}
    keys = max(len(med), 1)
    jobs = sum(m["jobs"] for m in med.values())

    def total(f):
        return sum(m[f] for m in med.values())
    return {
        "spark.jobs_per_query": jobs / keys,
        "spark.stages_per_query": total("stages") / keys,
        "spark.tasks_per_query": total("tasks") / keys,
        "spark.input_records": total("input_records") / max(jobs, 1),
        "spark.shuffle_write_records": total("shuffle_write_records") / max(jobs, 1),
    }
