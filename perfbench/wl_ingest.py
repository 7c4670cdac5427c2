"""Writes landing beside repeated reads, in two workloads.

``ingest_dashboard``: two closed-loop dashboard clients repeat a small
fixed set of queries over HTTP with the result cache on. One writer
thread, on a fixed schedule, appends a seeded batch (one sf0.1 day
shifted past the end of the table) to a scratch table built in set-up
with ``index_task``, then calls ``register_ingested``. Between the
append and the re-registration it issues one dashboard read, as a
polling dashboard would. The program answers later reads from a result
that read cached, so this workload shows the stale-cache defect.

``ingest_uncached``: the same, except that every read sends
``useCache``/``populateCache`` false and the writer appends back to
back. No read can be answered from the cache, so no read is stale, and
the writer's ingest times are the figure of interest.

Writes go through the Python API: the HTTP task endpoint never
re-registers, so appends made through it never become visible.

Answer check: a read's row count must lie between the rows acknowledged
(appended and re-registered) before it was sent and after it returned.
"""

from __future__ import annotations

import copy
import datetime as dt
import random
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import common
import fixtures
import tracing
from serving import Sample, Serving, closed_loop, layer_counts, layer_times, ok_status

N_READERS = 2
# Seconds between write starts: a fixed schedule for the dashboard, back
# to back for ingest_uncached.
WRITE_PERIOD_S = {True: 2.0, False: 0.0}
NO_CACHE = {"useCache": False, "populateCache": False}
TABLE = "live"
ALL_TIME = "2023-01-01T00:00:00/2026-01-01T00:00:00"
DASHBOARD = [
    {"queryType": "timeseries", "dataSource": TABLE, "granularity": "all",
     "intervals": [ALL_TIME],
     "aggregations": [{"type": "count", "name": "rows"},
                      {"type": "doubleSum", "name": "total", "fieldName": "value"}]},
    {"queryType": "topN", "dataSource": TABLE, "granularity": "all",
     "intervals": [ALL_TIME], "dimension": "event_type", "metric": "rows",
     "threshold": len(fixtures.EVENT_TYPES),
     "aggregations": [{"type": "count", "name": "rows"}]},
    {"queryType": "groupBy", "dataSource": TABLE, "granularity": "all",
     "intervals": [ALL_TIME], "dimensions": ["event_type"],
     "aggregations": [{"type": "count", "name": "rows"}]},
]


def dashboard(cached: bool) -> list[dict]:
    if cached:
        return DASHBOARD
    out = copy.deepcopy(DASHBOARD)
    for q in out:
        q["context"] = dict(NO_CACHE)
    return out


def batch_plan(seed: int, n: int) -> list[tuple[int, int]]:
    """(source day, shift in days) per write cycle. Each batch lands on
    its own day after the sf0.1 month."""
    rng = random.Random(seed ^ 0xBA7C4)
    return [(rng.randrange(fixtures.EVENTS_DAYS), fixtures.EVENTS_DAYS + 1 + c)
            for c in range(n)]


def make_batch(events: pa.Table, day: int, shift: int, cycle: int) -> pa.Table:
    start = fixtures.EVENTS_START + np.timedelta64(day, "D")
    ts = events["ts"]
    mask = pc.and_(pc.greater_equal(ts, pa.scalar(start, pa.timestamp("us"))),
                   pc.less(ts, pa.scalar(start + np.timedelta64(1, "D"),
                                         pa.timestamp("us"))))
    b = events.filter(mask)
    moved = pc.add(b["ts"], pa.scalar(dt.timedelta(days=shift - day), pa.duration("us")))
    ids = pc.add(b["event_id"], pa.scalar((cycle + 1) * 10_000_000, pa.int64()))
    b = b.set_column(b.schema.get_field_index("ts"), "ts", moved)
    return b.set_column(b.schema.get_field_index("event_id"), "event_id", ids)


def read_rows(body) -> int:
    """Total row count in a dashboard answer; raises on a malformed one."""
    if not isinstance(body, list):
        raise ValueError("not a result list")
    total = 0
    for e in body:
        res = e.get("result", e.get("event"))
        for r in (res if isinstance(res, list) else [res]):
            total += int(r["rows"])
    return total


def in_window(count: int, acked_before: int, acked_after: int) -> bool:
    return acked_before <= count <= acked_after


def _dir_stats(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def acked_at(acks: list[tuple[float, int]], t: float) -> int:
    """Rows acknowledged at time ``t``: the last re-registration that
    had returned by then."""
    n = acks[0][1]
    for ta, total in acks:
        if ta <= t:
            n = total
    return n


class Writer:
    """The writer. ``acks`` holds (time, rows) each time a
    re-registration returned, starting from the set-up table."""

    def __init__(self, run, spark, serving, dest: Path, rows: int, events: pa.Table,
                 cached: bool):
        self.run, self.spark, self.serving = run, spark, serving
        self.dest, self.events = dest, events
        self.poll = dashboard(cached)[0]
        self.period = WRITE_PERIOD_S[cached]
        self.acks: list[tuple[float, int]] = [(float("-inf"), rows)]
        self.plan = batch_plan(run.seed, 10_000)
        self.cycle = 0
        self.writes: list[dict] = []
        self.polls: list[Sample] = []

    def _one(self, client) -> None:
        from coolplaydruid_spark.sources import batch

        tracer = self.serving.tracer
        day, shift = self.plan[self.cycle]
        src = self.run.run_dir / "batches" / f"b{self.cycle}.parquet"
        src.parent.mkdir(parents=True, exist_ok=True)
        table = make_batch(self.events, day, shift, self.cycle)
        pq.write_table(table, src)
        files0, bytes0 = _dir_stats(self.dest)
        rid = f"ingest-{self.run.seed}-{self.cycle}"
        w = {"rid": rid, "rows": table.num_rows, "ok": False, "traced": tracer.active,
             "input_bytes": src.stat().st_size}
        self.cycle += 1
        tracer.set_request(rid)
        try:
            t0 = time.perf_counter()
            with tracer.span("sources.append"):
                batch.append_task(self.spark, {"path": str(src)}, str(self.dest),
                                  time_column="ts")
            t1 = time.perf_counter()
            # The poll a dashboard makes while the append is written but
            # not yet registered.
            status, body = client.post("/druid/v2", self.poll,
                                       {tracing.REQUEST_HEADER: f"{rid}-poll"})
            self.polls.append(Sample(f"{rid}-poll", 0, t1, time.perf_counter(),
                                     status, body))
            t2 = time.perf_counter()
            with tracer.span("catalog.register"):
                batch.register_ingested(self.serving.engine.catalog, TABLE,
                                        str(self.dest), time_column="ts")
            t3 = time.perf_counter()
            self.acks.append((t3, self.acks[-1][1] + table.num_rows))
            files1, bytes1 = _dir_stats(self.dest)
            w.update(ok=True, append_ms=(t1 - t0) * 1e3, register_ms=(t3 - t2) * 1e3,
                     files=files1 - files0, bytes=bytes1 - bytes0)
        finally:
            tracer.set_request(None)
            self.writes.append(w)

    def loop(self, seconds: float) -> None:
        """One write every ``period`` seconds (back to back at 0), each
        starting within ``seconds``."""
        c = common.Client(self.serving.port)
        t_start = time.perf_counter()
        t_end = t_start + seconds
        try:
            n = 0
            while (due := t_start + n * self.period) < t_end \
                    and time.perf_counter() < t_end:
                time.sleep(max(0.0, due - time.perf_counter()))
                self._one(c)
                n += 1
        finally:
            c.close()


class Dashboard:
    def __init__(self, seed: int, cached: bool):
        self.seed = seed
        self.queries = dashboard(cached)
        self.i = 0

    def next_request(self):
        rid = f"dash-{self.seed}-{self.i}"
        k = self.i % len(self.queries)
        self.i += 1
        # No queryId: it is part of the cache key, and a dashboard
        # repeats the same query text.
        return rid, k, "/druid/v2", self.queries[k]


def _window(serving, writer: Writer, dash: Dashboard, seconds: float, on: bool = False):
    out: dict = {}

    def readers():
        out["samples"], out["wall"] = closed_loop(
            serving.port, N_READERS, seconds, dash.next_request)

    with serving.traced(on):
        common.run_threads([readers, lambda: writer.loop(seconds)])
    return out["samples"], out["wall"]


def _judge(writer: Writer, reads: list[Sample]) -> tuple[list, int]:
    """Failed reads and, among them, stale ones (a count below what was
    acknowledged before the read was sent)."""
    failed, stale = [], 0
    for s in reads:
        lo, hi = acked_at(writer.acks, s.t0), acked_at(writer.acks, s.t1)
        try:
            n = read_rows(s.body) if ok_status(s) else None
        except (ValueError, KeyError, TypeError):
            n = None
        if n is None or not in_window(n, lo, hi):
            failed.append((s.rid, s.status, n, lo, hi))
            stale += n is not None and n < lo
    return failed, stale


def run_dashboard(run: common.Run) -> dict:
    return _run(run, cached=True)


def run_uncached(run: common.Run) -> dict:
    return _run(run, cached=False)


def _run(run: common.Run, cached: bool) -> dict:
    from coolplaydruid_spark.catalog import Catalog
    from coolplaydruid_spark.sources import batch

    sf = run.tables("sf0.1")
    events = pq.read_table(sf / "events.parquet")
    phases: dict = {}
    t = time.perf_counter()
    spark = common.start_spark(run)
    phases["jvm_s"] = time.perf_counter() - t
    serving = None
    try:
        t = time.perf_counter()
        catalog = Catalog(spark)
        dest = run.run_dir / TABLE
        batch.index_task(spark, {"path": str(sf / "events.parquet")}, str(dest),
                         time_column="ts")
        batch.register_ingested(catalog, TABLE, str(dest), time_column="ts")
        phases["index_s"] = time.perf_counter() - t
        serving = Serving(spark, catalog, run.trace)
        t = time.perf_counter()
        c = common.Client(serving.port)
        for q in dashboard(cached):
            status, _ = c.post("/druid/v2", q)
            if status != 200:
                raise RuntimeError(f"warm-up dashboard query returned HTTP {status}")
        c.close()
        phases["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - run.t_start

        writer = Writer(run, spark, serving, dest, events.num_rows, events, cached)
        dash = Dashboard(run.seed, cached)

        def window(seconds, on=False):
            return _window(serving, writer, dash, seconds, on)

        layers, traced = {}, []
        cpu0 = common.cpu_s(spark)
        if run.trace:
            reads, wall, traced, gc = common.abba(spark, run.seconds, window)
        else:
            reads, wall = window(run.seconds)
        ops = len(reads) + len(traced) + len(writer.writes) + len(writer.polls)
        cpu_ms = (common.cpu_s(spark) - cpu0) * 1e3 / ops
        rss = common.peak_rss_mb(spark)
        plain_writes = [w for w in writer.writes if w["ok"] and not w["traced"]]
        if run.trace:
            layers = {**layer_times(serving.tracer, traced),
                      **layer_counts(spark, serving.tracer, traced),
                      "jvm.gc_ms": gc}
            layers["trace.overhead_ms"] = (common.p50([s.ms for s in traced])
                                           - common.p50([s.ms for s in reads]))
            tw = [w for w in writer.writes if w["ok"] and w["traced"]]
            if tw:
                layers["catalog.register_ms"] = sum(w["register_ms"] for w in tw) / len(tw)
                layers["sources.append_ms"] = sum(w["append_ms"] for w in tw) / len(tw)
                layers["sources.files_written"] = sum(w["files"] for w in tw) / len(tw)
                layers["sources.bytes_written_per_input_byte"] = (
                    sum(w["bytes"] for w in tw) / sum(w["input_bytes"] for w in tw))

        failed_reads, stale = _judge(writer, reads + traced + writer.polls)
        failed_writes = [w["rid"] for w in writer.writes if not w["ok"]]
        failed = len(failed_reads) + len(failed_writes)
        ingest_ms = [w["append_ms"] + w["register_ms"] for w in plain_writes]
        lat = [s.ms for s in reads]
        out = {
            "setup_s": setup_s,
            "setup_phases_s": phases,
            "query_p50_ms": common.p50(lat),
            "query_p95_ms": common.tail(lat, 95.0),
            "query_qps": len(reads) / wall,
            "ingest_p50_ms": common.p50(ingest_ms),
            "ingest_rows_per_s": (sum(w["rows"] for w in plain_writes)
                                  / (sum(ingest_ms) / 1e3) if ingest_ms else 0.0),
            "error_ratio": failed / ops,
            "stale_reads": stale,
            "peak_rss_mb": rss,
            "attempted": ops,
            "failed": failed,
            "failures": failed_reads[:5] + failed_writes[:5],
            "writes": len(writer.writes),
            "layers": layers,
            "self_ms_by_layer": serving.tracer.mean_self_ms([s.rid for s in traced]),
            "tracer": serving.tracer if run.trace else None,
        }
        # The median latency of an equal mix of the dashboard queries and
        # the ingest (append plus re-registration); every completed read
        # and write per second of window.
        kinds = [(s.key, s.ms) for s in reads] + [("ingest", ms) for ms in ingest_ms]
        out["end_to_end"] = {
            "setup_s": setup_s,
            "latency_p50_ms": common.kind_p50_mean(kinds),
            "throughput_per_s": (len(reads) + len(ingest_ms)) / wall,
            "cpu_ms_per_op": cpu_ms,
        }
        return out
    finally:
        if serving is not None:
            serving.close()
        common.stop_spark(spark)
