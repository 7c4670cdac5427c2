"""The HTTP serving harness shared by the two workloads that query
through ``server/http.py``: engine and server set-up, closed-loop
clients, and the per-layer reduction of a traced window."""

from __future__ import annotations

import http.client
import socket
import threading
import time
from contextlib import contextmanager

import common
import tracing
from coolplaydruid_spark.engine import DruidEngine
from coolplaydruid_spark.server.http import DruidHttpServer


class Serving:
    """A DruidHttpServer on loopback over ``catalog``. With ``trace``
    the engine is a TracedEngine and the handler opens a request span;
    the tracer stays off until ``traced()`` is entered."""

    def __init__(self, spark, catalog, trace: bool):
        self.spark = spark
        self.tracer = tracing.Tracer()
        if trace:
            engine_cls = type("Engine", (tracing.TracedEngine,), {"tracer": self.tracer})
        else:
            engine_cls = DruidEngine
        self.engine = engine_cls(spark, catalog)
        self.server = DruidHttpServer(self.engine, port=0)
        if trace:
            self.server.httpd.RequestHandlerClass = tracing.traced_handler(
                self.server.httpd.RequestHandlerClass, self.tracer)
        self.server.start()

    @property
    def port(self) -> int:
        return self.server.port

    @contextmanager
    def traced(self, on: bool = True):
        """Tracing on, with the module-function wrappers installed; a
        no-op when ``on`` is false."""
        if not on:
            yield
            return
        with tracing.patched(self.tracer):
            self.tracer.active = True
            try:
                yield
            finally:
                self.tracer.active = False

    def close(self) -> None:
        self.server.shutdown()
        self.server.httpd.server_close()


class Sample:
    """One request as the client saw it."""

    __slots__ = ("rid", "key", "t0", "t1", "status", "body", "error")

    def __init__(self, rid, key, t0, t1, status, body, error=None):
        self.rid, self.key, self.t0, self.t1 = rid, key, t0, t1
        self.status, self.body, self.error = status, body, error

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


def closed_loop(port: int, n_clients: int, seconds: float, next_request,
                block: int = 1, min_blocks: int = 1) -> tuple:
    """``n_clients`` threads, each sending its next request only after the
    previous reply, for ``seconds`` and then on until the number of
    requests sent is a whole multiple of ``block`` (so a window holds
    whole blocks of a fixed mix), and at least ``min_blocks`` blocks.
    ``next_request()`` returns (rid, key, path, body). Returns (samples,
    window wall in s)."""
    samples: list[Sample] = []
    lock = threading.Lock()
    sent = [0]
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def client():
        c = common.Client(port)
        try:
            while True:
                with lock:
                    if (time.perf_counter() >= deadline and sent[0] % block == 0
                            and sent[0] >= min_blocks * block):
                        return
                    sent[0] += 1
                    rid, key, path, body = next_request()
                t0 = time.perf_counter()
                try:
                    status, resp = c.post(path, body, {tracing.REQUEST_HEADER: rid})
                    s = Sample(rid, key, t0, time.perf_counter(), status, resp)
                except (OSError, http.client.HTTPException, socket.timeout) as e:
                    s = Sample(rid, key, t0, time.perf_counter(), None, None, repr(e))
                    c.close()
                    c = common.Client(port)
                samples.append(s)
        finally:
            c.close()

    common.run_threads([client] * n_clients)
    wall = max((s.t1 for s in samples), default=deadline) - t_start
    return samples, wall


def ok_status(s: Sample) -> bool:
    """A reply that is neither a transport failure, a non-200 status nor
    a Druid error envelope."""
    return (s.error is None and s.status == 200
            and not (isinstance(s.body, dict) and "error" in s.body))


def layer_times(tracer, samples: list[Sample]) -> dict:
    """Per-request means of each layer's time over traced samples."""
    spans = tracer.by_request()
    n = max(len(samples), 1)
    names = {"engine.etag": "engine.etag_ms", "engine.serialize": "engine.serialize_ms",
             "rollup.route": "rollup.route_ms", "plans.build": "plans.build_ms",
             "sqlcompat.rewrite": "sqlcompat.rewrite_ms",
             "spark.catalyst": "spark.catalyst_ms", "spark.exec": "spark.exec_ms"}
    out = dict.fromkeys(list(names.values()) + ["server.overhead_ms"], 0.0)
    unattributed, executed, hits = 0.0, 0, 0
    for s in samples:
        ss = spans.get(s.rid, [])
        top = {x[0] for x in ss if x[1] == "server.request"}
        # The round trip minus what the server's callees took: HTTP
        # parsing, JSON encoding, socket writes and the client side.
        out["server.overhead_ms"] += s.ms - sum(x[3] - x[2] for x in ss if x[4] in top) * 1e3
        for x in ss:
            if x[1] in names:
                out[names[x[1]]] += (x[3] - x[2]) * 1e3
        for ex in (x for x in ss if x[1] == "engine.execute"):
            kids = sum(x[3] - x[2] for x in ss if x[4] == ex[0])
            unattributed += (ex[3] - ex[2] - kids) * 1e3
            executed += 1
            # An execute that planned nothing was answered from the cache.
            hits += not any(x[1] == "plans.build" for x in ss)
    out = {k: v / n for k, v in out.items()}
    out["engine.cache_hit_ratio"] = hits / executed if executed else 0.0
    out["trace.unattributed_ms"] = unattributed / executed if executed else 0.0
    return out


def layer_counts(spark, tracer, samples: list[Sample]) -> dict:
    """Spark work per query (see ``tracing.per_query_counts``) and the
    share of request keys routed to a rollup. Cache hits run no job and
    are skipped."""
    groups: dict = {}
    for s in samples:
        group = tracer.groups.get(s.rid)
        if group is not None:
            groups.setdefault(s.key, []).append(group)
    routed = {s.key for s in samples if tracer.routed.get(s.rid)}
    return {
        "rollup.routed_ratio": len(routed) / max(len({s.key for s in samples}), 1),
        **tracing.per_query_counts(spark, groups),
    }


def sequential(port: int, requests) -> list[Sample]:
    """Send (rid, key, path, body) requests one after another."""
    c = common.Client(port)
    out = []
    try:
        for rid, key, path, body in requests:
            t0 = time.perf_counter()
            status, resp = c.post(path, body, {tracing.REQUEST_HEADER: rid})
            out.append(Sample(rid, key, t0, time.perf_counter(), status, resp))
    finally:
        c.close()
    return out
