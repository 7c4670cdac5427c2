"""druid_http_mix: three closed-loop clients POST a seeded mix of native
timeseries, topN and groupBy queries and Druid SQL with bound parameters
to the HTTP broker facade, over sf0.1 ``events`` with an hourly rollup
registered. Every request sets ``useCache``/``populateCache`` false, so
each one is planned and executed."""

from __future__ import annotations

import copy
import itertools
import time

import common
import specs as specmod
from serving import Serving, closed_loop, layer_counts, layer_times, ok_status, sequential

N_CLIENTS = 3


def setup_engine(run: common.Run, spark, sf_dir, phases: dict) -> Serving:
    """Registration of `events`, the hourly rollup and the server."""
    from coolplaydruid_spark.catalog import Catalog
    from coolplaydruid_spark.rollup import RollupSpec
    from coolplaydruid_spark.sources import batch

    t = time.perf_counter()
    # Only the table the mix queries: registering the nine others would
    # add their footer reads to set-up and nothing to the queries.
    catalog = Catalog(spark)
    catalog.register("events", path=f"{sf_dir}/events.parquet", time_column="ts")
    phases["register_s"] = time.perf_counter() - t
    t = time.perf_counter()
    dest = str(run.run_dir / "events_hourly")
    batch.index_task(spark, {"type": "table", "path": f"{sf_dir}/events.parquet"},
                     dest, time_column="ts",
                     rollup={"granularity": "hour", "dimensions": ["event_type"],
                             "aggregations": specmod.ROLLUP_AGGS})
    batch.register_ingested(catalog, "events_hourly", dest, time_column="ts")
    serving = Serving(spark, catalog, run.trace)
    serving.engine.register_rollup(RollupSpec(
        base="events", table="events_hourly", granularity="hour",
        dimensions={"event_type"}, aggregations=specmod.ROLLUP_AGGS))
    phases["rollup_s"] = time.perf_counter() - t
    return serving


def _with_id(spec: dict, rid: str) -> dict:
    body = spec["body"]
    if "queryType" in body:
        body = copy.deepcopy(body)
        body["context"]["queryId"] = rid
    return body


class Mix:
    """The seeded request stream shared by the clients."""

    def __init__(self, seed: int):
        self.seed = seed
        self.specs = specmod.make_specs(seed)
        self.order = specmod.request_order(seed, len(self.specs))
        self._i = itertools.count()

    def next_request(self):
        i = next(self._i)
        k = self.order[i % len(self.order)]
        rid = f"mix-{self.seed}-{i}"
        spec = self.specs[k]
        return rid, k, spec["path"], _with_id(spec, rid)


def run_workload(run: common.Run) -> dict:
    sf = run.tables("sf0.1")
    t = time.perf_counter()
    spark = common.start_spark(run)
    phases = {"jvm_s": time.perf_counter() - t}
    serving = None
    try:
        serving = setup_engine(run, spark, sf, phases)
        mix = Mix(run.seed)
        t = time.perf_counter()
        # Warm-up: one request per spec class, outside the timed window,
        # shared among the clients as in the window.
        first: dict = {}
        for k, s in enumerate(mix.specs):
            first.setdefault((s["template"], s["routed"]), k)
        warm = [(f"warm-{k}", k, mix.specs[k]["path"], _with_id(mix.specs[k], f"warm-{k}"))
                for k in first.values()]
        replies: list = []
        common.run_threads([
            lambda part=warm[i::N_CLIENTS]: replies.extend(sequential(serving.port, part))
            for i in range(N_CLIENTS)])
        for r in replies:
            if r.status != 200:
                raise RuntimeError(f"warm-up request {r.rid} returned HTTP {r.status}")
        phases["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - run.t_start

        def window(seconds, on=False):
            # Whole blocks of the request order: every spec once per block,
            # and in the untraced window three samples of each at least.
            with serving.traced(on):
                return closed_loop(serving.port, N_CLIENTS, seconds, mix.next_request,
                                   block=len(mix.specs), min_blocks=1 if run.trace else 3)

        layers, traced, counted = {}, [], []
        cpu0 = common.cpu_s(spark)
        if run.trace:
            samples, wall, traced, gc = common.abba(spark, run.seconds, window)
            cpu_ms = (common.cpu_s(spark) - cpu0) * 1e3 / (len(samples) + len(traced))
            rss = common.peak_rss_mb(spark)
            # Spark counts come from one sequential traced pass over every
            # spec, so they do not depend on what the window reached.
            with serving.traced():
                counted = sequential(serving.port, [
                    (f"count-{run.seed}-{k}", k, s["path"], _with_id(s, f"count-{run.seed}-{k}"))
                    for k, s in enumerate(mix.specs)])
            layers = {**layer_times(serving.tracer, traced),
                      **layer_counts(spark, serving.tracer, counted),
                      "jvm.gc_ms": gc,
                      "trace.overhead_ms": (common.p50([s.ms for s in traced])
                                            - common.p50([s.ms for s in samples]))}
        else:
            samples, wall = window(run.seconds)
            cpu_ms = (common.cpu_s(spark) - cpu0) * 1e3 / len(samples)
            rss = common.peak_rss_mb(spark)

        oracles = specmod.oracle_answers(str(sf / "events.parquet"), mix.specs,
                                         str(run.run_dir / "duckdb-spill"))
        every = samples + traced + counted
        failed = [s for s in every
                  if not (ok_status(s) and specmod.check(mix.specs[s.key], s.body,
                                                         oracles[s.key]))]
        lat = [s.ms for s in samples]
        out = {
            "setup_s": setup_s,
            "setup_phases_s": phases,
            "query_p50_ms": common.p50(lat),
            "query_p95_ms": common.tail(lat, 95.0),
            "query_qps": len(samples) / wall,
            "error_ratio": len(failed) / max(len(every), 1),
            "peak_rss_mb": rss,
            "attempted": len(every),
            "failed": len(failed),
            "failures": [(s.rid, s.status, s.error, str(s.body)[:200])
                         for s in failed[:5]],
            "distinct_specs": len(mix.specs),
            "routed_spec_share": sum(1 for s in mix.specs if s["routed"])
            / len(mix.specs),
            "layers": layers,
            "self_ms_by_layer": serving.tracer.mean_self_ms([s.rid for s in traced]),
            "tracer": serving.tracer if run.trace else None,
        }
        out["end_to_end"] = {
            "setup_s": out["setup_s"],
            "latency_p50_ms": common.kind_p50_mean((s.key, s.ms) for s in samples),
            "throughput_per_s": out["query_qps"],
            "cpu_ms_per_op": cpu_ms,
        }
        return out
    finally:
        if serving is not None:
            serving.close()
        common.stop_spark(spark)
