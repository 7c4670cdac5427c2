"""pipeline_dedup_sf1: one caller runs five training-data operators from
the contract (exact dedup, MinHash LSH dedup, LSH top-k similarity, text
quality, multimodal features) in a seeded order per pass over sf1
``documents`` and ``embeddings``. It never touches the server, the
engine's query path or the query planners, so it isolates the
operators layer."""

from __future__ import annotations

import hashlib
import json
import random
import statistics
import time
from pathlib import Path

import common
import tracing

ROOT = Path(__file__).resolve().parent.parent

JOBS = ["dedup_exact", "dedup_minhash_lsh", "similarity_topk_lsh",
        "text_quality", "multimodal_features"]
INPUT_TABLE = {"similarity_topk_lsh": "embeddings"}
ORACLE_FILE = "pipeline_oracles.json"
ORACLE_TABLES = ["documents", "embeddings"]


# ---- answers, compared the way tools/check_contract.py compares ----------

norm_cell = common.repo_tool(ROOT, "check_contract").norm_cell


def _sort(rows: list[tuple]) -> list[tuple]:
    return sorted(rows, key=lambda r: tuple(map(str, r)))


def spark_answer(table) -> dict:
    """A collected Arrow table in the oracle's normalized form."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return {"columns": cols,
            "rows": _sort([tuple(norm_cell(v) for v in r) for r in zip(*data)])}


def fingerprint(table) -> str:
    """A digest of an Arrow table's columns (in name order), rows and all."""
    import pyarrow as pa

    table = table.select(sorted(table.column_names))
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha1(sink.getvalue()).hexdigest()


def answer_ok(got: dict, want: dict) -> bool:
    return got["columns"] == want["columns"] and common.rows_match(
        got["rows"], want["rows"], ordered=False)


def build_oracles(sf_dir) -> None:
    """DuckDB answers for every job, written once beside the sf1 tables
    (the MinHash oracle alone takes about 20 s)."""
    import duckdb

    from coolplaydruid_spark import contract

    con = duckdb.connect(config={"temp_directory": str(sf_dir / "duckdb-spill")})
    try:
        con.execute("SET TimeZone='UTC'")
        for t in ORACLE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in JOBS:
            res = con.execute(contract.ORACLES[name])
            cols = [d[0] for d in res.description]
            idx = sorted(range(len(cols)), key=lambda i: cols[i])
            out[name] = {"columns": sorted(cols),
                         "rows": _sort([tuple(norm_cell(r[i]) for i in idx)
                                        for r in res.fetchall()])}
    finally:
        con.close()
    (sf_dir / ORACLE_FILE).write_text(json.dumps(out))


def load_oracles(sf_dir) -> dict:
    raw = json.loads((sf_dir / ORACLE_FILE).read_text())
    return {k: {"columns": v["columns"], "rows": [tuple(r) for r in v["rows"]]}
            for k, v in raw.items()}


# ---- the workload ---------------------------------------------------------


class Job:
    __slots__ = ("rid", "name", "t0", "t1", "cpu_s", "rows", "persisted")

    def __init__(self, rid, name, t0, t1, cpu_s, rows, persisted):
        self.rid, self.name, self.t0, self.t1 = rid, name, t0, t1
        self.cpu_s, self.rows, self.persisted = cpu_s, rows, persisted

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


def run_job(spark, sf, name: str, rid: str, tracer: tracing.Tracer | None) -> Job:
    from coolplaydruid_spark import contract

    fn = contract.QUERIES[name]
    sc = spark.sparkContext
    # Every job gets its own group, so a traced job's group holds only
    # its own Spark jobs.
    sc.setJobGroup(rid, f"perfbench {name}")
    cpu0 = common.cpu_s(spark)
    if tracer is None:
        t0 = time.perf_counter()
        rows = fn(spark, str(sf)).toArrow()
        t1 = time.perf_counter()
    else:
        tracer.set_request(rid)
        t0 = time.perf_counter()
        with tracer.span("pipeline.job"):
            with tracer.span("operators.build"):
                df = fn(spark, str(sf))
            tracing.force_catalyst(tracer, df)
            with tracer.span("spark.exec"):
                rows = df.toArrow()
        t1 = time.perf_counter()
        tracer.set_request(None)
    cpu = common.cpu_s(spark) - cpu0
    persisted = sc._jsc.getPersistentRDDs().size()  # noqa: SLF001
    return Job(rid, name, t0, t1, cpu, rows, persisted)


def pass_order(seed: int, p: int) -> list[str]:
    """The seeded job order of pass ``p``."""
    order = list(JOBS)
    random.Random(seed * 100_003 + p).shuffle(order)
    return order


def passes(spark, sf, seed: int, first_pass: int, seconds: float,
           tracer: tracing.Tracer | None, min_passes: int = 1) -> list[Job]:
    """Whole passes, each over all jobs in a seeded order: at least
    ``min_passes``, and more until ``seconds`` have gone by."""
    jobs: list[Job] = []
    t_end = time.perf_counter() + seconds
    p = first_pass
    while True:
        for name in pass_order(seed, p):
            jobs.append(run_job(spark, sf, name, f"pipe-{seed}-{p}-{name}", tracer))
        p += 1
        if time.perf_counter() >= t_end and p - first_pass >= min_passes:
            return jobs


def _input_rows(sf) -> dict:
    import pyarrow.parquet as pq

    rows = {t: pq.ParquetFile(sf / f"{t}.parquet").metadata.num_rows
            for t in ORACLE_TABLES}
    return {j: rows[INPUT_TABLE.get(j, "documents")] for j in JOBS}


def _layers(spark, sf, tracer: tracing.Tracer, jobs: list[Job], gc_delta: float) -> dict:
    from coolplaydruid_spark import contract, evidence

    per_req = tracer.by_request()
    n = max(len(jobs), 1)

    def total(name):
        return sum((s[3] - s[2]) * 1e3 for j in jobs for s in per_req.get(j.rid, [])
                   if s[1] == name) / n

    unattributed = 0.0
    for j in jobs:
        ss = per_req.get(j.rid, [])
        for root in (s for s in ss if s[1] == "pipeline.job"):
            kids = sum(s[3] - s[2] for s in ss if s[4] == root[0])
            unattributed += (root[3] - root[2] - kids) * 1e3

    groups: dict = {}
    for j in jobs:
        groups.setdefault(j.name, []).append(j.rid)
    counts = tracing.per_query_counts(spark, groups)

    # Candidate volumes: one extra build per job under evidence.capture,
    # outside the timed spans (capture counts eagerly with Spark jobs).
    pairs, out_rows = 0, 0
    for name in sorted({j.name for j in jobs}):
        with evidence.capture() as sink:
            contract.QUERIES[name](spark, str(sf))
        got = evidence.candidate_stats(sink)["candidate_pairs"]
        if got:
            pairs += got
            out_rows += next(j.rows.num_rows for j in jobs if j.name == name)
    return {
        "operators.build_ms": total("operators.build"),
        "spark.catalyst_ms": total("spark.catalyst"),
        "spark.exec_ms": total("spark.exec"),
        **counts,
        "operators.candidate_pairs": pairs,
        "operators.output_per_candidate": out_rows / pairs if pairs else 0.0,
        "operators.persisted_after_job": max(j.persisted for j in jobs),
        "jvm.gc_ms": gc_delta,
        "trace.unattributed_ms": unattributed / n,
    }


def run_workload(run: common.Run) -> dict:
    from coolplaydruid_spark import contract

    sf = run.tables("sf1")
    phases: dict = {}
    t = time.perf_counter()
    spark = common.start_spark(run)
    phases["jvm_s"] = time.perf_counter() - t
    try:
        t = time.perf_counter()
        contract.engine_for(spark, str(sf))
        phases["register_s"] = time.perf_counter() - t
        t = time.perf_counter()
        # Two passes: the first pays the cold start (Python workers, JIT),
        # over the smaller sf0.1 tables; after the second the JIT has
        # settled and run-to-run spread falls several-fold.
        passes(spark, run.tables("sf0.1"), run.seed, 0, 0.0, None)
        warm = passes(spark, sf, run.seed, 1, 0.0, None)
        phases["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - run.t_start

        layers, traced, tracer = {}, [], None
        if run.trace:
            tracer = tracing.Tracer()
            tracer.active = True
            quarter = iter(range(1, 5))

            def window(seconds, on):
                p0 = time.perf_counter()
                got = passes(spark, sf, run.seed, 100 * next(quarter), seconds,
                             tracer if on else None)
                return got, time.perf_counter() - p0

            jobs, _, traced, gc = common.abba(spark, run.seconds, window)
            rss = common.peak_rss_mb(spark)
            layers = _layers(spark, sf, tracer, traced, gc)
            layers["trace.overhead_ms"] = (common.p50([j.ms for j in traced])
                                           - common.p50([j.ms for j in jobs]))
        else:
            # Three passes at least, so each operator's median has three
            # samples however slow the host.
            jobs = passes(spark, sf, run.seed, 2, run.seconds, None, min_passes=3)
            rss = common.peak_rss_mb(spark)

        oracles = load_oracles(sf)
        every = warm + jobs + traced
        # Repeated identical results share one full comparison.
        keys = [(j.name, fingerprint(j.rows)) for j in every]
        verdicts: dict = {}
        for j, key in zip(every, keys):
            if key not in verdicts:
                verdicts[key] = answer_ok(spark_answer(j.rows), oracles[j.name])
        failed = [j for j, key in zip(every, keys) if not verdicts[key]]
        inputs = _input_rows(sf)
        per_job = {name: common.p50([j.ms for j in jobs if j.name == name])
                   for name in JOBS}
        # CPU per job: each operator's cheapest timed pass, so a window of
        # three passes and one of four (the count varies with host speed)
        # read alike; CPU added to every run of an operator still shows.
        cpu_ms = statistics.fmean(min(j.cpu_s for j in jobs if j.name == name) * 1e3
                                  for name in JOBS)
        # Input rows over job wall, each operator's wall taken as its
        # median over the passes.
        rows_per_s = sum(inputs.values()) / (sum(per_job.values()) / 1e3)
        out = {
            "setup_s": setup_s,
            "setup_phases_s": phases,
            "pipeline_rows_per_s": rows_per_s,
            # One slow pass moves no operator's median.
            "job_p50_ms": common.kind_p50_mean((j.name, j.ms) for j in jobs),
            "job_p50_ms_by_operator": per_job,
            "job_ms_cpu_ms": [(j.name, round(j.ms, 1), round(j.cpu_s * 1e3, 1))
                              for j in warm + jobs],
            "passes": len(jobs) // len(JOBS),
            "error_ratio": len(failed) / len(every),
            "peak_rss_mb": rss,
            "attempted": len(every),
            "failed": len(failed),
            "failures": [(j.rid, j.rows.num_rows) for j in failed[:5]],
            "layers": layers,
            "self_ms_by_layer": tracer.mean_self_ms([j.rid for j in traced]) if tracer else {},
            "tracer": tracer,
        }
        out["end_to_end"] = {
            "setup_s": setup_s,
            "latency_p50_ms": out["job_p50_ms"],
            "throughput_per_s": rows_per_s,
            "cpu_ms_per_op": cpu_ms,
        }
        return out
    finally:
        common.stop_spark(spark)
