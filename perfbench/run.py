"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the synthetic
tables (and the pipeline's DuckDB answers) under ``perfbench/.data``;
later runs reuse them. Each run starts its own Spark JVM with the
program's default settings, sets up, measures for about S seconds,
checks every answer, stops the JVM and prints two JSON lines: the full
record (every metric by name and unit, the set-up phases, the
environment) and, last, the summary
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 1`` the
window runs as untraced, traced, traced and untraced quarters; the
summary then carries the per-layer metrics and the spans are written
to ``perfbench/.data/traces/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
# workload -> (module, function, tables it reads)
WORKLOADS = {
    "druid_http_mix": ("wl_http", "run_workload", "sf0.1"),
    "pipeline_dedup_sf1": ("wl_pipeline", "run_workload", "sf1"),
    "ingest_uncached": ("wl_ingest", "run_uncached", "sf0.1"),
    "ingest_dashboard": ("wl_ingest", "run_dashboard", "sf0.1"),
}

# name -> unit. END_TO_END and PER_LAYER mirror BENCHMARK.json.
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "server.overhead_ms": "ms",
    "engine.etag_ms": "ms",
    "engine.serialize_ms": "ms",
    "rollup.route_ms": "ms",
    "rollup.routed_ratio": "ratio",
    "plans.build_ms": "ms",
    "sqlcompat.rewrite_ms": "ms",
    "spark.catalyst_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "spark.input_records": "count",
    "spark.shuffle_write_records": "count",
    "jvm.gc_ms": "ms",
    "operators.build_ms": "ms",
    "operators.candidate_pairs": "count",
    "operators.output_per_candidate": "ratio",
    "operators.persisted_after_job": "count",
    "catalog.register_ms": "ms",
    "sources.append_ms": "ms",
    "sources.files_written": "count",
    "sources.bytes_written_per_input_byte": "ratio",
    "trace.overhead_ms": "ms",
    "trace.unattributed_ms": "ms",
}
# Workload-specific figures in the full record, with the names and units
# the workloads are described by.
RECORD_UNITS = {
    "setup_s": "s", "cpu_ms_per_op": "ms", "latency_p50_ms": "ms",
    "throughput_per_s": "1/s", "query_p50_ms": "ms", "query_p95_ms": "ms", "query_qps": "1/s",
    "pipeline_rows_per_s": "1/s", "job_p50_ms": "ms", "ingest_p50_ms": "ms",
    "ingest_rows_per_s": "1/s", "error_ratio": "ratio", "peak_rss_mb": "MB",
    "stale_reads": "count",
}
# The cache hit ratio is 0 by construction on every gated workload (their
# reads all send useCache false); it is reported in the records only.
LAYER_UNITS = {**PER_LAYER, "engine.cache_hit_ratio": "ratio"}


def _program_present(root: Path) -> str | None:
    for rel in ["coolplaydruid_spark/__init__.py", "coolplaydruid_spark/server/http.py",
                "tools/scale_up.py", "tools/check_contract.py"]:
        if not (root / rel).is_file():
            return f"{rel} not found under {root}: run from the root of a checkout"
    return None


def _ensure_fixtures(root: Path, target: str) -> None:
    """Build the cached tables in a child process, so its memory does not
    count toward this run's peak RSS."""
    import build_data

    if not build_data.is_built(target, root):
        subprocess.run([sys.executable, str(HERE / "build_data.py"), target],
                       cwd=root, check=True, timeout=850)


def _summary(out: dict, trace: bool) -> dict:
    names = PER_LAYER if trace else END_TO_END
    source = out["layers"] if trace else out["end_to_end"]
    metrics = {k: {"value": float(source.get(k, 0.0)), "unit": u}
               for k, u in names.items()}
    return {"correct": out["failed"] == 0, "attempted": out["attempted"],
            "failed": out["failed"], "metrics": metrics}


def _record(out: dict, workload: str, env: dict) -> dict:
    figures = {**out["end_to_end"], **out}
    named = {k: {"value": figures[k], "unit": u}
             for k, u in RECORD_UNITS.items() if k in figures}
    skip = set(named) | {"layers", "end_to_end", "tracer", "attempted", "failed"}
    return {
        "workload": workload, "env": env, "metrics": named,
        "attempted": out["attempted"], "failed": out["failed"],
        "layers": {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in out["layers"].items()},
        "detail": {k: v for k, v in out.items() if k not in skip},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = Path.cwd().resolve()
    problem = _program_present(root)
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(root)]
    # Spark's Python workers import the program too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # The program's default driver memory is part of what is measured.
    driver_mem = os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)

    import common

    module, function, tables = WORKLOADS[args.workload]
    _ensure_fixtures(root, tables)
    run = common.Run(root=root, seed=args.seed, seconds=args.seconds,
                     trace=bool(args.trace))
    env = common.env_start(run)
    env["SPARK_GRAFT_DRIVER_MEM_ignored"] = driver_mem
    run.run_dir.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run.run_dir / "tmp")
    try:
        out = getattr(importlib.import_module(module), function)(run)
    finally:
        shutil.rmtree(run.run_dir, ignore_errors=True)
    env["loadavg_end"] = os.getloadavg()
    env["wall_s"] = time.perf_counter() - run.t_start
    tracer = out.get("tracer")
    if tracer is not None:
        path = HERE / ".data" / "traces" / f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
        tracer.write(path, {"workload": args.workload, "env": env, "layers": out["layers"]})
        env["trace_file"] = str(path.relative_to(root))
    print(json.dumps(_record(out, args.workload, env), default=str))
    print(json.dumps(_summary(out, run.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
