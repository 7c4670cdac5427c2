"""Self-tests of the benchmark's own logic:

    python3 perfbench/selftest.py            # no Spark, a few seconds
    python3 perfbench/selftest.py --traced   # two traced runs per workload

from the root of a checkout. The default checks that one seed always
yields the same requests, job orders and write batches and another seed
does not, and that every answer checker accepts a right answer and
rejects a planted wrong one and a planted stale count, and that the
cached tables' stamps follow their inputs. ``--traced`` runs each
workload of BENCHMARK.json twice with ``--trace 1`` on one seed and
checks that the counts meant to be deterministic repeat exactly. Exits
1 if any check failed.
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import build_data  # noqa: E402
import fixtures  # noqa: E402
import specs as specmod  # noqa: E402
import wl_ingest  # noqa: E402
import wl_pipeline  # noqa: E402

FAILURES: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        FAILURES.append(what)


def test_seeds() -> None:
    def stream(seed):
        return (specmod.make_specs(seed),
                specmod.request_order(seed, len(specmod.make_specs(seed)), 500))

    expect(stream(7) == stream(7), "same seed, same HTTP requests")
    expect(stream(7) != stream(8), "other seed, other HTTP requests")
    orders = lambda s: [wl_pipeline.pass_order(s, p) for p in range(6)]  # noqa: E731
    expect(orders(7) == orders(7), "same seed, same pipeline job order")
    expect(orders(7) != orders(8), "other seed, other pipeline job order")
    expect(wl_ingest.batch_plan(7, 50) == wl_ingest.batch_plan(7, 50),
           "same seed, same ingest batches")
    expect(wl_ingest.batch_plan(7, 50) != wl_ingest.batch_plan(8, 50),
           "other seed, other ingest batches")
    mix = specmod.make_specs(7)
    counts = {}
    for s in mix:
        counts[s["template"]] = counts.get(s["template"], 0) + 1
    sql = sum(v for k, v in counts.items() if k.startswith("sql"))
    expect(sql * 4 == len(mix), "a quarter of the mix is Druid SQL")


def _druid_body(spec: dict, rows: list[tuple]):
    """Shape oracle rows the way the broker returns them."""
    tpl = spec["template"]
    if tpl == "timeseries":
        return [{"timestamp": r[0] + "Z",
                 "result": {"rows": r[1], "total": r[2], "vmax": r[3]}} for r in rows]
    if tpl == "topN":
        return [{"timestamp": spec["lo"] + "Z",
                 "result": [{"event_type": r[0], "rows": r[1], "total": r[2],
                             "vmax": r[3]} for r in rows]}]
    if tpl == "groupBy":
        return [{"version": "v1", "timestamp": r[0] + "Z",
                 "event": {"event_type": r[1], "rows": r[2], "total": r[3],
                           "vmax": r[4]}} for r in rows]
    if tpl == "sql_by_type":
        return [{"event_type": r[0], "cnt": r[1], "total": r[2]} for r in rows]
    return [{"d": r[0].replace("T", " "), "cnt": r[1]} for r in rows]


def _perturb(body):
    """Add one to the first count found in a Druid-shaped body."""
    bad = copy.deepcopy(body)
    stack = [bad]
    while stack:
        node = stack.pop(0)
        if isinstance(node, list):
            stack.extend(node)
        elif isinstance(node, dict):
            for k in ("rows", "cnt"):
                if k in node:
                    node[k] += 1
                    return bad
            stack.extend(node.values())
    raise ValueError("no count to perturb")


def test_http_checker() -> None:
    sf = build_data.build("sf0.1", HERE.parent)
    mix = specmod.make_specs(11)
    answers = specmod.oracle_answers(str(sf / "events.parquet"), mix,
                                     str(HERE / ".data" / "duckdb-spill"))
    for tpl in sorted({s["template"] for s in mix}):
        k = next(i for i, s in enumerate(mix) if s["template"] == tpl)
        spec, want = mix[k], answers[k]
        body = _druid_body(spec, want)
        expect(bool(want) and specmod.check(spec, body, want),
               f"{tpl}: the oracle's own answer passes")
        expect(not specmod.check(spec, _perturb(body), want),
               f"{tpl}: a planted wrong count fails")
        expect(not specmod.check(spec, body[:-1] if tpl != "topN"
                                 else [{**body[0], "result": body[0]["result"][:-1]}], want),
               f"{tpl}: a missing row fails")
        expect(not specmod.check(spec, {"error": "Unknown exception"}, want),
               f"{tpl}: an error envelope fails")


def test_pipeline_checker() -> None:
    want = {"columns": ["doc_a", "doc_b", "jaccard"],
            "rows": [(1, 2, 0.75), (3, 9, 0.5)]}
    same = {"columns": list(want["columns"]), "rows": [(1, 2, 0.75 + 1e-12), (3, 9, 0.5)]}
    expect(wl_pipeline.answer_ok(same, want), "pipeline: equal answer passes")
    expect(not wl_pipeline.answer_ok(
        {**same, "rows": [(1, 2, 0.76), (3, 9, 0.5)]}, want),
        "pipeline: a planted wrong value fails")
    expect(not wl_pipeline.answer_ok({**same, "rows": same["rows"][:1]}, want),
           "pipeline: a missing row fails")
    expect(not wl_pipeline.answer_ok({**same, "columns": ["a", "b", "c"]}, want),
           "pipeline: a wrong schema fails")


def test_ingest_checker() -> None:
    acks = [(float("-inf"), 100_000), (10.0, 103_428), (12.0, 106_801)]
    expect(wl_ingest.acked_at(acks, 11.0) == 103_428, "ingest: acked rows at a time")
    expect(wl_ingest.in_window(103_428, wl_ingest.acked_at(acks, 10.5),
                               wl_ingest.acked_at(acks, 12.5)),
           "ingest: a fresh count passes")
    expect(wl_ingest.in_window(106_801, 103_428, 106_801),
           "ingest: a count acknowledged during the read passes")
    expect(not wl_ingest.in_window(100_000, wl_ingest.acked_at(acks, 10.5),
                                   wl_ingest.acked_at(acks, 11.5)),
           "ingest: a planted stale count fails")
    expect(not wl_ingest.in_window(106_802, 103_428, 106_801),
           "ingest: a count above every acknowledged row fails")
    body = [{"timestamp": "2024-01-01T00:00:00Z", "result": [
        {"event_type": "a", "rows": 3}, {"event_type": "b", "rows": 4}]}]
    expect(wl_ingest.read_rows(body) == 7, "ingest: rows summed over a topN answer")


def test_stamps() -> None:
    """The cached tables are rebuilt when their inputs change."""
    import types

    from coolplaydruid_spark import contract

    root = HERE.parent
    base = build_data.stamp("sf1", root)
    name = wl_pipeline.JOBS[1]
    text = contract.ORACLES[name]
    contract.ORACLES[name] = text + " "
    try:
        expect(build_data.stamp("sf1", root) != base,
               "a changed pipeline oracle changes the sf1 stamp")
    finally:
        contract.ORACLES[name] = text
    load = build_data.common.repo_tool
    version = load(root, "scale_up").SYNTH_VERSION
    build_data.common.repo_tool = lambda *_: types.SimpleNamespace(SYNTH_VERSION=version + 1)
    try:
        expect(build_data.stamp("sf1", root) != base,
               "a new scale-up SYNTH_VERSION changes the sf1 stamp")
    finally:
        build_data.common.repo_tool = load
    expect(build_data.stamp("sf1", root) == base, "the sf1 stamp is otherwise stable")
    saved = os.environ.pop(fixtures.SOURCE_ENV, None)
    plain = build_data.stamp("sf0.1", root)
    os.environ[fixtures.SOURCE_ENV] = str(root / "other-fixture")
    try:
        expect(build_data.stamp("sf0.1", root) != plain
               and fixtures.table_dir(build_data.DATA, "sf0.1") != build_data.DATA / "sf0.1",
               "tables from another source get their own stamp and directory")
    finally:
        os.environ.pop(fixtures.SOURCE_ENV)
        if saved is not None:
            os.environ[fixtures.SOURCE_ENV] = saved


# Counts that must repeat exactly across traced runs of one seed.
DETERMINISTIC = ["spark.jobs_per_query", "spark.stages_per_query",
                 "rollup.routed_ratio", "operators.candidate_pairs"]


def test_traced_runs(seed: int = 5) -> None:
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    for w in bench["workloads"]:
        runs = []
        for _ in range(2):
            out = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w["name"],
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", "1"], capture_output=True, text=True, timeout=900)
            expect(out.returncode == 0, f"{w['name']}: traced run exits 0")
            if out.returncode != 0:
                print(out.stderr[-2000:])
                return
            runs.append(json.loads(out.stdout.strip().splitlines()[-2]))
        a, b = ({k: v["value"] for k, v in r["layers"].items()} for r in runs)
        for k in DETERMINISTIC:
            expect(a.get(k) == b.get(k), f"{w['name']}: {k} repeats ({a.get(k)}, {b.get(k)})")
        for r in runs:
            # The part of each execute (or pipeline job) span its child
            # spans leave uncovered, against the tracing overhead's size.
            lay = r["layers"]
            gap, over = lay["trace.unattributed_ms"]["value"], lay["trace.overhead_ms"]["value"]
            expect(gap <= abs(over), f"{w['name']}: spans cover the root span to within"
                   f" the tracing overhead ({gap:.2f} ms <= |{over:.2f}| ms)")
        expect(all(r["failed"] == 0 for r in runs), f"{w['name']}: traced answers correct")


def main() -> int:
    if "--traced" in sys.argv[1:]:
        test_traced_runs()
    else:
        test_seeds()
        test_http_checker()
        test_pipeline_checker()
        test_stamps()
        test_ingest_checker()
    print(f"{len(FAILURES)} failed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
