"""Run the benchmark once per seed and report each end-to-end metric's
median and quartile spread (Q3 - Q1 over the median, from
``statistics.quantiles(values, n=4)``) next to a third of its bound:

    python3 perfbench/spread.py --workload druid_http_mix --seeds 1-10

from the root of a checkout. Runs are sequential; each run's summary
line is appended to ``perfbench/.data/spread-<workload>.jsonl`` (under
``perfbench/.data/from-<hash>/`` when ``PERFBENCH_SF01`` is set).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import fixtures  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    log = fixtures.table_dir(HERE / ".data", f"spread-{args.workload}.jsonl")
    log.parent.mkdir(parents=True, exist_ok=True)
    for seed in _seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, timeout=900)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        record, summary = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "summary": summary, "record": record}) + "\n")
        for k in values:
            values[k].append(summary["metrics"][k]["value"])
        print(f"seed {seed}: correct={summary['correct']} "
              f"failed={summary['failed']}/{summary['attempted']} "
              + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        if len(v) < 2:
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{m['name']:>18}: median {med:.4g}  spread {(q3 - q1) / med:.3f}"
              f"  (bound {m['bound']}, a third {m['bound'] / 3:.3f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
