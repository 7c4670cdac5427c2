"""Shared plumbing for the workloads: the run context, the Spark session
and its shutdown, HTTP clients, statistics, memory and the environment
record."""

from __future__ import annotations

import hashlib
import http.client
import importlib.util
import json
import math
import os
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

# A percentile is reported only while at least this many samples lie
# beyond it.
TAIL_SAMPLES = 10


@dataclass
class Run:
    """One benchmark invocation: where it reads and writes, its seed,
    its measuring time and whether it traces."""

    root: Path
    seed: int
    seconds: float
    trace: bool
    t_start: float = field(default_factory=time.perf_counter)

    @property
    def data_root(self) -> Path:
        return self.root / "perfbench" / ".data"

    @property
    def run_dir(self) -> Path:
        return self.data_root / f"run-{os.getpid()}"

    def tables(self, name: str) -> Path:
        """The cached ``name`` (sf0.1 or sf1) tables."""
        import fixtures

        return fixtures.table_dir(self.data_root, name)


def repo_tool(root: Path, name: str):
    """Load ``tools/<name>.py`` of the checkout as a module."""
    spec = importlib.util.spec_from_file_location(f"perfbench_{name}",
                                                  root / "tools" / f"{name}.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


# ---- Spark -------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(run: Run):
    """The program's own session factory, with every scratch path kept
    inside the run directory. Driver memory stays at the program's
    default."""
    from coolplaydruid_spark.session import get_spark

    tmp = run.run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Every JVM spark-submit starts (its launcher too) keeps temporary
    # files in the run directory and writes no hsperfdata to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": str(run.run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run.run_dir / "warehouse"),
        },
    )


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid  # noqa: SLF001


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def gc_ms(spark) -> float:
    """Cumulative JVM garbage-collection time over all collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()  # noqa: SLF001
    return float(sum(b.getCollectionTime() for b in beans))


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the JVM plus this process."""
    return (_vm_hwm_kb(jvm_pid(spark)) + _vm_hwm_kb("self")) / 1024.0


def cpu_s(spark) -> float:
    """CPU time (user + system) spent so far by this process, the JVM and
    every process under it (Spark's Python workers), reaped children
    included. Time stolen by the hypervisor is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    procs: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        # after the command name: state, ppid, ... utime stime cutime cstime
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    todo, seen = [jvm_pid(spark)], set()
    while todo:
        pid = todo.pop()
        seen.add(pid)
        todo += [c for c, (pp, _) in procs.items() if pp == pid and c not in seen]
    seen.add(os.getpid())
    return sum(procs[p][1] for p in seen if p in procs) / tick


# ---- HTTP --------------------------------------------------------------


class Client:
    """One keep-alive connection to the broker facade."""

    def __init__(self, port: int, timeout: float = 60.0):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)

    def post(self, path: str, body: dict, headers: dict | None = None):
        """POST JSON; returns (status, decoded body or None)."""
        hdrs = {"Content-Type": "application/json", **(headers or {})}
        self.conn.request("POST", path, json.dumps(body).encode(), hdrs)
        resp = self.conn.getresponse()
        raw = resp.read()
        try:
            return resp.status, json.loads(raw) if raw else None
        except json.JSONDecodeError:
            return resp.status, None

    def close(self) -> None:
        self.conn.close()


def run_threads(targets) -> None:
    """Start one thread per callable, wait for all, re-raise the first
    error."""
    errors: list[BaseException] = []

    def wrap(fn):
        def go():
            try:
                fn()
            except BaseException as e:  # noqa: BLE001 - re-raised below
                errors.append(e)
        return go

    threads = [threading.Thread(target=wrap(t), daemon=True) for t in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def abba(spark, seconds: float, window) -> tuple[list, float, list, float]:
    """Untraced and traced quarters of ``seconds`` in the order A B B A,
    so a linear drift during the run biases neither side of the
    tracing-overhead estimate. ``window(seconds, traced)`` returns
    (samples, wall). Returns (untraced samples, their summed wall,
    traced samples, JVM GC ms during the traced quarters)."""
    plain, plain_wall, traced, gc = [], 0.0, [], 0.0
    for on in (False, True, True, False):
        g0 = gc_ms(spark)
        got, wall = window(seconds / 4, on)
        if on:
            traced += got
            gc += gc_ms(spark) - g0
        else:
            plain += got
            plain_wall += wall
    return plain, plain_wall, traced, gc


# ---- answers -----------------------------------------------------------


def _cell_eq(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def rows_match(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    """Row count, then values with tools/check_contract.py's float
    tolerance; order-insensitive unless the answer is ranked."""
    if len(got) != len(want):
        return False
    if not ordered:
        key = lambda r: tuple(map(str, (round(x, 6) if isinstance(x, float) else x
                                        for x in r)))  # noqa: E731
        got, want = sorted(got, key=key), sorted(want, key=key)
    return all(len(a) == len(b) and all(map(_cell_eq, a, b)) for a, b in zip(got, want))


# ---- statistics --------------------------------------------------------


def p50(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def kind_p50_mean(samples) -> float:
    """Mean over request kinds of each kind's median latency, from
    (kind, ms) pairs: the median latency of a fixed, equal mix of kinds.
    Unlike the pooled median it does not move with how many requests of
    each kind a window happened to complete."""
    by_kind: dict = {}
    for kind, ms in samples:
        by_kind.setdefault(kind, []).append(ms)
    return statistics.fmean(statistics.median(v) for v in by_kind.values())


def tail(values: list[float], pct: float = 95.0) -> dict:
    """The pct-th percentile with its sample count; the value is None
    while fewer than TAIL_SAMPLES samples lie beyond it."""
    n = len(values)
    beyond = n * (100.0 - pct) / 100.0
    if n == 0 or beyond < TAIL_SAMPLES:
        return {"value": None, "samples": n}
    ordered = sorted(values)
    return {"value": ordered[min(n - 1, int(n * pct / 100.0))], "samples": n}


# ---- environment -------------------------------------------------------


def _git_commit(root: Path) -> str | None:
    """HEAD of the checkout, if it is a git repository itself (the
    ceiling stops git from reporting an enclosing repository)."""
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": str(root.parent)}
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, timeout=10,
                             capture_output=True, text=True, env=env)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def program_digest(root: Path) -> str:
    """Content hash of the program package, which identifies the code
    measured where no git metadata exists."""
    h = hashlib.sha1()
    for p in sorted((root / "coolplaydruid_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def env_start(run: Run) -> dict:
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": os.getloadavg(),
        "git_commit": _git_commit(run.root),
        "program_digest": program_digest(run.root),
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": run.trace,
    }
