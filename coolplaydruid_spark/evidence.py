"""Deterministic candidate-volume evidence for blocked pair joins.

The sf1 scale gate (tests/test_scale_records.py, BLOCKED class) used to
assert raw ``shuffle_write_records`` — a PLAN property, not a data
property: when AQE declines to broadcast the (small) candidate side of
the verify join it falls back to a shuffle join and the shingle table
crosses the wire once, inflating the metric ~7× on bit-identical inputs
and bit-identical output pairs (r13: 84,294 / 84,294 / 124,596 measured
across three fresh runs of the same minhash query on the same data; the
round driver recorded 607,172). Both outcomes are correct and both are
linear in the corpus — but a scalar gate on the metric can't tell "AQE
chose the linear fallback" from "candidate volume exploded", which is
the regression the gate exists to catch.

This module captures the quantity the blocking argument is actually
about: the exact number of candidate pairs the blocked join will
produce, computed from the pre-join bucketed tables as

    self-join  (id< within bucket): Σ_bucket C(n_bucket, 2)
    cross-join (corpus × batch)   : Σ_bucket n_left · n_right

— a pure function of the data and the blocking knobs, identical run to
run regardless of join strategy, AQE decisions, or cache eviction.

Mechanics: every blocking operator calls :func:`record_blocking` with
its post-cap pre-join table(s) (a no-op unless a capture is active, so
production plans are untouched). Under an active :func:`capture` the
counts are computed EAGERLY, at the moment the operator constructs the
join — not deferred to a later aggregation pass — because some blocked
inputs are snapshots of MUTABLE state: the streaming accept loop pairs
each batch against the accepted store as of that batch, then overwrites
store partitions, so a lazily-held DataFrame would reference files that
no longer exist by the time a deferred count ran (r14 find:
FAILED_READ_FILE on the replay entry). Eager counting reads the store
exactly when the join would. bench.py builds each BLOCKED query under
capture() — without executing it — and sums the recorded counts with
:func:`candidate_stats`; they land in PLANMETRICS.json beside the
(telemetry-only) stage metrics, and the scale gate ratios THEM. Because
the operators record the exact tables they join, the evidence can never
drift from the plan the way a re-implemented side-channel counter
could.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SINK: list | None = None


def record_blocking(label: str, left: DataFrame, keys: list[str],
                    right: DataFrame | None = None,
                    weight: str | None = None) -> None:
    """Record a blocked pair join's pre-join input(s).

    ``left``/``right`` must be the tables AS JOINED (after hot-key caps,
    distincts, band explosion — whatever the operator feeds the join),
    and ``keys`` the equi-join bucket columns (empty list = a single
    global block, the unblocked test-scale embedding form).
    ``right=None`` declares a self-join with an ``id <`` ordering
    predicate (C(n,2) candidates per bucket); otherwise the two sides
    cross within each bucket (n_l × n_r). ``weight`` names a column
    holding how many items each row stands for (a representative of a
    group of identical signatures); n is then the sum of weights, so
    the counts are what per-item blocking would enumerate — the join
    strategy (grouping) does not move them. No-op unless a capture() is
    active — the check is one module-global read, so operators call
    this unconditionally on the hot construction path. When active, the
    counts run as Spark jobs HERE (see module docstring on why eager)."""
    if _SINK is not None:
        _SINK.append(_block_stats(label, left, keys, right, weight))


@contextmanager
def capture():
    """Activate the sink for the duration; yields the list of recorded
    block stats ({"label", "candidate_pairs", "blocked_rows"}). Nested
    captures stack — the inner capture sees only its own recordings."""
    global _SINK
    prev = _SINK
    _SINK = sink = []
    try:
        yield sink
    finally:
        _SINK = prev


def _block_stats(label: str, left: DataFrame, keys: list[str],
                 right: DataFrame | None, weight: str | None) -> dict:
    """Exact candidate-pair and input-row counts for one blocking —
    one groupBy-count over each pre-join table, far cheaper than the
    pairing query itself."""
    n = F.count(F.lit(1)) if weight is None else F.sum(weight)
    gb_l = left.groupBy(*[F.col(k) for k in keys])
    if right is None:
        agg = gb_l.agg(n.cast("long").alias("n"))
        row = agg.agg(
            F.sum(F.expr("n * (n - 1) DIV 2")).alias("p"),
            F.sum("n").alias("r"),
        ).collect()[0]
        pairs, rows = int(row["p"] or 0), int(row["r"] or 0)
    else:
        ln = gb_l.agg(n.cast("long").alias("__nl"))
        rn = right.groupBy(*[F.col(k) for k in keys]).agg(
            n.cast("long").alias("__nr"))
        joined = ln.join(rn, on=keys) if keys else ln.crossJoin(rn)
        row = joined.agg(F.sum(F.expr("__nl * __nr")).alias("p")).collect()[0]
        pairs = int(row["p"] or 0)
        rows = (int(ln.agg(F.sum("__nl")).collect()[0][0] or 0)
                + int(rn.agg(F.sum("__nr")).collect()[0][0] or 0))
    return {"label": label, "candidate_pairs": pairs, "blocked_rows": rows}


def candidate_stats(sink: list) -> dict:
    """Sum captured block stats into ``{"candidate_pairs": int,
    "blocked_rows": int, "blocks": [...]}``. ``blocked_rows`` — total
    rows entering the blocked join(s) — is the deterministic
    denominator for growth ratios (unlike stage ``input_records``, it
    can't double under cache-eviction recompute)."""
    return {
        "candidate_pairs": sum(b["candidate_pairs"] for b in sink),
        "blocked_rows": sum(b["blocked_rows"] for b in sink),
        "blocks": list(sink),
    }
