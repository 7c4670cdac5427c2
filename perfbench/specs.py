"""Seeded Druid requests over ``events``, their DuckDB oracles and the
answer checks.

A run draws a fixed number of specs from each class below, so every
seed sends the same mix of work; the seed picks the intervals, filter
values and granularities. Native specs alternate between a shape the
hourly rollup answers (filters and dimensions on ``event_type`` only)
and one it cannot (a filter on ``user_id``, which the rollup drops).
"""

from __future__ import annotations

import datetime as dt
import random

import common
from fixtures import EVENT_TYPES

DAY = dt.timedelta(days=1)
T0 = dt.datetime(2024, 1, 1)
USER_CUT = 750  # raw-only filter: user_id <= USER_CUT

# (template, routed) -> specs per run, one per entry of SLOTS; SQL is a
# quarter of the mix.
CLASSES = {
    ("timeseries", True): 3, ("timeseries", False): 3,
    ("topN", True): 3, ("topN", False): 3,
    ("groupBy", True): 3, ("groupBy", False): 3,
    ("sql_by_type", None): 3, ("sql_daily", None): 3,
}
ROLLUP_AGGS = [
    {"type": "count", "name": "cnt"},
    {"type": "doubleSum", "name": "sum_value", "fieldName": "value"},
    {"type": "doubleMax", "name": "max_value", "fieldName": "value"},
]
NO_CACHE = {"useCache": False, "populateCache": False}


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S")


# Per slot within a class: interval length in days and timeseries
# granularity. Fixed, so every seed sends the same amount of work.
SLOTS = [(2, "hour"), (3, "day"), (7, "day")]


def make_spec(template: str, routed: bool | None, slot: int,
              rng: random.Random) -> dict:
    """One request: {"template", "routed", "path", "body", "lo", "hi",
    "gran", "event_type"}. The seed picks the start day and the
    event_type filter value."""
    days, gran = SLOTS[slot]
    lo = T0 + DAY * rng.randrange(0, 22)
    hi = lo + DAY * days
    et = rng.choice(EVENT_TYPES)
    spec = {"template": template, "routed": routed, "lo": _iso(lo), "hi": _iso(hi),
            "gran": gran, "event_type": et}
    if template.startswith("sql"):
        params = [{"type": "TIMESTAMP", "value": _iso(lo).replace("T", " ")},
                  {"type": "TIMESTAMP", "value": _iso(hi).replace("T", " ")}]
        if template == "sql_by_type":
            spec["event_type"] = None
            text = ('SELECT event_type, COUNT(*) AS cnt, SUM(value) AS total '
                    "FROM events WHERE __time >= ? AND __time < ? GROUP BY event_type")
        else:
            text = ("SELECT TIME_FLOOR(__time, 'P1D') AS d, COUNT(*) AS cnt "
                    "FROM events WHERE event_type = ? AND __time >= ? AND __time < ? "
                    "GROUP BY 1")
            params.insert(0, {"type": "VARCHAR", "value": et})
        spec.update(path="/druid/v2/sql", body={"query": text, "parameters": params})
        return spec
    filt = []
    if et is not None and template != "topN":
        filt.append({"type": "selector", "dimension": "event_type", "value": et})
    if not routed:
        filt.append({"type": "bound", "dimension": "user_id",
                     "upper": str(USER_CUT), "ordering": "numeric"})
    body = {
        "queryType": template, "dataSource": "events",
        "intervals": [f"{_iso(lo)}/{_iso(hi)}"],
        "aggregations": [
            {"type": "count", "name": "rows"},
            {"type": "doubleSum", "name": "total", "fieldName": "value"},
            {"type": "doubleMax", "name": "vmax", "fieldName": "value"},
        ],
        "context": dict(NO_CACHE),
    }
    if len(filt) == 1:
        body["filter"] = filt[0]
    elif filt:
        body["filter"] = {"type": "and", "fields": filt}
    if template == "timeseries":
        body["granularity"] = gran
    elif template == "topN":
        spec["gran"] = "all"
        body.update(granularity="all", dimension="event_type", metric="total",
                    threshold=3)
    else:
        spec["gran"] = "day"
        body.update(granularity="day", dimensions=["event_type"])
    spec.update(path="/druid/v2", body=body)
    return spec


def make_specs(seed: int) -> list[dict]:
    rng = random.Random(seed)
    return [make_spec(tpl, routed, slot, rng)
            for (tpl, routed), n in CLASSES.items() for slot in range(n)]


def request_order(seed: int, n_specs: int, n: int = 20_000) -> list[int]:
    """Spec indices in send order: seeded shuffles of every spec, back
    to back, so any window of n_specs requests covers each spec once."""
    rng = random.Random(seed ^ 0x5EED)
    out: list[int] = []
    while len(out) < n:
        block = list(range(n_specs))
        rng.shuffle(block)
        out.extend(block)
    return out


# ---- oracles ------------------------------------------------------------


def _where(spec: dict) -> str:
    w = [f"ts >= TIMESTAMP '{spec['lo']}'", f"ts < TIMESTAMP '{spec['hi']}'"]
    if spec["event_type"] is not None and spec["template"] != "topN":
        w.append(f"event_type = '{spec['event_type']}'")
    if spec["routed"] is False:
        w.append(f"user_id <= {USER_CUT}")
    return " AND ".join(w)


def oracle_sql(spec: dict) -> str:
    """DuckDB SQL whose rows equal the normalized answer of ``spec``."""
    tpl, w = spec["template"], _where(spec)
    aggs = "count(*) AS rows, sum(value) AS total, max(value) AS vmax"
    if tpl == "timeseries":
        g = spec["gran"]
        # Druid zero-fills empty buckets inside the interval.
        return f"""
        WITH spine AS (SELECT unnest(generate_series(TIMESTAMP '{spec['lo']}',
                         TIMESTAMP '{spec['hi']}' - INTERVAL 1 {g}, INTERVAL 1 {g})) AS b),
        agg AS (SELECT CAST(date_trunc('{g}', ts) AS TIMESTAMP) AS b, {aggs}
                FROM events WHERE {w} GROUP BY 1)
        SELECT spine.b, coalesce(rows, 0), coalesce(total, 0.0), vmax
        FROM spine LEFT JOIN agg USING (b) ORDER BY 1"""
    if tpl == "topN":
        return f"""SELECT event_type, {aggs} FROM events WHERE {w}
                   GROUP BY 1 ORDER BY total DESC LIMIT 3"""
    if tpl == "groupBy":
        return f"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP), event_type, {aggs}
                   FROM events WHERE {w} GROUP BY 1, 2"""
    if tpl == "sql_by_type":
        return f"""SELECT event_type, count(*), sum(value) FROM events
                   WHERE {w} GROUP BY 1"""
    return f"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP), count(*) FROM events
               WHERE {w} GROUP BY 1"""


def _ts(v) -> str:
    if isinstance(v, dt.datetime):
        return _iso(v)
    return str(v).replace(" ", "T").rstrip("Z")[:19]


def normalize_response(spec: dict, body) -> list[tuple]:
    """Druid-shaped JSON → the oracle's row shape. Raises on a shape
    that is not a valid answer (an error envelope, say)."""
    tpl = spec["template"]
    if not isinstance(body, list):
        raise ValueError(f"not a result list: {str(body)[:200]}")
    if tpl == "timeseries":
        return [(_ts(e["timestamp"]), e["result"]["rows"], e["result"]["total"],
                 e["result"]["vmax"]) for e in body]
    if tpl == "topN":
        if len(body) != 1:
            raise ValueError(f"topN over granularity all gave {len(body)} buckets")
        return [(r["event_type"], r["rows"], r["total"], r["vmax"])
                for r in body[0]["result"]]
    if tpl == "groupBy":
        return [(_ts(e["timestamp"]), e["event"]["event_type"], e["event"]["rows"],
                 e["event"]["total"], e["event"]["vmax"]) for e in body]
    if tpl == "sql_by_type":
        return [(r["event_type"], r["cnt"], r["total"]) for r in body]
    return [(_ts(r["d"]), r["cnt"]) for r in body]


def normalize_oracle(spec: dict, rows: list[tuple]) -> list[tuple]:
    return [tuple(_ts(v) if isinstance(v, dt.datetime) else v for v in r) for r in rows]


def check(spec: dict, body, oracle_rows: list[tuple]) -> bool:
    try:
        got = normalize_response(spec, body)
    except (ValueError, KeyError, TypeError, IndexError):
        return False
    ordered = spec["template"] in ("timeseries", "topN")
    return common.rows_match(got, oracle_rows, ordered)


def oracle_answers(events_parquet: str, specs: list[dict],
                   spill_dir: str) -> list[list[tuple]]:
    import duckdb

    con = duckdb.connect(config={"temp_directory": spill_dir})
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_parquet}'")
        return [normalize_oracle(s, con.execute(oracle_sql(s)).fetchall())
                for s in specs]
    finally:
        con.close()
