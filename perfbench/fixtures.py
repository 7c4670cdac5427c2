"""The benchmark's input tables, built from source in the checkout and
cached beside it.

The benchmark reads nothing outside its checkout, so it synthesizes an
sf0.1 fixture rather than reading the shared one that TESTDATA.md
describes. The synthesis follows those tables (and FIXTURES.md) in
schema, row counts and the distributions the workloads are sensitive
to:

- ``events``: 100k rows over 30 days from 2024-01-01, ``ts`` sorted and
  stored as TIMESTAMP(MICROS), 1,500 users, five equally likely event
  types, exponential ``value`` with mean 50.
- ``documents``: 5k documents of 10-100 words drawn uniformly from a
  30-word vocabulary; 5% are another document's text plus " dup" (the
  near duplicates the dedup operators look for; two such documents
  with one source are exact duplicates).
- ``embeddings``: 2k random unit vectors of dimension 64, with labels
  0-9 unrelated to the vectors.
- the TPC-H-ish star tables at sf0.1 row counts.

``sf1`` is that directory replicated 10x by ``tools/scale_up.py``.

The tables are a fixed function of ``DATA_SEED``; the run seed only
shapes the requests. They are built once per checkout, like a build
output, and rebuilt whenever their stamp changes (see
``build_data.py``). Setting ``PERFBENCH_SF01`` to a directory holding
the ten fixture tables copies those instead of synthesizing, so the
benchmark can be run on another fixture for comparison.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE_ENV = "PERFBENCH_SF01"
DATA_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_DAYS = 30
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
DUP_SHARE = 0.05
N_VECS = 2_000
VEC_DIM = 64

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def source() -> Path | None:
    """The fixture directory named by PERFBENCH_SF01, if set."""
    path = os.environ.get(SOURCE_ENV)
    return Path(path).resolve() if path else None


def table_dir(data_root: Path, name: str) -> Path:
    """Where the ``name`` (sf0.1 or sf1) tables live; tables copied from
    another source are kept apart from the synthetic ones."""
    src = source()
    if src is None:
        return data_root / name
    return data_root / f"from-{hashlib.sha1(str(src).encode()).hexdigest()[:8]}" / name


def sf01_stamp() -> str:
    """Changes whenever the sf0.1 tables would come out differently."""
    h = hashlib.sha1(Path(__file__).read_bytes())
    h.update(str(source()).encode())
    return h.hexdigest()


# ---- synthesis ------------------------------------------------------------


def _events(rng: np.random.Generator) -> pa.Table:
    span_us = EVENTS_DAYS * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, N_EVENTS))
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(EVENTS_START + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS)),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = [" ".join(rng.choice(vocab, int(n)))
             for n in rng.integers(10, 101, N_DOCS)]
    dups = rng.choice(N_DOCS, int(N_DOCS * DUP_SHARE), replace=False)
    originals = list(texts)
    for i in dups:
        j = int(rng.integers(0, N_DOCS - 1))
        texts[i] = originals[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (N_VECS, VEC_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS).astype(np.int32)),
    })


def _star(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part, n_ord, n_line = 15_000, 1_000, 20_000, 150_000, 600_000
    day0 = np.datetime64("1992-01-01T00:00:00", "us")
    odate = day0 + rng.integers(0, 2_400, n_ord).astype("timedelta64[D]")
    l_ord = rng.integers(0, n_ord, n_line)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(rng.choice(["large ring", "small bolt", "steel frame",
                                           "copper pipe"], n_part)),
            "p_brand": pa.array([f"Brand#{1 + i % 9}" for i in range(n_part)]),
            "p_type": pa.array(rng.choice(["LARGE", "SMALL", "STANDARD", "PROMO",
                                           "ECONOMY"], n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, n_part), 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(1_000, 400_000, n_ord), 2)),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_ord.astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, n_line), 2)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n_line) / 100.0, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n_line) / 100.0, 2)),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
            "l_shipdate": pa.array(odate[l_ord] + rng.integers(1, 122, n_line)
                                   .astype("timedelta64[D]"), pa.timestamp("us")),
        }),
    }


def write_sf01(dest: Path) -> None:
    src = source()
    if src is not None:
        for name in TABLES:
            shutil.copy(src / f"{name}.parquet", dest / f"{name}.parquet")
        return
    rng = np.random.default_rng(DATA_SEED)
    tables = {"events": _events(rng), "documents": _documents(rng),
              "embeddings": _embeddings(rng), **_star(rng)}
    for name, table in tables.items():
        pq.write_table(table, dest / f"{name}.parquet")


def write_sf1(src: Path, dest: Path, scale_up) -> None:
    """Replicate ``src`` 10x with the repository's own scale-up rules
    (``scale_up`` is the loaded ``tools/scale_up.py``)."""
    scale_up.SRC = src
    bases = {
        domain: int(pq.read_table(src / f"{tbl}.parquet", columns=[col])[col]
                    .to_numpy().max()) + 1
        for domain, (tbl, col) in scale_up.DOMAINS.items()
    }
    for name in scale_up.SINGLE_COPY:
        shutil.copy(src / f"{name}.parquet", dest / f"{name}.parquet")
    for name in scale_up.OFFSET_COLS:
        pq.write_table(scale_up.scale_table(name, 10, bases), dest / f"{name}.parquet")


# ---- the cache ------------------------------------------------------------

STAMP_FILE = "STAMP"


def is_built(dest: Path, stamp: str) -> bool:
    f = dest / STAMP_FILE
    return f.exists() and f.read_text() == stamp


def build_once(dest: Path, stamp: str, build) -> Path:
    """Run ``build(tmp)`` and move the result to ``dest``, unless ``dest``
    already carries ``stamp``. The stamp is written last, so it marks a
    complete directory."""
    if is_built(dest, stamp):
        return dest
    tmp = dest.parent / f"{dest.name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / STAMP_FILE).write_text(stamp)
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    return dest
