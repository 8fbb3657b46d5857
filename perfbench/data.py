"""Deterministic sf0.1-shaped fixture for the benchmark.

The benchmark reads and writes only inside its checkout, so it builds
its own copy of the ten fixture tables instead of reading a shared
test-data mount.  Schemas, timestamp units, keys and row counts follow
the declared TPC-H-ish fixture at sf0.1 (FIXTURES.md, catalog.yaml):
uniform attributes, 1-7 lines per order numbered from 1 (so the
lineitem key ``(l_orderkey, l_linenumber)`` is unique), a 30-word
document vocabulary with 5% planted "<copy> dup" near-duplicates,
unit-norm 64-d embeddings.

The tables depend only on ``DATA_SEED``, never on the workload seed:
every workload and every run measures against the same bytes.  The
build is atomic (written to a temporary directory, then renamed), so
an interrupted first run leaves nothing half-built behind.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
#: bump when the generator changes, so an old build is not reused
VERSION = 2

#: row counts of the measured fixture (the engine's sf0.1 fixture)
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_COLORS = ["blue", "red", "green", "hot", "new", "large", "small", "dark",
           "pale", "cold", "old", "bright", "soft"]
_NOUNS = ["anvil", "bolt", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = ("a agg batch big column customer data fast filter group hash join"
          " key line merge order part query row scan slow small sort spark"
          " stream table the value vector window").split()
_LANGS = ["en", "zh", "es", "fr", "de"]

ORDER_DATE_LO = dt.date(1995, 1, 1)
ORDER_DATE_HI = dt.date(2001, 8, 1)
SHIP_DATE_LO = dt.date(1995, 1, 2)
SHIP_DATE_HI = dt.date(2001, 11, 4)


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    base = np.datetime64(lo, "ms")
    span = (hi - lo).days + 1
    off = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + off, pa.timestamp("ms"))


def line_counts(n_orders: int, n_lines: int) -> np.ndarray:
    """Lines per order: 1-7 each, summing to exactly ``n_lines``.  A
    stream of its own, so the serve workload can draw existing lineitem
    keys without reading the table."""
    rng = np.random.default_rng([DATA_SEED, 1])
    k = rng.integers(1, 8, n_orders)
    diff = int(k.sum()) - n_lines
    # move the total onto n_lines: one line fewer (more) on |diff|
    # orders that have more than 1 (fewer than 7)
    movable = np.flatnonzero(k > 1 if diff > 0 else k < 7)
    k[rng.choice(movable, abs(diff), replace=False)] -= np.sign(diff)
    return k


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(n: dict[str, int]) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [
            f"{_COLORS[a]} {_NOUNS[b]}"
            for a, b in zip(rng.integers(0, len(_COLORS), p),
                            rng.integers(0, len(_NOUNS), p))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, ORDER_DATE_LO, ORDER_DATE_HI, o),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)],
    })
    li = n["lineitem"]
    lines = line_counts(o, li)
    first = np.repeat(np.cumsum(lines) - lines, lines)  # row of each order's line 1
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(o), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(np.arange(li) - first + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, SHIP_DATE_LO, SHIP_DATE_HI, li),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "ns")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, e) * 1000).astype("timedelta64[ns]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(start + offs, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [
        " ".join(_VOCAB[w] for w in rng.integers(0, len(_VOCAB), k))
        for k in rng.integers(10, 101, d)
    ]
    # 5% planted near-duplicates: a copy of another document plus one
    # marker token (Jaccard well above the dedup thresholds)
    for i, j in zip(rng.choice(d, d // 20, replace=False), rng.integers(0, d, d // 20)):
        if i != j:
            texts[i] = texts[j] + " dup"
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, d, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] + rng.normal(0.0, 1.5, (m, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, t in out.items():
        assert t.num_rows == n[name], (name, t.num_rows)
    pk = out["lineitem"].group_by(["l_orderkey", "l_linenumber"]).aggregate([])
    assert pk.num_rows == li, "lineitem key (l_orderkey, l_linenumber) is not unique"
    return out


def ensure(root: str) -> str:
    """Return the directory of the fixture under ``root``, building it
    once."""
    target = os.path.join(root, f"sf0.1-v{VERSION}")
    if os.path.isdir(target):
        return target
    tmp = f"{target}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for table_name, table in _tables(ROWS).items():
        pq.write_table(table, os.path.join(tmp, f"{table_name}.parquet"))
    os.rename(tmp, target)
    return target
