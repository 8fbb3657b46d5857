"""The refresh step of ``curate``: change-to-visible latency of a
CDC-maintained table.

The seed generates change batches over ``orders`` keys (upserts,
deletes and fresh inserts, skewed toward recent keys).  Each cycle (one per
curation pass):

1. folds one batch (a parquet file, as a CDC landing zone delivers it)
   into the flat snapshot ``<db>/orders/`` with
   ``streaming.apply_cdc_batch`` (dataset lock + rename swap);
2. mounts a fresh ``HTSQL`` over ``<db>`` (a mount freezes its file
   listings, so a new engine is the way to see new files); the other
   nine tables are symlinks to the fixture;
3. answers a read-your-write navigational query for 20 of the batch's
   keys through ``WSGI`` as JSON.

The cycle's latency runs from the start of the fold to the last byte
of the answer.  Every answer, and the whole snapshot at the end, must
equal the benchmark's own replay of the change log.

The snapshot uses the flat layout: the engine cannot mount a bucketed
snapshot (``htsql__bucket=K/`` subdirectories), nor a ``{name}.parquet``
directory (its timestamp footer probe calls pyarrow ``read_schema`` on
the directory and raises ``OSError``).  Both are recorded in
README.md and left for a storage change.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

from check import rows_equal
from data import PRIORITIES, STATUSES

#: Batch shape.  The op mix U:D:I = 2:1:1 is the change batch of the
#: registry's ``stream_cdc`` row (updates for key % 10 in {0, 1},
#: deletes for 2, fresh inserts for 3).  The batch size and the key
#: skew are assumptions, not measurements: nothing in the repository
#: gives them.  The fold time does not pin the size either: the flat
#: layout rewrites the whole snapshot, and a fold took the same time
#: (2.2-2.7 s, local[4] on a 4-vCPU VM) for batches of 2,000 to 60,000
#: rows.  A small batch (1.3% of the orders) leaves room for a layout
#: that rewrites only what a batch touches.
BATCH_ROWS = 2000
#: mean distance, in keys, of an upserted or deleted key from the
#: newest key (exponential): "skewed toward recent keys"
SKEW_KEYS = 20000
READ_KEYS = 20
_OPS = ["U", "U", "D", "I"]
_EPOCH = dt.datetime(1995, 1, 1)
_READ = ("/orders{o_orderkey, o_totalprice, o_orderstatus,"
         " cust := customer.c_name}?o_orderkey = {%s}")

_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("ms")), ("o_orderpriority", pa.string()),
    ("ts", pa.int64()), ("op", pa.string()),
])


def _listing(root: str) -> set[tuple]:
    """(path, inode, mtime_ns, size) of every file under ``root``."""
    out = set()
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out.add((os.path.join(d, f), st.st_ino, st.st_mtime_ns, st.st_size))
    return out


class ChangeLog:
    """Seeded change batches plus their sequential replay (the expected
    snapshot): per key the latest change wins, a delete removes the
    row, an upsert of a missing key inserts it."""

    def __init__(self, orders: pa.Table, n_customers: int, seed: int):
        self.rng = random.Random(seed)
        self.n_customers = n_customers
        cols = orders.to_pydict()
        self.state = {
            k: (c, s, p, d, pr) for k, c, s, p, d, pr in zip(
                cols["o_orderkey"], cols["o_custkey"], cols["o_orderstatus"],
                cols["o_totalprice"], cols["o_orderdate"], cols["o_orderpriority"])
        }
        self.next_key = max(self.state) + 1
        self.ts = 0

    def _payload(self):
        r = self.rng
        return (r.randrange(self.n_customers), r.choice(STATUSES),
                round(r.uniform(1000.0, 500000.0), 2),
                _EPOCH + dt.timedelta(days=r.randrange(2400)), r.choice(PRIORITIES))

    def batch(self) -> tuple[pa.Table, list[int]]:
        """The next batch, already applied to the replay, and the keys
        the read-your-write query asks for."""
        r, rows = self.rng, []
        for _ in range(BATCH_ROWS):
            op = r.choice(_OPS)
            if op == "I":
                key = self.next_key
                self.next_key += 1
            else:
                # skewed toward recent keys: exponential distance from
                # the newest key, folded back into range
                key = max(0, self.next_key - 1 - int(r.expovariate(1 / SKEW_KEYS)))
            self.ts += 1
            rows.append((key, *self._payload(), self.ts, op))
        for key, c, s, p, d, pr, _, op in rows:  # ts order == list order
            if op == "D":
                self.state.pop(key, None)
            else:
                self.state[key] = (c, s, p, d, pr)
        keys = r.sample(sorted({row[0] for row in rows}), READ_KEYS)
        table = pa.Table.from_pylist(
            [dict(zip(_SCHEMA.names, row)) for row in rows], schema=_SCHEMA)
        return table, keys


class Refresh:
    """The refresh half of ``curate``: the database directory (orders as
    a CDC snapshot, the other tables linked), its change log, and the
    read-your-write answers to check."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.db_dir = os.path.join(ctx.run_dir, "db")
        self.batch_dir = os.path.join(ctx.run_dir, "batches")
        os.makedirs(self.db_dir)
        os.makedirs(self.batch_dir)
        for f in os.listdir(ctx.data_dir):
            if f != "orders.parquet":
                os.symlink(os.path.join(ctx.data_dir, f), os.path.join(self.db_dir, f))
        orders = pq.read_table(os.path.join(ctx.data_dir, "orders.parquet"))
        customers = pq.read_table(os.path.join(ctx.data_dir, "customer.parquet"))
        self.names = dict(zip(customers["c_custkey"].to_pylist(),
                              customers["c_name"].to_pylist()))
        self.log = ChangeLog(orders, len(self.names), ctx.seed)
        self.snapshot = os.path.join(self.db_dir, "orders")
        self.cycles = 0
        self.reads: list[tuple[str, list[tuple], bytes]] = []

        # the initial load: the fixture's orders as a one-file snapshot
        os.makedirs(self.snapshot)
        pq.write_table(orders, os.path.join(self.snapshot, "part-00000.parquet"))

    def _fold(self, path: str) -> None:
        from htsql_spark.streaming import snapshot

        batch = self.ctx.spark.read.parquet(path)
        snapshot.apply_cdc_batch(self.ctx.spark, batch, self.snapshot, key="o_orderkey")

    def cycle(self, op: str) -> dict:
        """One fold -> mount -> read cycle; the batch file is written
        before the clock starts."""
        from htsql_spark import HTSQL, WSGI

        from serve import call

        table, keys = self.log.batch()
        path = os.path.join(self.batch_dir, f"b{self.cycles}.parquet")
        self.cycles += 1
        pq.write_table(table, path)
        before = _listing(self.snapshot)
        tracer = self.ctx.tracer
        tracer.begin_op(op)
        t0 = time.perf_counter()
        try:
            self._fold(path)
            db = HTSQL(self.ctx.spark, self.db_dir)
            status, body = call(WSGI(db), _READ % ", ".join(map(str, keys)), "json", tracer)
        except Exception as exc:  # a failed cycle, never dropped
            self.ctx.log(f"refresh {op}: raised {type(exc).__name__}: {exc}")
            status, body = "raised", b""
        t1 = time.perf_counter()
        tracer.end_op()
        # what the fold wrote: files that are new or changed since the
        # listing before it (a layout that rewrites only the touched
        # files keeps the others' identity)
        written = sum(ident[3] for ident in _listing(self.snapshot) - before)
        expected = sorted(
            (k, *self._visible(k)) for k in keys if k in self.log.state)
        self.reads.append((op, expected, body))
        return {"op": op, "t0": t0, "t1": t1, "key": "refresh",
                "ok": status.startswith("200"), "bytes": len(body),
                "fold_bytes": written, "batch_bytes": os.path.getsize(path)}

    def _visible(self, key: int) -> tuple:
        c, s, p, _, _ = self.log.state[key]
        return p, s, self.names[c]

    def check(self) -> set[str]:
        """Cycle ids whose read, or (reported as every cycle) whose final
        snapshot, differs from the replay."""
        bad = set()
        for op, expected, body in self.reads:
            try:
                data = json.loads(body)["data"]
                got = [tuple(r.values()) for r in data]
                err = rows_equal(got, expected)
            except (ValueError, KeyError, AttributeError) as exc:
                err = f"unreadable body: {exc}"
            if err:
                bad.add(op)
                self.ctx.log(f"refresh: read {op}: {err}")
        # the whole snapshot against the replay, compared in DuckDB
        want = pa.Table.from_pylist(
            [dict(zip(_SCHEMA.names, (k, *v))) for k, v in self.log.state.items()],
            schema=pa.schema(list(_SCHEMA)[:6]))
        con = self.ctx.duck()
        con.register("replay", want)
        got = f"read_parquet('{self.snapshot}/*.parquet')"
        cols = ", ".join(want.column_names)
        extra, missing = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM {got} EXCEPT ALL"
            f" SELECT * FROM replay)), (SELECT count(*) FROM (SELECT * FROM replay"
            f" EXCEPT ALL SELECT {cols} FROM {got}))").fetchone()
        con.unregister("replay")
        if extra or missing:
            self.ctx.log(f"refresh: final snapshot has {extra} rows the replay"
                         f" does not and lacks {missing} of its rows")
            bad.update(op for op, _, _ in self.reads)
        return bad
