"""``curate``: one batch curation pass per operation, closed loop.

A pass is what a nightly curation job does:

1. ``refresh`` -- fold the next CDC batch into ``orders``, mount a
   fresh engine over the result and answer a read-your-write query
   through WSGI (see ``refresh.py``);
2. the heavy language-query mix over the fixture, each query built
   with ``db.df()`` and drained by collecting its rows (at most 5,000
   small rows, so this costs what ``bench.py``'s noop sink costs plus
   a small driver transfer, and the checked rows are the timed ones).

The mix reads the fixture, not the refreshed snapshot: deleting an
order orphans its lineitems, and the registry oracles assume every
lineitem finds its order (an inner join, where the engine's singular
link keeps the orphans under a NULL order, as HTSQL specifies).

The mix is execution- and operator-bound: the dedup flow methods run
eager Spark jobs while the DataFrame is being built, so the traced run
splits ``build`` time into bind+lower and the operators' eager jobs.
The seed only drives the change batches; the mix and its order are
fixed.

Each result is checked outside the timed region against the registry
row's DuckDB ``oracle_sql()`` over the same files.  The quantiles row
is approximate; it is checked in the registry's certificate form
(exact per-group counts, and each estimate's true rank within the
sketch's carried error of its target rank), computed from the
collected estimates by the registry's own ``_kll_rank_certificate``.
"""

from __future__ import annotations

import inspect
import json
import os
import time

from check import query, rows_equal
from refresh import Refresh

#: (registry row, query text) in run order.  Three heavy rows are left
#: out to keep a run within the benchmark's time budget at local[4]:
#: ``lang_cluster`` (connected components, 15-24 s), ``lang_dedup_ngram``
#: (~12 s cold, the same bucketed-pairs operator family as
#: ``lang_dedup_minhash``) and ``tpch_q21`` (~6 s warm, ~9 s per run
#: with its warm-up; ``tpch_q9`` keeps a multi-way join in the mix).
MIX = [
    ("lang_dedup_minhash", "/documents.dedup_minhash(){doc_id}"),
    ("tpch_q9", None),
    ("lang_quantiles_by", "/lineitem.quantiles(l_quantity, 0.5, 0.9, l_returnflag)"),
]
#: rows whose registry oracle describes a certificate over the query:
#: row -> (table, value column, quantiles, group columns)
CERTIFIED = {"lang_quantiles_by": ("lineitem", "l_quantity", (0.5, 0.9), ["l_returnflag"])}


def registry_mix(entry) -> list[tuple[str, str]]:
    queries = entry.queries()
    out = []
    for name, text in MIX:
        fn = queries[name]
        if text is None:
            text = fn.__doc__
        elif text not in inspect.getsource(fn):
            raise RuntimeError(f"registry row {name} no longer runs {text!r}")
        out.append((name, text))
    return out


#: the registry's minhash oracle scores all 12.5M document pairs (many
#: minutes in DuckDB); this form scores only pairs sharing a shingle,
#: which is every pair with a non-zero Jaccard, so the answer is the same
_ALL_PAIRS = ("pairs AS ( SELECT a.doc_id AS a, b.doc_id AS b,  round(len(list_intersect("
              "a.s, b.s))::DOUBLE   / len(list_distinct(a.s || b.s)), 6) AS jaccard"
              " FROM sh a JOIN sh b ON a.doc_id < b.doc_id)")
_SHARED_PAIRS = (
    "flat AS (SELECT doc_id, unnest(s) AS g FROM sh),"
    " shared AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n FROM flat x"
    " JOIN flat y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2),"
    " pairs AS (SELECT shared.a, shared.b, round(n::DOUBLE / (len(sa.s) + len(sb.s) - n), 6)"
    " AS jaccard FROM shared JOIN sh sa ON sa.doc_id = shared.a"
    " JOIN sh sb ON sb.doc_id = shared.b)")


def oracle_sql(entry, name: str) -> str:
    sql = entry.oracle_sql()[name]
    if name == "lang_dedup_minhash":
        if sql.count(_ALL_PAIRS) != 1:
            raise RuntimeError("the registry's minhash oracle changed; update _SHARED_PAIRS")
        sql = sql.replace(_ALL_PAIRS, _SHARED_PAIRS)
    return sql


def oracle_rows(ctx, entry, name: str) -> tuple[list[str], list]:
    """The DuckDB answer of a registry row, computed once per fixture
    build (the fixture never changes, so neither does the answer)."""
    path = os.path.join(ctx.oracle_dir, f"{name}.json")
    if not os.path.exists(path):
        cols, rows = query(ctx.duck(), oracle_sql(entry, name))
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump({"cols": cols, "rows": rows}, fh, default=str)
        os.replace(tmp, path)
    with open(path) as fh:
        cached = json.load(fh)
    return cached["cols"], [tuple(r) for r in cached["rows"]]


class Curate:
    def __init__(self, ctx):
        import __spark_entry__ as entry

        self.ctx, self.entry = ctx, entry
        self.mix = registry_mix(entry)
        self.refresh = Refresh(ctx)
        self.db = ctx.setup(ctx.data_dir, warm=self._warm)
        #: op id -> (query, columns, collected rows), checked at the end
        self.results: dict[str, tuple[str, list[str], list]] = {}

    def _warm(self, db) -> None:
        """One pass, unchecked.  At full size: the first full-size run
        of a query is slower than a later one (Python worker start,
        code generation, JIT), which a warm-up over a small fixture
        does not remove."""
        self.refresh.cycle("warm")
        for _, text in self.mix:
            db.df(text).collect()

    def measure(self, tag: str) -> dict:
        ctx, tracer = self.ctx, self.ctx.tracer
        passes, steps, start, n = [], [], time.perf_counter(), 0
        end = start + ctx.seconds
        # another pass starts only if a pass as long as the last one would
        # still end in the window: the window is not overrun by a pass,
        # and a pass longer than half the window runs exactly once
        while n == 0 or 2 * passes[-1]["t1"] - passes[-1]["t0"] <= end:
            steps.append(self.refresh.cycle(f"{tag}p{n}-refresh"))
            for name, text in self.mix:
                op = f"{tag}p{n}-{name}"
                tracer.begin_op(op)
                t0 = time.perf_counter()
                try:
                    df = self.db.df(text)
                    with tracer.span("drain", phase="drain"):
                        rows = df.collect()
                    self.results[op] = (name, df.columns, rows)
                    ok = True
                except Exception as exc:  # a failed query, never dropped
                    ctx.log(f"curate {op}: raised {type(exc).__name__}: {exc}")
                    ok = False
                t1 = time.perf_counter()
                tracer.end_op()
                steps.append({"op": op, "t0": t0, "t1": t1, "key": name, "ok": ok})
            passes.append({"op": f"{tag}p{n}", "t0": steps[-len(self.mix) - 1]["t0"],
                           "t1": steps[-1]["t1"]})
            n += 1
        return {"ops": passes, "steps": steps, "elapsed": passes[-1]["t1"] - start}

    def _certificate(self, name: str, rows: list) -> tuple[list[str], list]:
        """The registry's rank certificate of collected estimates."""
        table, value, qs, groups = CERTIFIED[name]
        spark = self.ctx.spark
        values = spark.read.parquet(os.path.join(self.ctx.data_dir, f"{table}.parquet"))
        cert = self.entry._kll_rank_certificate(
            values.select(*groups, value), value, spark.createDataFrame(rows), qs, groups)
        return cert.columns, cert.collect()

    def check(self) -> set[str]:
        """Ids of the failing refresh cycles and query runs."""
        bad = self.refresh.check()
        for op, (name, cols, rows) in self.results.items():
            want_cols, want = oracle_rows(self.ctx, self.entry, name)
            if name in CERTIFIED:
                try:
                    cols, rows = self._certificate(name, rows)
                except Exception as exc:  # e.g. no rows to certify
                    cols, rows = [f"certificate raised {type(exc).__name__}: {exc}"], []
            err = None if cols == want_cols else f"columns {cols} != {want_cols}"
            err = err or rows_equal([tuple(r) for r in rows], want)
            if err:
                bad.add(op)
                self.ctx.log(f"curate: {op}: {err}")
        return bad
