"""``serve``: URL -> WSGI -> response bytes, closed loop, 2 clients.

Each client thread calls ``WSGI(db)`` in-process with an environ built
the way an HTTP server builds it (``PATH_INFO`` percent-decoded,
``QUERY_STRING`` still encoded, format through ``Accept``) and sends
its next request when the previous response is complete.

Requests come from 12 navigational templates, each a registry row of
``__spark_entry__`` whose HTSQL text and DuckDB ``oracle_sql()`` are
rewritten together: the seed draws the literals, so some URLs repeat
and most do not.  Every client walks the templates round-robin in a
fixed order, so the template and format mix of a window is the same on
every seed.  ``selection`` and ``nav_singular`` return 15,000 rows
each, which exercises the driver collect and the renderers.
"""

from __future__ import annotations

import datetime as dt
import inspect
import io
import random
import re
import threading
import time
from urllib.parse import quote, unquote

from check import body_matches, query
from data import REGIONS, ROWS, SEGMENTS, STATUSES, line_counts

CLIENTS = 2


def _day(rng, lo: str, hi: str) -> str:
    """A uniformly drawn ISO date in [lo, hi]."""
    a, b = dt.date.fromisoformat(lo), dt.date.fromisoformat(hi)
    return (a + dt.timedelta(days=rng.randint(0, (b - a).days))).isoformat()


def _same(v: str) -> tuple[str, str]:
    return v, v


def _date(d: str) -> tuple[str, str]:
    return f"date('{d}')", f"DATE '{d}'"


#: lines per order of the fixture, for drawing existing lineitem keys
_LINES = line_counts(ROWS["orders"], ROWS["lineitem"])


def _line_key(rng) -> tuple[str, str]:
    k = rng.randrange(len(_LINES))
    n = rng.randint(1, int(_LINES[k]))
    return f"[{k}.{n}]", f"l_orderkey = {k} AND l_linenumber = {n}"


#: (registry row, literals in its HTSQL text, the same literals in its
#: oracle SQL, draw(rng) -> [(HTSQL replacement, SQL replacement)])
TEMPLATES = [
    ("agg_flagship", ["'ASIA'"], ["'ASIA'"],
     lambda r: [_same(f"'{r.choice(REGIONS)}'")]),
    ("selection", ["c_acctbal * 2"], ["c_acctbal * 2"],
     lambda r: [_same(f"c_acctbal * {r.randint(2, 6)}")]),
    ("sieve", ["'F'", "100000"], ["'F'", "100000"],
     lambda r: [_same(f"'{r.choice(STATUSES)}'"),
                _same(str(r.randrange(440000, 500000, 10000)))]),
    ("nav_singular", [], [], lambda r: []),
    ("quotient", [], [], lambda r: []),
    ("fork", [], [], lambda r: []),
    ("sort_limit", ["limit(10)"], ["LIMIT 10"],
     lambda r: [(lambda k: (f"limit({k})", f"LIMIT {k}"))(r.randint(5, 40))]),
    # the registry wraps this row's nested column in to_json for its
    # hash gate; the served URL returns it nested, under its own name
    ("nested_segment", [], ["nation_json"], lambda r: [("", "nation")]),
    ("locator", ["[1.3]"], ["l_orderkey = 1 AND l_linenumber = 3"],
     lambda r: [_line_key(r)]),
    ("tpch_q1", ["date('1998-09-02')"], ["DATE '1998-09-02'"],
     lambda r: [_date(_day(r, "1997-01-01", "2001-06-30"))]),
    ("tpch_q3", ["'BUILDING'", "date('1996-06-30')"], ["'BUILDING'", "DATE '1996-06-30'"],
     lambda r: [_same(f"'{r.choice(SEGMENTS)}'"),
                _date(_day(r, "1996-01-01", "1997-12-31"))]),
    ("tpch_q6", ["date('1996-01-01')", "date('1997-01-01')", "l_quantity < 24"],
     ["DATE '1996-01-01'", "DATE '1997-01-01'", "l_quantity < 24"],
     lambda r: (lambda y, q: [_date(f"{y}-01-01"), _date(f"{y + 1}-01-01"),
                              _same(f"l_quantity < {q}")])(
         r.randint(1995, 2000), r.randint(20, 30))),
]
LARGE = {"selection", "nav_singular", "fork"}
#: templates with a total order (ORDER BY ... LIMIT): rows are checked
#: in body order
ORDERED = {"sort_limit", "tpch_q3"}

#: Accept headers cycled per template: 7 JSON, 2 CSV, 1 text in every
#: 10; large results skip text (it renders only 1,000 rows)
_FORMATS = ["json", "csv", "json", "json", "txt", "json", "json", "csv", "json", "json"]
_ACCEPT = {"json": "application/json", "csv": "text/csv", "txt": "text/plain"}


def _substitute(text: str, old: list[str], new: list[str]) -> str:
    """Replace each literal of ``old`` (each must occur exactly once)
    by its counterpart, in one pass."""
    for lit in old:
        if text.count(lit) != 1:
            raise RuntimeError(f"template literal {lit!r} not unique in {text!r}")
    if not old:
        return text
    table = dict(zip(old, new))
    return re.sub("|".join(map(re.escape, old)), lambda m: table[m.group(0)], text)


def registry_templates(entry) -> list[tuple[str, str, str, list, list, callable]]:
    """Each template's registry HTSQL text and oracle SQL."""
    queries, oracles = entry.queries(), entry.oracle_sql()
    out = []
    for name, h_old, o_old, draw in TEMPLATES:
        if name == "nested_segment":
            text = "/region{name, /nation{nname := name}}"
            if text not in inspect.getsource(entry._nested_segment_json):
                raise RuntimeError(f"registry row {name} no longer runs {text!r}")
        else:
            text = queries[name].__doc__
        out.append((name, text, oracles[name], h_old, o_old, draw))
    return out


def requests(templates, seed: int, client: int):
    """Endless request stream of one client: (template, query, oracle
    SQL, format).  The template order and the formats are the same on
    every seed (client 1 starts half-way round); the seed draws only
    the literals."""
    rng = random.Random(seed * 1009 + client)
    n = len(templates)
    i = client * n // CLIENTS
    while True:
        t = i % n
        name, text, osql, h_old, o_old, draw = templates[t]
        pairs = draw(rng)
        q = _substitute(text, h_old, [h for h, _ in pairs])
        o = _substitute(osql, o_old, [o for _, o in pairs])
        fmt = _FORMATS[(i // n + 3 * t + 5 * client) % len(_FORMATS)]
        if fmt == "txt" and name in LARGE:
            fmt = "json"
        yield name, q, o, fmt
        i += 1


def environ(query_text: str, fmt: str) -> dict:
    """The WSGI environ an HTTP server builds for ``GET <url>``."""
    url = quote(query_text, safe="/?:@!$&'()*+,;=-._~")
    path, _, qs = url.partition("?")
    return {
        "REQUEST_METHOD": "GET",
        "SCRIPT_NAME": "",
        "PATH_INFO": unquote(path),
        "QUERY_STRING": qs,
        "SERVER_NAME": "localhost",
        "SERVER_PORT": "8080",
        "SERVER_PROTOCOL": "HTTP/1.1",
        "HTTP_ACCEPT": _ACCEPT[fmt],
        "wsgi.version": (1, 0),
        "wsgi.url_scheme": "http",
        "wsgi.input": io.BytesIO(b""),
        "wsgi.errors": io.StringIO(),
        "wsgi.multithread": True,
        "wsgi.multiprocess": False,
        "wsgi.run_once": False,
    }


def call(app, query_text: str, fmt: str, tracer) -> tuple[str, bytes]:
    """One GET through the WSGI app: (status line, body)."""
    status: list[str] = []
    with tracer.span("wsgi"):
        body = b"".join(app(environ(query_text, fmt), lambda s, h: status.append(s)))
    return status[0] if status else "", body


class Serve:
    def __init__(self, ctx):
        from htsql_spark import WSGI

        import __spark_entry__ as entry

        self.ctx = ctx
        self.templates = registry_templates(entry)
        #: first body of every distinct (URL, format), checked at the end
        self.bodies: dict[tuple[str, str], tuple[str, str, bytes, list]] = {}
        self.windows = 0
        # warm-up: one round of the templates per client, on a request
        # stream of its own
        self.db = ctx.setup(ctx.data_dir, warm=lambda db: self._drive(
            WSGI(db), -1 - ctx.seed, "warm", lambda n: n < len(self.templates)))
        self.app = WSGI(self.db)

    def _drive(self, app, seed: int, tag: str, more) -> list[dict]:
        """Run the client threads, each sending its next request while
        ``more(<requests it has sent>)``; returns the requests."""
        ctx, tracer = self.ctx, self.ctx.tracer
        ops: list[dict] = []
        lock = threading.Lock()

        def client(ci: int) -> None:
            stream = requests(self.templates, seed, ci)
            n = 0
            while more(n):
                name, q, osql, fmt = next(stream)
                op = f"{tag}c{ci}r{n}"
                tracer.begin_op(op)
                t0 = time.perf_counter()
                try:
                    status, body = call(app, q, fmt, tracer)
                except Exception as exc:  # a failed request, never dropped
                    status, body = f"raised {type(exc).__name__}: {exc}", b""
                t1 = time.perf_counter()
                tracer.end_op()
                ok = status.startswith("200")
                if not ok:
                    ctx.log(f"serve: {name} [{fmt}] {q!r}: status {status!r}")
                with lock:
                    ops.append({"op": op, "t0": t0, "t1": t1, "key": name,
                                "ok": ok, "bytes": len(body)})
                    if tag != "warm":
                        seen = self.bodies.setdefault((q, fmt), (name, osql, body, []))
                        seen[3].append(op)
                n += 1

        threads = [threading.Thread(target=client, args=(i,)) for i in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return ops

    def measure(self, tag: str) -> dict:
        # a later window (the traced one) continues with fresh literals
        seed = self.ctx.seed + 7919 * self.windows
        self.windows += 1
        start = time.perf_counter()
        deadline = start + self.ctx.seconds
        ops = self._drive(self.app, seed, tag, lambda n: time.perf_counter() < deadline)
        return {"ops": ops, "elapsed": max(o["t1"] for o in ops) - start}

    def check(self) -> set[str]:
        """Ids of the requests whose (URL, format) body differs from
        the oracle; each distinct body is checked once."""
        con = self.ctx.duck()
        oracle: dict[str, tuple] = {}
        bad: set[str] = set()
        for (q, fmt), (name, osql, body, op_ids) in self.bodies.items():
            if osql not in oracle:
                oracle[osql] = query(con, osql)
            try:
                err = body_matches(body, fmt, *oracle[osql], ordered=name in ORDERED)
            except (ValueError, KeyError, IndexError) as exc:
                err = f"unreadable body: {exc}"
            if err:
                bad.update(op_ids)
                self.ctx.log(f"serve: {name} [{fmt}] {q!r}: {err}")
        return bad
