"""Metric computation: end-to-end figures from a measured window,
per-layer figures from the traced window's spans and Spark's event
log, and the human-readable summary printed before the JSON line.

Every run reports every metric the benchmark defines.  A layer a
workload never enters reports 0 (``streaming.fold_s`` and the per-query
``curate`` metrics under ``serve``).
"""

from __future__ import annotations

import statistics

from curate import MIX

MB = float(1 << 20)

#: per-layer metrics: name -> unit, in report order
PER_LAYER = {
    "driver.peak_rss_mb": "MB",
    "syntax.parse_ms": "ms",
    "compile.bind_lower_ms": "ms",
    "compile.py4j_calls": "count",
    "catalyst.plan_ms": "ms",
    "exec.job_ms": "ms",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "formats.render_ms": "ms",
    "formats.bytes_out": "bytes",
    "wsgi.overhead_ms": "ms",
    "engine.mount_s": "s",
    "streaming.fold_s": "s",
    "streaming.fold_jobs": "count",
    "streaming.bytes_written_mb": "MB",
    "streaming.write_amp": "ratio",
}
for _q, _ in MIX:
    PER_LAYER |= {
        f"compile.{_q}.build_s": "s",
        f"operators.{_q}.eager_jobs": "count",
        f"operators.{_q}.eager_job_s": "s",
        f"exec.{_q}.drain_s": "s",
        f"exec.{_q}.tasks": "count",
        f"exec.{_q}.shuffle_write_mb": "MB",
        f"exec.{_q}.spill_mb": "MB",
    }
PER_LAYER |= {"trace.overhead_ms": "ms", "trace.uncovered_share": "ratio"}

#: spans that together should account for an operation's latency
_COVER = ("syntax", "compile", "catalyst", "formats", "engine", "streaming", "drain")


def _latencies_ms(window: dict) -> list[float]:
    return [(o["t1"] - o["t0"]) * 1000.0 for o in window["ops"]]


def _tail(lat: list[float]) -> str:
    """The highest of p99/p95/p90 with at least ten samples beyond it."""
    n = len(lat)
    for pct in (99, 95, 90):
        if n * (100 - pct) / 100 >= 10:
            q = statistics.quantiles(lat, n=100, method="inclusive")[pct - 1]
            return f"p{pct} {q:.1f} ms"
    return f"no tail percentile: {n} samples, p90 needs 100"


def end_to_end(ctx, window: dict) -> dict[str, tuple[float, str]]:
    return {
        "ops_per_s": (len(window["ops"]) / window["elapsed"], "1/s"),
        "setup_s": (ctx.setup_s(), "s"),
    }


def _write_amp(refresh_steps: list[dict]) -> float:
    """Bytes the folds wrote under the snapshot per byte of change batch."""
    batch = sum(o["batch_bytes"] for o in refresh_steps)
    return sum(o["fold_bytes"] for o in refresh_steps) / batch if batch else 0.0


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_layer(ctx, windows: list[dict], groups: dict[str, dict], peak_mb: float):
    """Per-layer metrics of the traced window ``windows[1]``; the
    untraced windows before and after it give the tracing overhead
    with the JVM's warm-up drift cancelled."""
    traced = windows[1].get("steps", windows[1]["ops"])
    spans = ctx.tracer.by_op()
    zero = {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0, "job_s": 0.0}
    by_op: dict[str, dict[str, dict]] = {}
    for key, g in groups.items():
        op, _, phase = key.rpartition("/")
        by_op.setdefault(op, {})[phase] = g

    def s(o, name):
        return spans.get(o["op"], {}).get(name, {"s": 0.0, "py4j": 0})

    def g(o, phase):
        return by_op.get(o["op"], {}).get(phase, zero)

    def total(o, field):
        return sum(v[field] for v in by_op.get(o["op"], {}).values())

    def wsgi_overhead(o):
        return s(o, "wsgi")["s"] - s(o, "emit_with_format")["s"] if s(o, "wsgi")["s"] else 0.0

    def entered(name):
        """The traced operations that entered a layer's span."""
        return [o for o in traced if o["op"] in spans and name in spans[o["op"]]]

    compiled, emitted, folds = entered("compile"), entered("formats"), entered("streaming")
    mounts = entered("engine")
    out = {
        "driver.peak_rss_mb": peak_mb,
        "syntax.parse_ms": _mean(s(o, "syntax")["s"] * 1e3 for o in entered("syntax")),
        "compile.bind_lower_ms": _mean(
            (s(o, "compile")["s"] - g(o, "build")["job_s"]) * 1e3 for o in compiled),
        "compile.py4j_calls": _mean(s(o, "compile")["py4j"] for o in compiled),
        "catalyst.plan_ms": _mean(s(o, "catalyst")["s"] * 1e3 for o in entered("catalyst")),
        "exec.job_ms": _mean(total(o, "job_s") * 1e3 for o in traced),
        "exec.jobs": _mean(total(o, "jobs") for o in traced),
        "exec.tasks": _mean(total(o, "tasks") for o in traced),
        "formats.render_ms": _mean(
            (s(o, "formats")["s"] - g(o, "emit")["job_s"]) * 1e3 for o in emitted),
        "formats.bytes_out": _mean(o["bytes"] for o in emitted),
        "wsgi.overhead_ms": _mean(wsgi_overhead(o) * 1e3 for o in entered("wsgi")),
        "engine.mount_s": (_mean(s(o, "engine")["s"] for o in mounts) if mounts
                           else ctx.setup_parts["mount_s"]),
        "streaming.fold_s": _mean(s(o, "streaming")["s"] for o in folds),
        "streaming.fold_jobs": _mean(g(o, "fold")["jobs"] for o in folds),
        "streaming.bytes_written_mb": _mean(o["fold_bytes"] / MB for o in folds),
        "streaming.write_amp": _write_amp(folds),
    }
    for q, _ in MIX:
        mine = [o for o in traced if o["key"] == q]
        out |= {
            f"compile.{q}.build_s": _mean(
                s(o, "compile")["s"] - g(o, "build")["job_s"] for o in mine),
            f"operators.{q}.eager_jobs": _mean(g(o, "build")["jobs"] for o in mine),
            f"operators.{q}.eager_job_s": _mean(g(o, "build")["job_s"] for o in mine),
            f"exec.{q}.drain_s": _mean(s(o, "drain")["s"] for o in mine),
            f"exec.{q}.tasks": _mean(g(o, "drain")["tasks"] for o in mine),
            f"exec.{q}.shuffle_write_mb": _mean(g(o, "drain")["shuffle_bytes"] / MB for o in mine),
            f"exec.{q}.spill_mb": _mean(g(o, "drain")["spill_bytes"] / MB for o in mine),
        }
    before, during, after = (statistics.median(_latencies_ms(w)) for w in windows)
    out["trace.overhead_ms"] = during - (before + after) / 2
    wall = sum(o["t1"] - o["t0"] for o in traced)
    covered = sum(sum(s(o, n)["s"] for n in _COVER) + wsgi_overhead(o) for o in traced)
    out["trace.uncovered_share"] = (wall - covered) / wall
    assert list(out) == list(PER_LAYER), set(out) ^ set(PER_LAYER)
    return {k: (v, PER_LAYER[k]) for k, v in out.items()}


def summary(workload: str, ctx, windows: list[dict], e2e: dict, peak_mb: float,
            failed: int, attempted: int) -> list[str]:
    """Report lines: setup parts, end-to-end figures, failures, and the
    workload's headline figures with their sample counts."""
    w = windows[0]
    lat = _latencies_ms(w)
    lines = [
        f"{workload}: {len(lat)} ops in {w['elapsed']:.2f} s, seed {ctx.seed}",
        "setup: " + ", ".join(f"{k} {v:.3f}" for k, v in ctx.setup_parts.items())
        + f"; output check {ctx.check_s:.3f} s",
        "end-to-end: " + ", ".join(f"{k} {v:.4g} {u}" for k, (v, u) in e2e.items())
        + f", peak_rss_mb {peak_mb:.0f} MB (driver JVM + Python)",
        f"failures: {failed} of {attempted} ({failed / attempted:.3%})",
    ]
    if workload == "serve":
        lines.append(f"serve.p50_ms {statistics.median(lat):.1f} (n={len(lat)}),"
                     f" tail {_tail(lat)}, serve.qps {len(lat) / w['elapsed']:.2f}")
    else:
        steps = w["steps"]
        refresh = [o for o in steps if o["key"] == "refresh"]
        last = steps[-len(MIX) - 1:]
        lines.append(f"curate.makespan_s {statistics.median(lat) / 1e3:.2f} (n={len(lat)}),"
                     " last pass: " + ", ".join(
                         f"{o['key']} {o['t1'] - o['t0']:.2f}" for o in last))
        vis = [o["t1"] - o["t0"] for o in refresh]
        lines.append(f"refresh.visible_p50_s {statistics.median(vis):.3f} (n={len(vis)}),"
                     f" refresh.write_amp {_write_amp(refresh):.1f}")
    if len(windows) > 1:
        p50 = [statistics.median(_latencies_ms(x)) for x in windows]
        lines.append("p50 ms of the untraced, traced and untraced windows: "
                     + ", ".join(f"{v:.1f}" for v in p50))
    return lines
