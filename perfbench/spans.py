"""Layer spans for the traced run, recorded from outside the engine.

The engine has no tracing of its own, so the benchmark wraps the
public functions each layer exposes (``syntax.parse``,
``Compiler.compile_query``, ``formats.emit``, ``HTSQL.emit_with_format``,
``HTSQL.__init__``, ``streaming.snapshot.apply_cdc_batch``) and the
py4j client, in this process only.  Spark's own phases come from two
places:

* ``catalyst``: the compile wrapper forces
  ``df._jdf.queryExecution().executedPlan()`` (analysis, optimisation
  and physical planning) and times it.  The untraced path never does
  this, which is part of the tracing overhead the benchmark reports.
* ``exec``: Spark's event log (enabled for the traced run only) gives
  every job, stage and task.  Jobs are joined to spans through the job
  group the wrapper sets before each phase: ``<op id>/<phase>``.

Spans live in memory and are summarised when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = None

    # -- per-thread state -------------------------------------------------
    def _state(self):
        st = self._local
        if not hasattr(st, "op"):
            st.op = None
            st.calls = 0
            st.counting = True
            st.depth = defaultdict(int)
        return st

    def begin_op(self, op_id: str) -> None:
        """Attribute the spans and jobs that follow on this thread to
        ``op_id`` (one request, query or refresh cycle)."""
        self._state().op = op_id

    @contextlib.contextmanager
    def quiet(self):
        """Calls the benchmark itself makes are not engine traffic."""
        st = self._state()
        prev, st.counting = st.counting, False
        try:
            yield
        finally:
            st.counting = prev

    def end_op(self) -> None:
        st = self._state()
        if self.enabled and st.op is not None:
            with self.quiet():
                self._sc.setLocalProperty("spark.jobGroup.id", None)
        st.op = None

    def set_phase(self, phase: str) -> None:
        """Tag the jobs this thread submits next with ``<op>/<phase>``."""
        st = self._state()
        if not self.enabled or st.op is None:
            return
        with self.quiet():
            self._sc.setJobGroup(f"{st.op}/{phase}", phase, False)

    @contextlib.contextmanager
    def span(self, name: str, phase: str | None = None):
        """Record one span; nested re-entries of the same name on a
        thread (e.g. a gateway compile inside a compile) fold into the
        outer span."""
        st = self._state()
        if not self.enabled or st.op is None or st.depth[name]:
            yield
            return
        st.depth[name] += 1
        if phase:
            self.set_phase(phase)
        c0, t0 = st.calls, time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.depth[name] -= 1
            rec = {"op": st.op, "name": name, "t0": t0, "t1": t1,
                   "py4j": st.calls - c0}
            with self._lock:
                self.spans.append(rec)

    # -- installation -----------------------------------------------------
    def install(self, spark) -> None:
        """Wrap the py4j client and the layers' public functions.  The
        wrappers stay in place; clearing ``enabled`` turns them into
        pass-throughs."""
        self.enabled = True
        self._sc = spark.sparkContext
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counted(*args, **kwargs):
            st = tracer._state()
            if st.counting:
                st.calls += 1
            return send(*args, **kwargs)

        client.send_command = counted

        from htsql_spark import compile as compile_mod
        from htsql_spark import engine as engine_mod
        from htsql_spark import formats as formats_mod
        from htsql_spark.streaming import snapshot as snapshot_mod

        self._wrap(engine_mod, "parse", "syntax")
        self._wrap(formats_mod, "emit", "formats", phase="emit")
        self._wrap(engine_mod.HTSQL, "emit_with_format", "emit_with_format")
        self._wrap(engine_mod.HTSQL, "__init__", "engine", phase="mount")
        self._wrap(snapshot_mod, "apply_cdc_batch", "streaming", phase="fold")

        compile_query = compile_mod.Compiler.compile_query

        def traced_compile(self, node):
            st = tracer._state()
            outer = not st.depth["compile"]
            with tracer.span("compile", phase="build"):
                df = compile_query(self, node)
            if outer and tracer.enabled and st.op is not None:
                with tracer.span("catalyst", phase="catalyst"):
                    df._jdf.queryExecution().executedPlan()
            return df

        compile_mod.Compiler.compile_query = traced_compile

    def _wrap(self, owner, attr: str, name: str, phase: str | None = None) -> None:
        """Replace ``owner.attr`` by a call of it inside span ``name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name, phase):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapped)

    # -- summaries ----------------------------------------------------------
    def by_op(self) -> dict[str, dict[str, dict]]:
        """``{op: {span name: {"s": seconds, "py4j": calls}}}`` summed
        over the spans of each name."""
        out: dict[str, dict[str, dict]] = defaultdict(dict)
        for rec in self.spans:
            agg = out[rec["op"]].setdefault(rec["name"], {"s": 0.0, "py4j": 0})
            agg["s"] += rec["t1"] - rec["t0"]
            agg["py4j"] += rec["py4j"]
        return out


def spark_conf(event_dir: str) -> dict[str, str]:
    """Session settings that turn Spark's event log on for a run."""
    os.makedirs(event_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Wall seconds covered by a set of [start, end] millisecond
    intervals (concurrent jobs count once)."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def read_event_log(event_dir: str) -> dict[str, dict]:
    """Per job group ``<op>/<phase>``: job count, job wall seconds
    (union of job intervals), tasks, shuffle bytes written and bytes
    spilled to disk.  Call after the session has stopped, so the log
    is complete."""
    jobs: list[dict] = []
    stage_group: dict[int, str] = {}
    starts: dict[int, dict] = {}
    per_stage: dict[int, dict] = defaultdict(
        lambda: {"tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0})
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    starts[ev["Job ID"]] = {"group": group,
                                            "start": ev["Submission Time"]}
                elif kind == "SparkListenerJobEnd":
                    job = starts.pop(ev["Job ID"], None)
                    if job is not None:
                        job["end"] = ev["Completion Time"]
                        jobs.append(job)
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    st = per_stage[ev["Stage ID"]]
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "shuffle_bytes": 0,
                 "spill_bytes": 0, "intervals": []})
    for job in jobs:
        if job["group"]:
            g = groups[job["group"]]
            g["jobs"] += 1
            g["intervals"].append((job["start"], job["end"]))
    for sid, st in per_stage.items():
        group = stage_group.get(sid)
        if group:
            for k, v in st.items():
                groups[group][k] += v
    for g in groups.values():
        g["job_s"] = _union_s(g.pop("intervals"))
    return dict(groups)
