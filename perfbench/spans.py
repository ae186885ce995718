"""Spans around the engine's layer entry points, and Spark's own
scheduler/executor counters read per job group.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, op
id) and writes them as JSON lines when the run ends. Wrappers are
installed on module attributes from the benchmark's side only; the
engine's code is unchanged. With tracing off, ``span`` and ``op`` cost
one attribute check each and no wrapper is installed.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

from stats import self_times

PLAN_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # bookkeeping time spent inside wrappers
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.window = (float("-inf"), float("inf"))  # spans counted in results
        self.phases: list[tuple[float, dict]] = []  # (time, Catalyst phase ms) per collect

    # ---- spans ----
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "op": getattr(self._local, "op", None),
        }
        stack.append(sid)
        rec["start"] = time.perf_counter()
        booked = rec["start"] - b0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += booked + (time.perf_counter() - rec["end"])

    def wrapped(self, fn, name: str, after=None):
        """``fn`` inside a span; ``after(args, result)`` runs once the
        call returns and is booked as tracing overhead."""

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                out = fn(*a, **kw)
            if after is not None:
                t = time.perf_counter()
                after(a, out)
                with self._lock:
                    self.overhead_s += time.perf_counter() - t
            return out

        return wrapper

    def wrap(self, owner: object, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper (restored
        by :meth:`unwrap_all`)."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        setattr(owner, attr, self.wrapped(orig, name, after))
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---- operations ----
    @contextmanager
    def op(self, sc, op_id: str):
        """One operation: its spans carry ``op_id`` and, when tracing,
        its Spark jobs run under job group ``op_id``."""
        if not self.enabled:
            yield
            return
        self._local.op = op_id
        sc.setJobGroup(op_id, op_id)
        try:
            with self.span("op"):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._local.op = None

    def set_group(self, sc, group: str) -> None:
        if self.enabled:
            sc.setJobGroup(group, group)

    # ---- results ----
    def in_window(self) -> list[dict]:
        lo, hi = self.window
        return [s for s in self.spans if lo <= s["start"] <= hi]

    def self_time_by_name(self) -> dict[str, float]:
        spans = self.in_window()
        st = self_times(spans)
        out: dict[str, float] = {}
        for sp in spans:
            out[sp["name"]] = out.get(sp["name"], 0.0) + st[sp["id"]]
        return out

    def phase_ms(self, phase: str) -> list[float]:
        lo, hi = self.window
        return [p[phase] for t, p in self.phases if lo <= t <= hi and phase in p]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.in_window() if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


# ---- Spark scheduler / executor counters (work with spark.ui.enabled=false) ----

STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ms": "executorCpuTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "input_bytes": "inputBytes",
}


def _empty_counters() -> dict[str, float]:
    out = {"jobs": 0, "stages": 0, "tasks": 0}
    out.update({k: 0 for k in STAGE_FIELDS})
    return out


def stage_counters(sc, stage_ids) -> dict[str, float]:
    """Sum of the last attempt of each stage that ran (skipped stages
    count nothing). CPU time is reported by Spark in ns, run time in ms."""
    store = sc._jsc.sc().statusStore()
    out = _empty_counters()
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(int(sid))
        except Exception:  # noqa: BLE001 - evicted from the status store
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        for key, field in STAGE_FIELDS.items():
            v = getattr(sd, field)()
            out[key] += v / 1e6 if key == "cpu_ms" else v
    return out


def group_counters(sc, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and executor totals of one job group."""
    st = sc.statusTracker()
    job_ids = st.getJobIdsForGroup(group)
    stages: list[int] = []
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is not None:
            stages.extend(info.stageIds)
    out = stage_counters(sc, stages)
    out["jobs"] = len(job_ids)
    return out


def _stage_ids(sc) -> list[int]:
    store = sc._jsc.sc().statusStore()
    seq = store.stageList(
        sc._jvm.java.util.ArrayList(), False, False,
        getattr(store, "stageList$default$4")(), sc._jvm.java.util.ArrayList(),
    )
    return [seq.apply(i).stageId() for i in range(seq.size())]


def max_stage_id(sc) -> int:
    """Highest stage id the status store knows (stage ids only grow)."""
    return max(_stage_ids(sc), default=-1)


def stages_after(sc, after: int) -> list[int]:
    return [s for s in _stage_ids(sc) if s > after]


def window_counters(sc, stage0: int) -> dict[str, float]:
    """Run-wide executor and scheduler totals of every stage after ``stage0``."""
    run = stage_counters(sc, stages_after(sc, stage0))
    out = {f"exec.{k}": run[k] for k in STAGE_FIELDS if k != "shuffle_write_bytes"}
    out["sched.stages"] = run["stages"]
    out["sched.tasks"] = run["tasks"]
    return out


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations of a DataFrame's QueryExecution."""
    out = {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
    except Exception:  # noqa: BLE001 - not a JVM-backed frame
        return out
    for name in PLAN_PHASES:
        try:
            out[name] = float(phases.apply(name).durationMs())
        except Exception:  # noqa: BLE001 - phase not run for this plan
            continue
    return out


def install_layer_spans(tracer: Tracer, spark) -> None:
    """Span wrappers on the engine's layer entry points (module
    attributes, looked up by the engine at call time) and on the
    session's DataFrame ``collect``."""
    from clickhouse_realtime_analytics_demo_spark.ops import query_log
    from clickhouse_realtime_analytics_demo_spark.plans import dialect, gateway
    from clickhouse_realtime_analytics_demo_spark.sources import writer
    from clickhouse_realtime_analytics_demo_spark.streaming import mv, tail

    for owner, attr, name in (
        (writer, "write_table", "writer.write_table"),
        (mv, "read_final", "mv.read_final"),
        (mv, "compact", "mv.compact"),
        (tail, "poll", "tail.poll"),
        (dialect, "rewrite", "dialect.rewrite"),
        (gateway, "execute", "gateway.execute"),
        (query_log, "scan_metrics", "query_log.scan_metrics"),
    ):
        tracer.wrap(owner, attr, name)

    def phases(args, _out):
        tracer.phases.append((time.perf_counter(), plan_phases_ms(args[0])))

    tracer.wrap(type(spark.range(0)), "collect", "collect", after=phases)
