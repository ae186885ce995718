"""pipeline_batch: closed loop, one client, full passes over the
training-data pipeline queries on a quiesced store, each pass ending
with a few requests on the REST read path (``dashboard.py``) over the
same store.

Set-up writes the seeded tables and creates the app over them; a
warm-up pass takes the JIT cost and records each result, while the IVF
store that ``ann_ivf_topk_rerank`` reads (its first-call cost) builds
beside it.
The measured window runs whole passes: at least one, and another only
while it should end within ``seconds``.
Each timed result must equal the warm-up result; after the window the
oracle-backed queries are compared with DuckDB over the same files and
each REST payload with its direct computation.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import threading
import time

import data
from dashboard import REQUESTS, RestClient
from metrics import PIPELINE_QUERIES
from spans import group_counters, max_stage_id, window_counters
from stats import median_or

# A tenth of the engine's sf0.1 test data. Measured on a 4-core host
# against sf0.1 itself: at scales 0.005-0.05 the queries run the same
# jobs, stages and tasks (but corpus_prep_pipeline_lsh: 31 vs 34 jobs)
# with shuffle bytes in proportion to the scale; a pass takes 12-25 s
# instead of 30-35 s, which keeps a run near 60-90 s (48 runs of the two
# workloads must fit in 57 min).
SCALE = 0.01


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.12g}")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def normalize(rows, cols) -> list[tuple]:
    """Columns in name order, cells made comparable, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def digest(rows, cols) -> str:
    return hashlib.sha256(repr(normalize(rows, cols)).encode()).hexdigest()


class Workload:
    def __init__(self, ctx):
        from clickhouse_realtime_analytics_demo_spark.queries import all_queries

        self.ctx = ctx
        self.sf = os.path.join(ctx.work, "sf")
        self.queries = {n: all_queries()[n] for n in PIPELINE_QUERIES}
        self.reference: dict[str, tuple[list, list, str]] = {}
        self.timed: list[dict] = []  # one record per executed query
        self.cores = ctx.sc.defaultParallelism
        self.rest = RestClient(ctx, self.sf)
        self.oracle_rows: dict[str, tuple[list, list]] = {}
        self._oracle_thread = None

    def _store_path(self):
        from clickhouse_realtime_analytics_demo_spark.sources import quantized

        return quantized.ivf_store_path(self.sf)

    def prepare(self, i: int) -> None:
        shutil.rmtree(self.sf, ignore_errors=True)
        data.write(self.sf, self.ctx.seed, SCALE)
        self.rest.create_app()

    def _run(self, name: str, op_id: str) -> tuple[list, list, float, float]:
        ctx, tr = self.ctx, self.ctx.tracer
        with tr.op(ctx.sc, op_id):
            tr.set_group(ctx.sc, f"{op_id}:build")
            t0 = time.perf_counter()
            with tr.span("registry.fn"):
                df = self.queries[name].fn(ctx.spark, self.sf)
            t1 = time.perf_counter()
            tr.set_group(ctx.sc, f"{op_id}:action")
            rows = df.collect()
            t2 = time.perf_counter()
        return rows, df.columns, t1 - t0, t2 - t1

    def _run_oracles(self) -> None:
        """DuckDB results of the oracle-backed queries over the same files
        (one DuckDB thread, run beside the warm-up)."""
        import duckdb

        from clickhouse_realtime_analytics_demo_spark.catalog import TABLES

        con = duckdb.connect()
        try:
            con.execute("SET threads = 1")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
            for name, q in self.queries.items():
                if q.oracle is not None:
                    res = con.sql(q.oracle)
                    self.oracle_rows[name] = (res.fetchall(), res.columns)
        finally:
            con.close()

    def warm(self) -> None:
        from clickhouse_realtime_analytics_demo_spark.sources import quantized

        self._oracle_thread = threading.Thread(target=self._run_oracles)
        self._oracle_thread.start()
        shutil.rmtree(self._store_path(), ignore_errors=True)
        # the IVF store builds beside the other queries' warm-up; its
        # query would build it on first call otherwise
        store = threading.Thread(target=quantized.ensure_ivf_store,
                                 args=(self.ctx.spark, self.sf))
        store.start()
        for name in PIPELINE_QUERIES:
            if name == "ann_ivf_topk_rerank":
                store.join()
            rows, cols, _, _ = self._run(name, f"warm:{name}")
            self.reference[name] = (rows, cols, digest(rows, cols))
        self._requests("warm")

    def measure(self, seconds: float) -> dict:
        ctx = self.ctx
        from clickhouse_realtime_analytics_demo_spark import session

        walks0 = session.stat_walks
        stage0 = max_stage_id(ctx.sc) if ctx.tracer.enabled else -1
        passes: list[float] = []
        t_start = time.perf_counter()
        ctx.tracer.window = (t_start, float("inf"))
        # whole passes: at least one, and another only while it should end
        # inside the window
        while not passes or time.perf_counter() - t_start + passes[-1] <= seconds:
            p0 = time.perf_counter()
            for name in PIPELINE_QUERIES:
                op_id = f"p{len(passes)}:{name}"
                try:
                    rows, cols, b, a = self._run(name, op_id)
                except Exception as exc:  # noqa: BLE001 - a failed query is counted
                    ctx.ops.record(False, f"{name}: {type(exc).__name__}: {exc}"[:300],
                                   wrong=False)
                    continue
                ok = digest(rows, cols) == self.reference[name][2]
                ctx.ops.record(ok, f"{name}: result differs from the warm-up pass")
                self.timed.append({"name": name, "op": op_id, "build": b, "action": a})
            self._requests(f"p{len(passes)}")
            passes.append(time.perf_counter() - p0)
        window = time.perf_counter() - t_start
        ctx.tracer.window = (t_start, t_start + window)
        ctx.info["batch_wall_s"] = {"median": median_or(passes), "n": len(passes),
                                    "passes": passes}
        n_ops = len(self.timed) + len(passes) * len(REQUESTS)
        ctx.info["ops_s"] = n_ops / window
        ctx.layer["session.stat_walks"] = float(session.stat_walks - walks0)
        if ctx.tracer.enabled:
            self._harvest(stage0)
        return {"latency_p50_s": median_or(passes), "throughput_ops_s": n_ops / window}

    def _requests(self, tag: str) -> None:
        for k, req in enumerate(REQUESTS):
            self.rest.request(req, f"rest{tag}:{k}")

    def _harvest(self, stage0: int) -> None:
        ctx, layer = self.ctx, self.ctx.layer
        layer.update(window_counters(ctx.sc, stage0))
        per: dict[str, dict[str, list[float]]] = {}
        for rec in self.timed:
            b = group_counters(ctx.sc, f"{rec['op']}:build")
            a = group_counters(ctx.sc, f"{rec['op']}:action")
            wall_ms = (rec["build"] + rec["action"]) * 1000.0
            d = per.setdefault(rec["name"], {})
            for key, v in (
                ("query.build_s", rec["build"]),
                ("query.action_s", rec["action"]),
                ("query.eager_jobs", b["jobs"]),
                ("sched.jobs", b["jobs"] + a["jobs"]),
                ("sched.stages", b["stages"] + a["stages"]),
                ("sched.tasks", b["tasks"] + a["tasks"]),
                ("exec.busy_ratio", (b["run_ms"] + a["run_ms"]) / (wall_ms * self.cores)),
                ("exec.shuffle_write_bytes", b["shuffle_write_bytes"] + a["shuffle_write_bytes"]),
            ):
                d.setdefault(key, []).append(v)
        for name, d in per.items():
            for key, vs in d.items():
                layer[f"{key}.{name}"] = median_or(vs)
        lo, hi = ctx.tracer.window
        rest = {r: [d for t, d in xs if lo <= t <= hi] for r, xs in self.rest.latency.items()}
        tr = ctx.tracer
        layer.update({
            "rest.request_p50_s": median_or([x for xs in rest.values() for x in xs]),
            "rest.sql_p50_s": median_or([x for r, xs in rest.items() if r[0] == "sql"
                                         for x in xs]),
            "rest.overhead_p50_ms": median_or(self.rest.overhead_ms(tr.in_window())),
            "query_log.scan_metrics_p50_ms": median_or(
                tr.durations("query_log.scan_metrics")) * 1000.0,
            "dialect.rewrite_p50_ms": median_or(tr.durations("dialect.rewrite")) * 1000.0,
            "gateway.plan_p50_ms": median_or(tr.durations("gateway.execute")) * 1000.0,
        })

    def check(self) -> None:
        """Every query returned rows; oracle-backed queries equal DuckDB
        over the same files; REST payloads equal their direct queries."""
        self._oracle_thread.join()
        for name, (rows, cols, _) in self.reference.items():
            self.ctx.ops.record(len(rows) > 0, f"{name}: empty result")
            if self.queries[name].oracle is None:
                continue
            want, want_cols = self.oracle_rows.get(name, ([], []))
            same = sorted(want_cols) == sorted(cols) and normalize(
                want, want_cols) == normalize(rows, cols)
            self.ctx.ops.record(same, f"{name}: differs from the DuckDB oracle")
        self.rest.check()

    def close(self) -> None:
        if self._oracle_thread is not None:
            self._oracle_thread.join()
        self.rest.restore()
        shutil.rmtree(self._store_path(), ignore_errors=True)
