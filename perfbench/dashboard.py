"""The REST read path: one in-process Flask ``test_client`` (no socket)
over dashboard routes and ClickHouse-dialect SQL sent through
``/api/query/execute``, on the seeded store.

The first call of every request records its payload; every later call
must answer 200 with that same payload, and :meth:`RestClient.check`
compares each recorded payload with the same registry query (or SQL)
run directly and shaped the way the route shapes it.
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor

# ClickHouse-dialect SQL of the kind the engine's chat templates and
# dialect tests send, over the tables data.py writes
SQL = (
    "SELECT toDate(ts) AS d, count() AS events, uniq(user_id) AS users "
    "FROM events GROUP BY d ORDER BY d",
    "SELECT n.n_name AS nation, sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue "
    "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "GROUP BY nation ORDER BY revenue DESC LIMIT 10",
)

# route -> (registry query, payload shape), as app/rest.py serves them;
# None: the parameterized search filter on ``part``
ROUTES = {
    "/api/top-countries": ("nation_revenue", lambda rows: [
        {"country": r["nation"], "region": r["region"], "order_count": r["orders"],
         "total_spent": r["revenue"]} for r in rows[:10]]),
    "/api/search?q=widget&limit=50": (None, None),
}

# a registry-backed route (query log + scan metrics), the search filter
# and the dialect -> gateway path
REQUESTS = [("route", r) for r in ROUTES] + [("sql", i) for i in range(len(SQL))]


def _sql_payload(body: dict) -> dict:
    """The deterministic part of a query response (no timing, row order
    only where the SQL fixes it)."""
    rows = sorted(json.dumps(r, sort_keys=True) for r in body.get("rows", []))
    return {"columns": body.get("columns"), "rows": rows, "row_count": body.get("row_count")}


class RestClient:
    def __init__(self, ctx, sf_dir: str):
        self.ctx = ctx
        self.sf = sf_dir
        self.reference: dict = {}  # request -> first payload
        self.latency: dict = {}  # request -> [(start, s)]
        self._registry_saved = None
        if ctx.tracer.enabled:
            self._trace_registry()

    def _trace_registry(self) -> None:
        """Registry query fns inside ``registry.fn`` spans (the app binds
        the registry when it is created, so this runs first)."""
        import dataclasses

        from clickhouse_realtime_analytics_demo_spark.queries import all_queries, registry

        all_queries()
        self._registry_saved = dict(registry._REGISTRY)
        for n, q in self._registry_saved.items():
            registry._REGISTRY[n] = dataclasses.replace(
                q, fn=self.ctx.tracer.wrapped(q.fn, "registry.fn"))

    def restore(self) -> None:
        if self._registry_saved is not None:
            from clickhouse_realtime_analytics_demo_spark.queries import registry

            registry._REGISTRY.update(self._registry_saved)
            self._registry_saved = None

    def create_app(self) -> None:
        """A fresh app over the store: catalog registration, query log."""
        from clickhouse_realtime_analytics_demo_spark.app.rest import create_app
        from clickhouse_realtime_analytics_demo_spark.ops.query_log import QueryLog

        self.app = create_app(self.ctx.spark, self.sf, QueryLog())
        self.client = self.app.test_client()

    def _send(self, req) -> tuple[int, object]:
        kind, key = req
        if kind == "route":
            resp = self.client.get(key)
            return resp.status_code, resp.get_json()
        resp = self.client.post("/api/query/execute", json={"query": SQL[key]})
        return resp.status_code, _sql_payload(resp.get_json() or {})

    def request(self, req, op_id: str) -> None:
        """Send one request, check it against the first payload, count it."""
        ctx = self.ctx
        with ctx.tracer.op(ctx.sc, op_id):
            t0 = time.perf_counter()
            status, payload = self._send(req)
            dt = time.perf_counter() - t0
        first = self.reference.setdefault(req, payload)
        ctx.ops.record(status == 200 and payload == first,
                       f"{req}: HTTP {status} or payload changed")
        self.latency.setdefault(req, []).append((t0, dt))

    def _direct(self, req):
        """The payload a request should carry, computed without the app."""
        from pyspark.sql import functions as F

        from clickhouse_realtime_analytics_demo_spark import catalog
        from clickhouse_realtime_analytics_demo_spark.app.rest import _rows
        from clickhouse_realtime_analytics_demo_spark.plans import dialect
        from clickhouse_realtime_analytics_demo_spark.queries import all_queries

        spark = self.ctx.spark
        kind, key = req
        if kind == "sql":
            rows = _rows(spark.sql(dialect.rewrite(SQL[key])).limit(1000))
            want = _sql_payload(json.loads(self.app.json.dumps(
                {"columns": list(rows[0]) if rows else None, "rows": rows,
                 "row_count": len(rows)})))
        else:
            name, shape = ROUTES[key]
            if name is None:
                want = _rows(catalog.table(spark, self.sf, "part")
                             .filter(F.col("p_name").ilike("%widget%"))
                             .select("p_partkey", "p_name", "p_brand", "p_retailprice")
                             .orderBy("p_partkey").limit(50))
            else:
                want = shape(_rows(all_queries()[name].fn(spark, self.sf)))
            want = json.loads(self.app.json.dumps(want))
        return want

    def check(self) -> None:
        """Every recorded payload equals its direct computation and is
        not empty."""
        with ThreadPoolExecutor(4) as pool:
            results = dict(zip(self.reference, pool.map(self._direct, self.reference)))
        for req, want in results.items():
            ok = bool(want["rows"] if req[0] == "sql" else want) and self.reference[req] == want
            self.ctx.ops.record(ok, f"{req}: payload differs from the direct query")

    def overhead_ms(self, spans: list[dict]) -> list[float]:
        """Per route request: time outside the registry query build and
        its collects, i.e. the cost of the REST layer itself."""
        ops = {s["op"]: s for s in spans if s["name"] == "op" and s["op"].startswith("rest")}
        inner: dict[str, float] = {}
        for s in spans:
            top = ops.get(s["op"])
            if top is not None and s["parent"] == top["id"] and s["name"] in (
                    "registry.fn", "collect"):
                inner[s["op"]] = inner.get(s["op"], 0.0) + s["end"] - s["start"]
        return [(ops[o]["end"] - ops[o]["start"] - inner[o]) * 1000.0 for o in inner]
