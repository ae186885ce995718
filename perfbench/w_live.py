"""live_mixed: writes beside reads, the reference's defining mode.

Open loop: ``IngestLoop`` writes the reference rate of 120 rows/s, as
150 events + 30 orders per 1.5 s tick, into a lake seeded with 20k
events / 4k orders. Beside it run the two
multiplexed MV maintenance streams with their Compactors, set to fold
inside the window (``mv.maintenance``: events -> 4 MVs, orders -> 1), a funnel
``RefreshScheduler``, one freshness sampler and one closed-loop
dashboard client. Each client round reads the live lake and MVs (a
``writer.read_table`` aggregate, an ``mv.read_final`` top-k and
``tail.poll``), then pauses 1 s.

Ingest runs without a break from the warm-up into the measured window,
so the window opens on a steady state. Ticks are timed from their due
time ``t0 + k * tick``. Freshness of a tick is the time from its due
time to the first sample whose MV total covers it; a tick no sample
covers after the drain is a failed operation. After the drain the
streams stop and every MV's ``read_final`` must equal
``batch_equivalent`` over the lake.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

from stats import freshness, lateness, median_or, percentile, summary, ticks_due

SEED_EVENTS = 20_000
SEED_ORDERS = 4_000
# The reference's 100 events + 20 orders per second, sent as 1.5 s
# ticks. Measured on a 4-core host in a fresh JVM: with 1 s ticks the
# per-tick write jobs fell behind (ticks of 1.0-1.3 s, the generator up
# to 4.7 s late), so the backlog grew through the window; with 2 s ticks
# the ticks kept phase with the 1 s MV trigger and the freshness median
# spread 0.27 of itself across seeds; 1.5 s sweeps the phase (0.07).
EVENTS_PER_TICK = 150
ORDERS_PER_TICK = 30
TICK_S = 1.5
TRIGGER_S = 1.0
SAMPLE_S = 0.35  # not a divisor of the tick, so sampling does not lock phase either
POLL_PAUSE_S = 1.0
REFRESH_S = 10.0
# The engine's Compactor defaults (fold above 128 parts, checked every
# 30 s) never fold inside a run: each MV gains one part per busy
# micro-batch, about 20 in a whole run. A fold above 8 parts, checked
# every 4 s, lands in most windows (0-3 folds over the 5 MVs per 20 s
# on a 4-core host) and keeps the part count near 8 per MV.
COMPACT_MAX_PARTS = 8
COMPACT_INTERVAL_S = 4.0
WARM_INGEST_S = 4.5
# The ingest loop may run this long past the window, so a generator that
# fell behind still sends every tick due in the window (each is timed
# from its due time); a tick still unsent then counts as failed.
SEND_GRACE_S = 5.0
DRAIN_TIMEOUT_S = 60.0
N_USERS = 1000


def _parquet_files(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _progress(q, lo: float, hi: float) -> list[dict]:
    """A stream's progress reports whose trigger started in [lo, hi] (epoch s)."""
    out = []
    for p in q.recentProgress:
        if not isinstance(p, dict):
            p = json.loads(p.json)
        ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        if lo <= (ts - datetime(1970, 1, 1)).total_seconds() <= hi:
            out.append(p)
    return out


class Workload:
    def __init__(self, ctx):
        from clickhouse_realtime_analytics_demo_spark.streaming import mv

        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.mv_dir = os.path.join(ctx.work, "mv")
        self.refresh_dir = os.path.join(ctx.work, "refresh")
        self.specs = mv.mv_specs()
        self.streams: list = []
        self.compactors: list = []
        self.refresher = None
        self.loop = None
        self.refresh_s: list[float] = []
        self.polls: dict[str, list[tuple[float, float]]] = {}  # name -> [(start, s)]
        self.rounds: list[tuple[float, float]] = []  # [(start, s)] of whole poll rounds
        self.samples: list[tuple[float, int]] = []  # (time, visible events)
        self.cursor = 0
        self._stop_bg = threading.Event()
        self._bg: list[threading.Thread] = []

    # ---- set-up ----
    def prepare(self, i: int) -> None:
        """A fresh lake with the seed history (20k events, 4k orders)."""
        from clickhouse_realtime_analytics_demo_spark.sources import generator, writer

        spark, seed = self.ctx.spark, self.ctx.seed
        self.lake = os.path.join(self.ctx.work, f"lake{i}")
        writer.write_table(
            generator.events(spark, n=SEED_EVENTS, n_users=N_USERS, seed=seed, partitions=4),
            self.lake, "events", mode="overwrite",
        )
        writer.write_table(
            generator.orders(spark, n=SEED_ORDERS, n_users=N_USERS, seed=seed, partitions=2),
            self.lake, "orders", mode="overwrite",
        )

    def _visible(self, name: str = "daily_user_activity", col: str = "total_events") -> int:
        """Rows an MV shows now: the sum of its partial counts over its
        live parts (equal to the re-aggregated total; parts a fold has
        replaced are left out). The part files are read with pyarrow, not
        Spark, so sampling every few hundred ms takes no executor time
        from the load it observes."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from clickhouse_realtime_analytics_demo_spark.streaming import parts

        total = 0
        for d in parts.live_part_dirs(f"{self.mv_dir}/{name}"):
            for f in d.glob("*.parquet"):
                total += pc.sum(pq.read_table(f, columns=[col]).column(col)).as_py() or 0
        return total

    def _wait_visible(self, events: int, orders: int, timeout: float) -> bool:
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            try:
                if (self._visible() >= events
                        and self._visible("mv_product_revenue", "order_count") >= orders):
                    return True
            except Exception:  # noqa: BLE001 - first micro-batch not written yet
                pass
            time.sleep(0.25)
        return False

    def _funnel(self, spark):
        from pyspark.sql import functions as F

        from clickhouse_realtime_analytics_demo_spark.operators import funnel
        from clickhouse_realtime_analytics_demo_spark.sources import writer

        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "maintenance")
        ev = writer.read_table(spark, self.lake, "events")
        t = F.col("event_type")
        per_user = funnel.window_funnel(
            ev, stages=[t == "page_view", t == "add_to_cart", t == "purchase"],
            window_us=3_600_000_000, time_col="event_timestamp",
        )
        return funnel.funnel_levels(per_user, 3)

    def warm(self) -> None:
        """Start the maintenance topology, take the first funnel snapshot,
        drain the seed history, start the background load and the ingest
        loop, and return after its warm-up ticks."""
        from clickhouse_realtime_analytics_demo_spark.streaming import mv
        from clickhouse_realtime_analytics_demo_spark.streaming.ingest import IngestLoop
        from clickhouse_realtime_analytics_demo_spark.streaming.refresh import RefreshScheduler

        spark, sc = self.ctx.spark, self.ctx.sc
        sc.setLocalProperty("spark.scheduler.pool", "maintenance")
        for source in ("events", "orders"):
            group = [s for s in self.specs.values() if s.source == source]
            q, comp = mv.maintenance(
                spark, f"{self.lake}/{source}/yyyymm=*", self.mv_dir, group,
                os.path.join(self.ctx.work, f"ckpt_{source}"),
                max_parts=COMPACT_MAX_PARTS, compact_interval_s=COMPACT_INTERVAL_S,
                trigger_seconds=TRIGGER_S, max_files_per_trigger=64,
            )
            self.streams.append(q)
            self.compactors.append(comp)
        sc.setLocalProperty("spark.scheduler.pool", None)

        self.refresher = RefreshScheduler(spark, tick_seconds=0.5)
        self.refresher.register("funnel_depth", self._funnel, interval_seconds=REFRESH_S,
                                path=f"{self.refresh_dir}/funnel_depth")
        timed = self.refresher.refresh_now

        def refresh_now(name):
            t = time.perf_counter()
            timed(name)
            self.refresh_s.append(time.perf_counter() - t)

        self.refresher.refresh_now = refresh_now
        self.refresher.refresh_now("funnel_depth")
        if not self._wait_visible(SEED_EVENTS, SEED_ORDERS, DRAIN_TIMEOUT_S):
            raise RuntimeError("MV streams did not drain the seed history")

        self.refresher.start()
        self._bg = [threading.Thread(target=self._sampler), threading.Thread(target=self._client)]
        for t in self._bg:
            t.start()
        self.loop = IngestLoop(spark, self.lake, events_per_tick=EVENTS_PER_TICK,
                               orders_per_tick=ORDERS_PER_TICK, tick_seconds=TICK_S,
                               n_users=N_USERS, scheduler_pool="ingest")
        self.t_ingest = time.perf_counter()
        self.loop.start(WARM_INGEST_S + self.ctx.seconds + SEND_GRACE_S)
        time.sleep(WARM_INGEST_S)

    # ---- background load ----
    def _polls(self) -> dict:
        from pyspark.sql import functions as F

        from clickhouse_realtime_analytics_demo_spark.sources import writer
        from clickhouse_realtime_analytics_demo_spark.streaming import mv, tail

        spark, lake, specs = self.ctx.spark, self.lake, self.specs

        def stats_by_type():
            return writer.read_table(spark, lake, "events").groupBy("event_type").agg(
                F.count("*").alias("events"),
                F.approx_count_distinct("user_id").alias("unique_users")).collect()

        def mv_daily_top():
            return (mv.read_final(spark, f"{self.mv_dir}/daily_user_activity",
                                  specs["daily_user_activity"])
                    .orderBy(F.desc("total_events"), "user_id", "event_date").limit(10).collect())

        def tail_poll():
            ev = writer.read_table(spark, lake, "events")
            rows = tail.poll(ev, self.cursor, limit=50).collect()
            self.cursor = max(r.event_id for r in rows) if rows else 0
            return rows

        return {
            "stats_by_type": stats_by_type,
            "mv_daily_top": mv_daily_top, "tail_poll": tail_poll,
        }

    def _client(self) -> None:
        ctx, stop = self.ctx, self._stop_bg
        ctx.sc.setLocalProperty("spark.scheduler.pool", "dashboard")
        polls = self._polls()
        names = list(polls)
        n = 0
        while not stop.is_set():
            self.rng.shuffle(names)
            r0 = time.perf_counter()
            for name in names:
                if stop.is_set():  # the window is over; do not hold up the drain
                    break
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.op(ctx.sc, f"poll{n}"):
                        polls[name]()
                    self.polls.setdefault(name, []).append((t0, time.perf_counter() - t0))
                except Exception as exc:  # noqa: BLE001 - a failed poll is counted
                    ctx.ops.record(False, f"{name}: {type(exc).__name__}: {exc}"[:300],
                                   wrong=False)
                n += 1
            else:
                self.rounds.append((r0, time.perf_counter() - r0))
            stop.wait(POLL_PAUSE_S)

    def _sampler(self) -> None:
        stop = self._stop_bg
        while not stop.is_set():
            try:
                self.samples.append((time.perf_counter(), self._visible()))
            except Exception:  # noqa: BLE001 - a part mid-compaction; sample again
                pass
            stop.wait(SAMPLE_S)

    # ---- measured window ----
    def measure(self, seconds: float) -> dict:
        from clickhouse_realtime_analytics_demo_spark import session
        from clickhouse_realtime_analytics_demo_spark.streaming import parts
        from spans import max_stage_id, window_counters

        ctx, tr = self.ctx, self.ctx.tracer
        k0 = round(WARM_INGEST_S / TICK_S)  # first tick of the window
        t0 = self.t_ingest + k0 * TICK_S
        t1 = t0 + seconds
        time.sleep(max(0.0, t0 - time.perf_counter()))
        stage0 = max_stage_id(ctx.sc) if tr.enabled else -1
        walks0 = session.stat_walks
        files0 = _parquet_files(self.lake)
        runs0 = self.refresher._jobs["funnel_depth"].runs
        refresh0 = len(self.refresh_s)
        compact0 = sum(sum(c.stats.values()) for c in self.compactors)
        wall0 = time.time()
        tr.window = (t0, t1)
        n_due = ticks_due(seconds, TICK_S)
        while len(self.loop.stats.tick_marks) < k0 + n_due and self.loop._thread.is_alive():
            time.sleep(0.05)
        self.loop.stop()
        stats = self.loop.stats
        wall1 = wall0 + seconds

        # open-loop accounting over the ticks due inside the window
        marks = stats.tick_marks
        starts = [m[0] - lat for m, lat in zip(marks, stats.tick_latencies)]
        ks = list(range(k0, min(len(marks), k0 + n_due)))
        if not ks:
            raise RuntimeError("the ingest loop wrote no tick inside the window")
        due = [self.t_ingest + k * TICK_S for k in ks]
        base_ev = SEED_EVENTS + (marks[k0 - 1][1] if k0 else 0)
        written_ev = SEED_EVENTS + marks[ks[-1]][1]
        seen = [v for t, v in self.samples if t <= t1]
        backlog = written_ev - (seen[-1] if seen else base_ev)
        parts_end = sum(len(parts.live_part_dirs(f"{self.mv_dir}/{n}")) for n in self.specs)
        compact_runs = sum(sum(c.stats.values()) for c in self.compactors) - compact0
        refresh_runs = self.refresher._jobs["funnel_depth"].runs - runs0
        refresh_s = self.refresh_s[refresh0:]

        drained = self._wait_visible(SEED_EVENTS + stats.events_rows,
                                     SEED_ORDERS + stats.orders_rows, DRAIN_TIMEOUT_S)
        time.sleep(2 * SAMPLE_S)
        self._stop_background()
        polls = {n: [d for t, d in xs if t0 <= t <= t1] for n, xs in self.polls.items()}

        # every tick due in the window is an operation: one never sent
        # fails, one never seen in the MVs after the drain is wrong
        per_tick = freshness(due, [SEED_EVENTS + marks[k][1] for k in ks], self.samples)
        lags = [x for x in per_tick if x is not None]
        uncovered = len(per_tick) - len(lags)
        for x in per_tick:
            ctx.ops.record(x is not None, f"a tick never became visible (drained={drained})")
        for _ in range(n_due - len(ks)):
            ctx.ops.record(False, "a tick due in the window was never sent", wrong=False)
        late = lateness(self.t_ingest, TICK_S, starts)[k0:k0 + len(ks)]
        # achieved write rate: the window's rows over the completion-to-
        # completion span of exactly len(ks) tick intervals
        span = marks[ks[-1]][0] - (marks[k0 - 1][0] if k0 else self.t_ingest)
        rows_s = len(ks) * (EVENTS_PER_TICK + ORDERS_PER_TICK) / span
        all_polls = [x for xs in polls.values() for x in xs]
        rounds = [d for t, d in self.rounds if t0 <= t <= t1]
        for _ in all_polls:
            ctx.ops.record(True)
        ctx.info.update({
            "freshness_s": summary(lags),
            "uncovered_ticks": uncovered,
            "ingest_rows_s": rows_s,
            "offered_rows_s": (EVENTS_PER_TICK + ORDERS_PER_TICK) / TICK_S,
            "dashboard_poll_s": summary(all_polls),
            "dashboard_round_s": summary(rounds),
            "poll_type_p50_s": {n: median_or(xs) for n, xs in polls.items()},
            "generator_lateness_max_s": max(late, default=0.0),
            "mv_backlog_rows_end": backlog,
            "window_ticks": len(ks),
        })

        lat_ticks = [stats.tick_latencies[k] for k in ks]
        layer = ctx.layer
        prog = [p for q in self.streams for p in _progress(q, wall0, wall1)]
        busy = [p for p in prog if p.get("numInputRows", 0) > 0]

        def dur(key):
            return [float(p["durationMs"].get(key, 0)) for p in busy]

        trig = dur("triggerExecution")
        layer.update({
            "freshness.p90_s": percentile(lags, 90) if lags else 0.0,
            "dashboard.poll_p50_s": median_or(all_polls),
            "mv.trigger_p50_ms": median_or(trig),
            "mv.trigger_p90_ms": percentile(trig, 90) if trig else 0.0,
            "mv.source_list_p50_ms": median_or(
                [a + b for a, b in zip(dur("latestOffset"), dur("getBatch"))]),
            "mv.add_batch_p50_ms": median_or(dur("addBatch")),
            "mv.query_planning_p50_ms": median_or(dur("queryPlanning")),
            "mv.wal_commit_p50_ms": median_or(dur("walCommit")),
            "mv.batches": float(len(busy)),
            "mv.rows_per_batch": median_or([float(p["numInputRows"]) for p in busy]),
            "mv.empty_trigger_ratio": (len(prog) - len(busy)) / len(prog) if prog else 0.0,
            "mv.backlog_rows_end": float(backlog),
            "mv.parts_end": float(parts_end),
            "mv.read_final_p50_s": median_or(
                polls.get("mv_daily_top", [])),
            "mv.compact_runs": float(compact_runs),
            "mv.compact_s": sum(tr.durations("mv.compact")),
            "tail.poll_p50_s": median_or(polls.get("tail_poll", [])),
            "refresh.runs": float(refresh_runs),
            "refresh.run_p50_s": median_or(refresh_s),
            "ingest.tick_p50_s": median_or(lat_ticks),
            "ingest.tick_p90_s": percentile(lat_ticks, 90),
            "ingest.overruns": float(sum(1 for x in lat_ticks if x >= TICK_S)),
            "ingest.lateness_max_s": max(late, default=0.0),
            "writer.write_table_p50_s": median_or(tr.durations("writer.write_table")),
            "writer.files_written": float(_parquet_files(self.lake) - files0),
            "session.stat_walks": float(session.stat_walks - walks0),
        })
        if tr.enabled:
            layer.update(window_counters(ctx.sc, stage0))
        return {"latency_p50_s": median_or(lags), "throughput_ops_s": rows_s}

    def check(self) -> None:
        """After the drain: every MV equals its batch equivalent over the
        lake, compared as (row count, sum of row hashes)."""
        from pyspark.sql import functions as F

        from clickhouse_realtime_analytics_demo_spark.sources import writer
        from clickhouse_realtime_analytics_demo_spark.streaming import mv

        def fingerprint(df, cols):
            h = F.xxhash64(*[F.col(c).cast("string") for c in cols]).cast("decimal(38,0)")
            return tuple(df.select(h.alias("h")).agg(F.count("*"), F.sum("h")).collect()[0])

        def same(item) -> bool:
            name, spec = item
            got = mv.read_final(spark, f"{self.mv_dir}/{name}", spec)
            want = mv.batch_equivalent(writer.read_table(spark, self.lake, spec.source), spec)
            return fingerprint(got, got.columns) == fingerprint(want, got.columns)

        self._stop_streams()
        spark = self.ctx.spark
        with ThreadPoolExecutor(len(self.specs)) as pool:
            for name, ok in zip(self.specs, pool.map(same, self.specs.items())):
                self.ctx.ops.record(ok, f"{name}: read_final differs from batch_equivalent")

    def _stop_background(self) -> None:
        self._stop_bg.set()
        for t in self._bg:
            t.join()
        self._bg = []
        if self.refresher is not None:
            self.refresher.stop()
        if self.loop is not None:
            self.loop.stop()

    def _stop_streams(self) -> None:
        for q in self.streams:
            q.stop()
        for c in self.compactors:
            c.stop()
        self.streams, self.compactors = [], []

    def close(self) -> None:
        self._stop_background()
        self._stop_streams()
