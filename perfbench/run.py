#!/usr/bin/env python3
"""The engine's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {live_mixed,pipeline_batch}
                             --seed N --seconds S --trace {0,1}

Run it from the repository root. It generates its inputs from ``--seed``
under ``.perfbench_work/`` (removed at exit), starts one local Spark
session through the engine's ``session.get_spark`` on every core it may
use, sets the workload up, measures for ``--seconds`` seconds, checks
the outputs, and stops every process it started. Comment lines (``#``)
report the host, every end-to-end figure with its sample count, the
layer figures that need no tracing, and the set-up breakdown. The last line is one JSON object:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` spans are recorded around the engine's layer entry points
(written to ``.perfbench_out/``) and the metrics are the per-layer
ones. Exit code 0 means every output was correct, 1 means some output
was wrong, 2 means the run itself failed.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(1, ROOT)

from stats import Ops, median_or  # noqa: E402
from spans import PLAN_PHASES, Tracer, install_layer_spans  # noqa: E402

MODULES = {"live_mixed": "w_live", "pipeline_batch": "w_pipeline"}
PREPARE_REPEATS = 3


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric names with their units, as
    ``BENCHMARK.json`` lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    return ({m["name"]: m["unit"] for m in doc["end_to_end"]},
            {m["name"]: m["unit"] for m in doc["per_layer"]})


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_snapshot() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"loadavg": load, "cpu": _cpu_times()}


def steal_pct(before: dict, after: dict) -> float:
    d = [b - a for a, b in zip(before["cpu"], after["cpu"])]
    total = sum(d[:8]) or 1
    return 100.0 * (d[7] if len(d) > 7 else 0) / total


def vm_hwm_mb(pid: int | str = "self") -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


class Context:
    """What a workload gets: the session, its work dir, seed and tracer,
    and the places it reports into."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer: Tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.ops = Ops()
        self.layer: dict[str, float] = {}  # per-layer metrics
        self.info: dict[str, object] = {}  # extra end-to-end figures, printed as comments


def start_session(work: str):
    from clickhouse_realtime_analytics_demo_spark.session import get_spark

    n = cpus()
    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        cpus=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and any Python workers it forked, and
    wait until each has exited."""
    sc = spark.sparkContext
    gw = sc._gateway
    proc = getattr(gw, "proc", None)
    kids = _children(proc.pid) if proc is not None else []
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - a gateway broken mid-call; the JVM is stopped below
        traceback.print_exc()
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - already closed
        pass
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - hung JVM
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for k in kids:
        while os.path.exists(f"/proc/{k}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{k}"):
            try:
                os.kill(k, signal.SIGKILL)
            except OSError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    end_to_end, per_layer = metric_units()

    t_main = time.perf_counter()
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark's scratch dirs (this variable takes precedence over spark.local.dir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    host0 = host_snapshot()

    mod = importlib.import_module(MODULES[args.workload])
    tracer = Tracer(bool(args.trace))
    spark = None
    wl = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        start_s = time.perf_counter() - t0
        ctx = Context(spark, work, args.seed, args.seconds, tracer)
        spark_cores = spark.sparkContext.defaultParallelism
        if tracer.enabled:
            install_layer_spans(tracer, spark)
        wl = mod.Workload(ctx)

        prep = []
        for i in range(PREPARE_REPEATS):
            t = time.perf_counter()
            wl.prepare(i)
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        setup_s = start_s + warm_s + statistics.median(prep)

        t = time.perf_counter()
        e2e = wl.measure(args.seconds)
        measure_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t
        layer = ctx.layer
        layer["session.start_s"] = start_s
        layer["session.warmup_s"] = warm_s
        peak = vm_hwm_mb("self")
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            peak += vm_hwm_mb(proc.pid)
        layer["mem.peak_rss_mb"] = peak
        ctx.info["peak_rss_mb"] = peak
        e2e["setup_s"] = setup_s
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        if wl is not None:
            try:
                wl.close()
            except Exception:  # noqa: BLE001 - report, keep stopping
                traceback.print_exc()
        tracer.unwrap_all()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    if tracer.enabled:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.jsonl"))
        layer["trace.overhead_ms"] = tracer.overhead_s * 1000.0
        for name, v in tracer.self_time_by_name().items():
            layer[f"self_s.{name}"] = v
        for phase in PLAN_PHASES:
            layer[f"plan.{phase}_ms"] = median_or(tracer.phase_ms(phase))

    host1 = host_snapshot()
    host = {
        "nproc": os.cpu_count(),
        "cpus_allowed": cpus(),
        "spark_cores": spark_cores,
        "loadavg_before": host0["loadavg"],
        "loadavg_after": host1["loadavg"],
        "steal_pct": round(steal_pct(host0, host1), 3),
    }
    print("# host " + json.dumps(host))
    print("# end_to_end " + json.dumps({k: e2e[k] for k in end_to_end}
                                        | {"failed_ratio": ctx.ops.failed_ratio}))
    print("# detail " + json.dumps(ctx.info, default=str))
    if not tracer.enabled:  # the layer figures that need no tracing
        print("# layer " + json.dumps({k: v for k, v in layer.items() if v}))
    print("# phases " + json.dumps({"session_start_s": start_s, "prepare_s": prep,
                                     "warmup_s": warm_s, "measure_s": measure_s,
                                     "check_s": check_s,
                                     "total_s": time.perf_counter() - t_main}))
    if ctx.ops.reasons:
        print("# failures " + json.dumps(ctx.ops.reasons))
    if tracer.enabled:
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                   for n, u in per_layer.items()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in end_to_end.items()}
    correct = ctx.ops.wrong == 0
    print(json.dumps({"correct": correct, "attempted": ctx.ops.attempted,
                      "failed": ctx.ops.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
