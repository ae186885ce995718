"""The benchmark's own helpers: percentile rule, open-loop lateness,
freshness, span self time, operation counting, and ``BENCHMARK.json``
against the benchmark contract and the layer map. Run with
``python3 -m pytest perfbench/tests -q``."""

import json
import os
import re

import pytest

from metrics import moves
from run import MODULES
from stats import (Ops, beyond, freshness, lateness, percentile, self_times, summary, tail,
                   ticks_due)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 95) == 95
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    assert beyond(200, 95) == 10
    assert tail(list(range(200))) == (95.0, 189)  # p99 has only 2 beyond
    assert tail(list(range(100))) == (90.0, 89)
    assert tail(list(range(40))) == (75.0, 29)
    assert tail(list(range(39))) is None  # p75 leaves 9 beyond
    s = summary([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0}


def test_lateness_is_measured_from_due_time():
    # ticks due at 10, 11, 12, 13; the third starts 0.5 s late, the
    # fourth early (never negative)
    assert lateness(10.0, 1.0, [10.0, 11.2, 12.5, 12.9]) == pytest.approx([0.0, 0.2, 0.5, 0.0])


def test_ticks_due_counts_every_tick_due_inside_the_window():
    # a 20 s window opening on a due time holds the ticks at +0, +1.5,
    # ..., +19.5 s: 14 of them, not round(20 / 1.5) = 13
    assert ticks_due(20.0, 1.5) == 14
    assert ticks_due(15.0, 1.5) == 10  # the tick due at +15 s is outside
    assert ticks_due(4.5, 1.5) == 3
    assert ticks_due(0.5, 1.5) == 1


def test_freshness_first_covering_sample_and_uncovered():
    due = [0.0, 1.0, 2.0]
    cum = [100, 200, 300]
    samples = [(0.5, 50), (1.5, 100), (2.5, 200), (3.5, 200)]
    assert freshness(due, cum, samples) == pytest.approx([1.5, 1.5, None])
    # a sample taken before the tick was due never covers it
    assert freshness([5.0], [10], [(4.0, 10), (6.0, 10)]) == [1.0]


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
        {"id": 4, "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 5, "parent": 1, "start": 9.0, "end": 12.0},  # clipped to the parent
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_failed_ratio_counts_every_attempt():
    ops = Ops()
    assert ops.failed_ratio == 0.0
    for ok in (True, True, False, True):
        ops.record(ok, "wrong output")
    ops.record(False, "raised", wrong=False)
    assert (ops.attempted, ops.failed, ops.wrong) == (5, 2, 1)
    assert ops.failed_ratio == 0.4
    assert ops.reasons == ["wrong output", "raised"]


def test_benchmark_json_keeps_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert set(doc) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                        "per_layer"}
    assert {w["name"] for w in doc["workloads"]} == set(MODULES)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in doc["workloads"])
    e2e = {m["name"]: m for m in doc["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert max(m["bound"] for m in e2e.values()) == e2e["setup_s"]["bound"] <= 0.25
    assert 1 <= len(doc["per_layer"]) <= 128
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    assert len(names) == len(set(names))
    for m in doc["end_to_end"] + doc["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"])
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
        assert m["better"] in ("lower", "higher")


def test_every_layer_metric_has_an_end_to_end_target():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [m["name"] for m in doc["per_layer"] if moves(m["name"]) is None] == []


def test_inputs_follow_the_seed():
    from data import tables

    a, b, c = tables(7, 0.001), tables(7, 0.001), tables(8, 0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(c["documents"])
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert sum(t.endswith(" dup") for t in a["documents"].column("text").to_pylist()) >= 1


def test_tracer_keeps_every_span_across_threads():
    import sys
    import threading

    from spans import Tracer

    tr = Tracer(True)

    def work():
        for _ in range(300):
            with tr.span("outer"):
                with tr.span("inner"):
                    pass

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(tr.spans) == 8 * 300 * 2
    by_id = {s["id"]: s for s in tr.spans}
    for s in tr.spans:
        if s["name"] == "inner":  # the parent is the same thread's enclosing span
            parent = by_id[s["parent"]]
            assert parent["name"] == "outer"
            assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]
        else:
            assert s["parent"] is None
    assert tr.overhead_s > 0
