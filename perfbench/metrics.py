"""What the benchmark measures, beside ``BENCHMARK.json``.

``BENCHMARK.json`` is the one list of metric names, units, directions
and bounds; ``run.py`` reads it. This module holds what that file has
no field for: the pipeline query set, the span names, and which
end-to-end figure each per-layer metric should move (``MOVES``).

End-to-end metrics, per workload:

- ``latency_p50_s``: live_mixed, freshness p50 (a tick's due time to the
  first MV sample covering it); pipeline_batch, median wall of one pass.
- ``throughput_ops_s``: live_mixed, achieved ingest rows/s (120
  offered); pipeline_batch, queries and requests completed per second.
- ``setup_s``: session start + JIT warm-up + median of 3 repeatable
  set-ups, all outside the measured window.
"""

from __future__ import annotations

PIPELINE_QUERIES = (
    "corpus_prep_pipeline_lsh",
    "dedup_minhash",
    "dedup_cluster_resolution",
    "contamination_check",
    "doc_bpe_train_batched",
    "doc_tfidf_topk",
    "doc_token_heavy_hitters",
    "ann_ivf_topk_rerank",
    "events_asof_order",
)

SPAN_NAMES = (
    "op", "writer.write_table", "mv.read_final", "mv.compact", "tail.poll",
    "dialect.rewrite", "gateway.execute", "query_log.scan_metrics",
    "registry.fn", "collect",
)

_FRESH = "latency_p50_s (freshness) on live_mixed"
_LIVE = "latency_p50_s and throughput_ops_s on live_mixed"
_READS = "dashboard.poll_p50_s on live_mixed; compaction trades it against freshness.p90_s"
_REST = "latency_p50_s and throughput_ops_s on pipeline_batch (the REST requests of each pass)"
_PIPE = "latency_p50_s and throughput_ops_s on pipeline_batch; freshness on live_mixed via shared cores"

# per-layer metric name, or the prefix before a query name -> the
# end-to-end figure it should move
MOVES = {
    "session.start_s": "setup_s on every workload",
    "session.warmup_s": "setup_s on every workload",
    "mem.peak_rss_mb": "setup_s and run cost on every workload",
    "session.stat_walks": _PIPE,
    "exec.run_ms": _PIPE,
    "exec.cpu_ms": _PIPE,
    "exec.shuffle_read_bytes": _PIPE,
    "exec.spill_bytes": _PIPE,
    "exec.input_bytes": _PIPE,
    "sched.stages": _PIPE,
    "sched.tasks": _PIPE,
    "trace.overhead_ms": "nothing: the tracing cost inside the traced run",
    "self_s": "the end-to-end figures of the workload that runs the layer",
    "freshness.p90_s": "the freshness tail on live_mixed",
    "dashboard.poll_p50_s": "the dashboard client's read latency on live_mixed",
    "mv.trigger_p50_ms": _FRESH,
    "mv.trigger_p90_ms": _FRESH,
    "mv.source_list_p50_ms": _FRESH,
    "mv.add_batch_p50_ms": _FRESH,
    "mv.query_planning_p50_ms": _FRESH,
    "mv.wal_commit_p50_ms": _FRESH,
    "mv.batches": _FRESH,
    "mv.rows_per_batch": _FRESH,
    "mv.empty_trigger_ratio": _FRESH,
    "mv.backlog_rows_end": _FRESH,
    "mv.parts_end": _READS,
    "mv.read_final_p50_s": _READS,
    "mv.compact_runs": _READS,
    "mv.compact_s": _READS,
    "tail.poll_p50_s": _READS,
    "refresh.runs": _READS,
    "refresh.run_p50_s": _READS,
    "ingest.tick_p50_s": _LIVE,
    "ingest.tick_p90_s": _LIVE,
    "ingest.overruns": _LIVE,
    "ingest.lateness_max_s": _LIVE,
    "writer.write_table_p50_s": _LIVE,
    "writer.files_written": _LIVE,
    "rest.request_p50_s": _REST,
    "rest.sql_p50_s": _REST,
    "rest.overhead_p50_ms": _REST,
    "query_log.scan_metrics_p50_ms": _REST,
    "dialect.rewrite_p50_ms": _REST,
    "gateway.plan_p50_ms": _REST,
    "plan.analysis_ms": _REST,
    "plan.optimization_ms": _REST,
    "plan.planning_ms": _REST,
    # per pipeline query: <prefix>.<query>
    "query.build_s": _PIPE,
    "query.action_s": _PIPE,
    "query.eager_jobs": _PIPE,
    "sched.jobs": _PIPE,
    "exec.busy_ratio": _PIPE,
    "exec.shuffle_write_bytes": _PIPE,
}


def moves(name: str) -> str | None:
    """The end-to-end figure a per-layer metric should move, or None
    when ``MOVES`` does not name it."""
    if name in MOVES:
        return MOVES[name]
    head, _, query = name.rpartition(".")
    if query in PIPELINE_QUERIES:
        return MOVES.get(head)
    head, _, span = name.partition(".")
    if head == "self_s" and span in SPAN_NAMES:
        return MOVES[head]
    return None
