"""Metric names and units: the single list ``BENCHMARK.json`` mirrors.

End-to-end metrics come from untraced runs; per-layer metrics from the
traced run. Every per-layer metric is printed for every workload: a
layer a workload bypasses reports zero calls, which is how the bypass
shows.
"""

from __future__ import annotations

#: (name, unit, better)
END_TO_END = [
    ("throughput_per_s", "1/s", "higher"),
    ("latency_p50_s", "s", "lower"),
    ("latency_tail_s", "s", "lower"),
    ("cpu_s_per_unit", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("setup_s", "s", "lower"),
]

#: Public calls into the package, one ``<layer>.<call>`` prefix each.
CALLS = [
    "registry.run_once",
    "normalize.silver_drain",
    "gold.refresh",
    "storage.append",
    "storage.read_point",
    "storage.range_read",
    "dedup.exact.index_batch",
    "dedup.neardup.index_batch",
    "dedup.bloom.probe",
    "dedup.bloom.add_batch",
    "textindex.add_batch",
    "textindex.topk",
    "similarity.build",
    "similarity.topk",
    "operators.q9_product_profit",
    "operators.q21_waiting_suppliers",
    "operators.agg_distinct_stats",
    "operators.events_sessionize",
    "operators.graph_khop_reach",
]

CALL_FIELDS = [
    ("calls", "count"),
    ("busy_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("failed", "count"),
]

LAYER_EXTRAS = [
    ("registry.schema_versions", "count"),
    ("normalize.files_in", "count"),
    ("normalize.rows_in", "count"),
    ("normalize.rows_out", "count"),
    ("normalize.corrupt_rows", "count"),
    ("normalize.useful_ratio", "ratio"),
    ("normalize.progress.addBatch_ms", "ms"),
    ("normalize.progress.overhead_ms", "ms"),
    ("silver.files_written", "count"),
    ("silver.bytes_written", "bytes"),
    ("gold.rows_scanned", "count"),
    ("gold.rows_new", "count"),
    ("gold.delta_ratio", "ratio"),
    ("gold.refresh_growth", "ratio"),
    ("storage.commits_per_unit", "count"),
    ("storage.files_written_per_unit", "count"),
    ("storage.bytes_written_per_unit", "bytes"),
    ("storage.manifest_bytes", "bytes"),
    ("dedup.bloom.pass_ratio", "ratio"),
    ("dedup.bloom.precision", "ratio"),
    ("dedup.admit_ratio", "ratio"),
    ("dedup.neardup_recall", "ratio"),
    ("similarity.recall_at_k", "ratio"),
    ("spark.jobs_per_unit", "count"),
    ("spark.tasks_per_unit", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.cached_rdds_growth", "count"),
    ("error_rate", "ratio"),
    ("tracing.overhead_s_per_unit", "s"),
    ("tracing.latency_p50_s", "s"),
]


def per_layer() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in print order."""
    out = [("session.start_s", "s")]
    for call in CALLS:
        out += [(f"{call}.{f}", u) for f, u in CALL_FIELDS]
    return out + LAYER_EXTRAS
