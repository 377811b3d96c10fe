"""The benchmark's metric catalogue: names, units and direction.

`BENCHMARK.json` at the repository root carries the same lists (plus the
regression bounds); `tests/test_spec.py` keeps the two in step.
"""

WORKLOADS = ["stream", "query_mix"]

# (name, unit, better). Every workload reports every one of these.
END_TO_END = [
    ("latency_p50_ms", "ms", "lower"),
    ("latency_p90_ms", "ms", "lower"),
    ("freshness_p50_ms", "ms", "lower"),
    ("freshness_p90_ms", "ms", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("peak_rss_mb", "MiB", "lower"),
    ("setup_s", "s", "lower"),
]

_SPARK = [("jobs", "count", "lower"), ("stages", "count", "lower"),
          ("tasks", "count", "lower"), ("executor_run_ms", "ms", "lower"),
          ("executor_cpu_ms", "ms", "lower"), ("deserialize_ms", "ms", "lower"),
          ("gc_ms", "ms", "lower"), ("shuffle_write_bytes", "bytes", "lower"),
          ("shuffle_read_bytes", "bytes", "lower"), ("input_bytes", "bytes", "lower")]
_CATALYST = [("catalyst.analysis_ms", "ms", "lower"),
             ("catalyst.optimization_ms", "ms", "lower"),
             ("catalyst.planning_ms", "ms", "lower"),
             ("scan.files_read", "count", "lower"),
             ("scan.bytes_read", "bytes", "lower")]

_BATCH = [("trigger_ms_p50", "ms", "lower"), ("add_batch_ms_p50", "ms", "lower"),
          ("epoch_overhead_ms_p50", "ms", "lower"), ("epoch_overhead_share", "ratio", "lower"),
          ("latest_offset_ms_p50", "ms", "lower"), ("query_planning_ms_p50", "ms", "lower"),
          ("wal_commit_ms_p50", "ms", "lower"), ("batches", "count", "lower"),
          ("rows_per_batch_p50", "count", "higher")]

# Stream layers. `pipelines.*` are steady-window micro-batches,
# `pipelines.catchup.*` the backlog drain; spark.* is per micro-batch.
_STREAM = [("pipelines." + n, u, b) for n, u, b in _BATCH] + [
    ("pipelines.catchup." + n, u, b) for n, u, b in _BATCH] + [
    ("pipelines.backlog_max_events", "count", "lower"),
    ("pipelines.gen_late_ms", "ms", "lower"),
    ("pipelines.steady_events_per_s", "1/s", "higher"),
    ("pipelines.window_events", "count", "higher"),
    ("state.rows_total", "count", "lower"),
    ("state.memory_bytes", "bytes", "lower"),
    ("state.rows_dropped_by_watermark", "count", "lower"),
    ("txtable.commits", "count", "lower"),
    ("txtable.files_per_commit", "count", "lower"),
    ("txtable.bytes_per_input_byte", "ratio", "lower"),
    ("txtable.manifest_bytes", "bytes", "lower"),
    ("gold.refresh_ms_p50", "ms", "lower"),
    ("gold.refreshes", "count", "higher"),
    ("driver.gap_ms_p50", "ms", "lower"),
] + [("spark." + n, u, b) for n, u, b in _SPARK] + _CATALYST

# Query-mix layers, per query execution, split by query family.
_MIX = []
for _fam in ("churn", "txtable"):
    _MIX += [(f"query_mix.{_fam}.{n}", u, b) for n, u, b in [
        ("query_ms_p50", "ms", "lower"),
        ("entry.build_ms_p50", "ms", "lower"),
        ("entry.stage_s", "s", "lower"),
        ("driver.gap_ms_p50", "ms", "lower")]
        + [("spark." + n, u, b) for n, u, b in _SPARK] + _CATALYST]

# End-to-end values of the traced run itself: traced minus untraced is the
# tracing overhead.
_TRACED = [("traced." + n, u, b) for n, u, b in END_TO_END if n != "peak_rss_mb"]

PER_LAYER = _STREAM + _MIX + _TRACED
