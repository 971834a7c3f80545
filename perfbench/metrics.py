"""Every metric the benchmark prints, with its unit. BENCHMARK.json at
the checkout root lists the workloads and metrics of the gated
benchmark (a test keeps them in step).

End-to-end metrics mean the same thing on every workload, measured on
that workload's unit of work (README.md, "Metrics"). Per-layer metrics
of a layer a workload does not run read 0 on that workload.
"""

# workload name == the module that runs it; BENCHMARK.json lists these
WORKLOADS = ("convert_bulk", "corpus_dedup")
# run by hand only, not in BENCHMARK.json (README.md, "Known defect")
HAND_WORKLOADS = ("stream_socket",)

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
}

RUNGS = ("lo", "hi", "quar")
SCHEMAS = ("battery", "trip")
CORPUS_QUERIES = ("dedup_minhash", "hll_distinct", "bpe_encode")

_EXEC = {
    "exec.jobs": "count",
    "exec.task_s": "s",
    "exec.shuffle_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_ms": "ms",
    "exec.task_skew": "ratio",
    "mem.peak_rss_mb": "MB",
    "session.launch_s": "s",
    "setup.warmup_s": "s",
}
_RUNG = {
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "batches": "count",
    "docs_per_batch_p50": "count",
    "batch_ms_p50": "ms",
    "jobs_per_batch": "count",
    "sink_write_ms_p50": "ms",
    "source_wait_ms_p50": "ms",
    "backlog_docs_max": "count",
    "generator_late_ms_max": "ms",
}
_SCHEMA = {
    "parse_s": "s",
    "seq_s": "s",
    "rebatch_s": "s",
    "serialize_s": "s",
    "jobs": "count",
    "plan_ms": "ms",
    "mjs": "MJ/s",
}
_QUERY = {
    "build_s": "s",
    "build_jobs": "count",
    "plan_ms": "ms",
    "exec_s": "s",
    "task_s": "s",
    "shuffle_mb": "MB",
}

PER_LAYER = {
    **_EXEC,
    **{f"{s}.{k}": u for s in SCHEMAS for k, u in _SCHEMA.items()},
    **{f"{q}.{k}": u for q in CORPUS_QUERIES for k, u in _QUERY.items()},
}

# per-layer metrics of stream_socket
STREAM_LAYERS = {
    **_EXEC,
    **{f"{r}.{k}": u for r in RUNGS for k, u in _RUNG.items()},
    "burst.docs_per_s": "docs/s",
}


def per_layer(workload: str) -> dict:
    return STREAM_LAYERS if workload == "stream_socket" else PER_LAYER


def with_zeros(layers: dict, names: dict = PER_LAYER) -> dict:
    """``layers`` plus 0 for every per-layer metric in ``names`` the
    workload's path does not reach."""
    return {name: layers.get(name, 0.0) for name in names}
