"""The benchmark's declared workloads and metrics: the one source
BENCHMARK.json is written from (perfbench/spread.py) and every run's
output is checked against (perfbench/run.py)."""

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 15

WORKLOADS = [
    {"name": "cycle",
     "why": "hourly indexer cycles at an assumed 1% churn, each answered by "
            "a 128-probe batch from the new version: batch write and read "
            "paths, bound by per-job floors and full rewrites"},
    {"name": "stream",
     "why": "100-row arrival files (assumed: 30% near-duplicates, every 3rd "
            "drifted) through the dedup gate and drift monitor, a tick per "
            "drifted file: the write path cycle never runs"},
]

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("items_per_s", "items/s", "higher", 0.25),
    ("recall_at_10", "fraction", "higher", 0.06),
    ("retained_mb", "MB", "lower", 0.03),
]

# `<module>.<object>.<entry point>`; the near-duplicate ingest's name is
# cut after `NearDup` so that its metric names stay within 64 characters
SPANS = [
    "pipeline.IncrementalIndexer.runOnce",
    "pipeline.IncrementalIndexer.leakedParents",
    "operators.GraphAnn.purgeTombstonesPq",
    "operators.GraphAnn.appendGraphCellsPq",
    "operators.GraphAnn.publishPqServing",
    "operators.GraphAnn.searchGraphRoutedPqColdStart",
    "operators.Similarity.readIvfPq",
    "streaming.StreamingIngest.runAvailableNowNearDup",
    "streaming.Maintenance.runDriftMaintenance",
    "streaming.StreamingIngest.compactIndex",
    "bench.glue",
]

SPAN_FIELDS = [
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("driver_gap_s", "s", "lower"),
    ("exec_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("input_bytes", "bytes", "lower"),
    ("output_bytes", "bytes", "lower"),
]

# (name, unit, better)
PER_LAYER = [(f"{s}.{f}", u, b) for s in SPANS for f, u, b in SPAN_FIELDS] + [
    ("pipeline.IncrementalIndexer.runOnce.rows_per_changed_chunk", "ratio",
     "lower"),
    ("operators.GraphAnn.searchGraphRoutedPqColdStart.scan_fraction", "ratio",
     "lower"),
    ("streaming.StreamingIngest.runAvailableNowNearDup.kept_ratio", "ratio",
     "higher"),
    ("pipeline.Chunkers.chunkText.ns_per_char", "ns", "lower"),
    ("services.HashingEmbedder.embedBatch.ns_per_chunk", "ns", "lower"),
    ("trace_overhead", "ratio", "lower"),
]


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": WORKLOADS,
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b in PER_LAYER],
    }

assert all(len(n) <= 64 for n, *_ in END_TO_END + PER_LAYER)
assert all(len(w["why"]) <= 200 for w in WORKLOADS)
