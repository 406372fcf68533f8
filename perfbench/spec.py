"""The benchmark's declared workloads and metrics. BENCHMARK.json at
the repo root is generated from this file:

    python3 perfbench/spec.py > BENCHMARK.json
"""
import json

# every pass takes longer than this, so a run times exactly one pass
RUN_SECONDS = 5

WORKLOADS = [
    ("trade_graph", "the paper's trade-graph ranks and traversals: job- and driver-bound "
                    "iterative graph layer over >100k distinct trade pairs, almost no "
                    "operator or kernel work"),
    ("curate_batch", "one batch curation pass (dedup, decontamination, packing, ANN) over a "
                     "corpus with planted duplicates: job-bound at this size; the operators' "
                     "executor work shows in the per-layer metrics"),
]

# name, unit, better, bound
END_TO_END = [
    ("rows_per_s", "1/s", "higher", 0.25),
    ("peak_mem_mb", "MB", "lower", 0.05),
    ("setup_s", "s", "lower", 0.25),
]

_TRADE_SPANS = [
    "entry.nationTradeEdges",
    "graph.Ranks.rankStateTable",
    "graph.Ranks.rankTable.region",
    "graph.Traversal.kCore",
    "graph.Traversal.shortestPath",
]
_CURATE_SPANS = [
    "operators.Corpus.blocklistFilter",
    "operators.Dedup.exactDedup",
    "operators.Dedup.minhashNearDupPairs",
    "operators.Dedup.connectedComponents",
    "operators.Dedup.softDedupFromPairs",
    "operators.Corpus.contaminationHits",
    "operators.ScaleOps.packSequences",
    "operators.Similarity.ivfPqIndex",
    "operators.Similarity.ivfPqTopK",
    "operators.Similarity.bruteForceTopK",
]
_INGEST_SPANS = [
    "streaming.EventsStreaming.compactStore",
    "streaming.EventsStreaming.readWeightStore",
    "streaming.EventsStreaming.readCodesStore",
    "operators.Similarity.filteredIvfPqTopKFromCodes",
    "operators.Dedup.retractSoftDedup",
    "operators.Similarity.retractIvfPqCodes",
]


def _per_layer():
    m = []
    for n in ["jobs", "stages", "tasks", "task_failures"]:
        m.append((f"spark.{n}", "count", "lower"))
    m += [("spark.no_job_s", "s", "lower"), ("spark.planning_s", "s", "lower"),
          ("spark.plan_nodes_max", "count", "lower"), ("spark.plan_chars_max", "count", "lower"),
          ("spark.exec_run_s", "s", "lower"), ("spark.exec_cpu_s", "s", "lower"),
          ("spark.exec_busy_frac", "frac", "higher"), ("spark.shuffle_write_mb", "MB", "lower"),
          ("spark.spill_mb", "MB", "lower"), ("spark.gc_s", "s", "lower"),
          ("core.cache_peak_mb", "MB", "lower"), ("core.tracked_after_release", "count", "lower")]
    for s in _TRADE_SPANS:
        m += [(f"{s}.self_s", "s", "lower"), (f"{s}.jobs", "count", "lower"),
              (f"{s}.shuffle_write_mb", "MB", "lower")]
    for s in _CURATE_SPANS:
        m += [(f"{s}.self_s", "s", "lower"), (f"{s}.jobs", "count", "lower"),
              (f"{s}.exec_cpu_s", "s", "lower"), (f"{s}.shuffle_write_mb", "MB", "lower")]
    m += [("operators.Dedup.lsh_pair_precision", "frac", "higher"),
          ("operators.Similarity.recall_at_k", "frac", "higher"),
          ("operators.Similarity.candidates_per_query", "count", "lower")]
    for k in ["shingles", "minhash", "simhash60", "dot"]:
        m.append((f"functions.{k}.ns_per_row", "ns", "lower"))
    for k in ["trigger_s", "add_batch_s", "query_planning_s", "wal_commit_s"]:
        m.append((f"streaming.{k}", "s", "lower"))
    for s in _INGEST_SPANS:
        m += [(f"{s}.self_s", "s", "lower"), (f"{s}.jobs", "count", "lower"),
              (f"{s}.shuffle_write_mb", "MB", "lower")]
    m += [("sources.store_mb", "MB", "lower"), ("sources.store_files", "count", "lower"),
          ("sources.files_per_batch", "count", "lower"), ("sources.write_mb", "MB", "lower"),
          ("streaming.compact_rewrite_mb", "MB", "lower")]
    # the ingest probe's batch latency and store growth, then context
    m += [("streaming.batch_s_p50", "s", "lower"),
          ("sources.store_bytes_per_input_byte", "frac", "lower"),
          ("trace.overhead_frac", "frac", "lower"),
          ("host.calib_s", "s", "lower")]
    return m


PER_LAYER = _per_layer()


def benchmark_json():
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
