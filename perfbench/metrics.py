"""Workload list and metric names of the benchmark (mirrored in BENCHMARK.json)."""

WORKLOADS = ["lookup", "curate"]

# (name, unit); every workload prints every one of these with --trace 0
END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
    ("work_per_s", "1/s"),
]

TIERS = ["flat", "lsh", "ivf", "ivfpq"]

# (name, unit, workloads that exercise it); printed with --trace 1
PER_LAYER = (
    [(f"spark.jobs_per_lookup.{t}", "count", ["lookup"]) for t in TIERS]
    + [(f"spark.input_rows_per_lookup.{t}", "rows/result", ["lookup"]) for t in TIERS]
    + [
        ("spark.job_ms_per_lookup", "ms", ["lookup"]),
        ("spark.driver_gap_ms_per_lookup", "ms", ["lookup"]),
        ("spark.jobs_per_append", "count", ["lookup"]),
        ("spark.files_written_per_append", "count", ["lookup"]),
        ("spark.jobs_per_pass", "count", ["curate"]),
        ("spark.driver_gap_s_per_pass", "s", ["curate"]),
        ("spark.shuffle_bytes_per_pass", "bytes", ["curate"]),
        ("spark.core_utilization", "ratio", ["lookup", "curate"]),
    ]
    + [(f"sources.{t}.search_ms", "ms", ["lookup"]) for t in TIERS]
    + [
        ("sources.ivf.search_batch_ms", "ms", ["lookup"]),
        ("sources.ivf.read_centroids_ms", "ms", ["lookup"]),
        ("sources.pq.read_books_ms", "ms", ["lookup"]),
        ("lookup.meta_vote_ms", "ms", ["lookup"]),
    ]
    + [(f"sources.{t}.write_s", "s", ["lookup"]) for t in ["flat", "ivf", "ivfpq"]]
    + [
        ("sources.ivf.append_ms", "ms", ["lookup"]),
        ("sources.compact_ms", "ms", ["lookup"]),
        ("sources.compact_bytes_rewritten", "bytes", ["lookup"]),
        ("sources.files_per_partition", "count", ["lookup"]),
        ("sources.store_bytes_per_input_byte", "ratio", ["lookup"]),
    ]
    + [(f"lookup.recall_at_5.{t}", "ratio", ["lookup"]) for t in ["lsh", "ivf", "ivfpq"]]
    + [
        ("operators.dedup.exact_s", "s", ["curate"]),
        ("operators.dedup.minhash_pairs_s", "s", ["curate"]),
        ("operators.dedup.span_dedup_s", "s", ["curate"]),
        ("operators.text.gopher_quality_s", "s", ["curate"]),
        ("operators.dedup.pairs_per_planted_near_dup", "ratio", ["curate"]),
        ("expressions.graft_dot.rows_per_s", "rows/s", ["lookup"]),
        ("expressions.graft_cosine.rows_per_s", "rows/s", ["lookup"]),
        ("expressions.graft_shingle_hashes.rows_per_s", "rows/s", ["curate"]),
        ("expressions.graft_minhash_sig.rows_per_s", "rows/s", ["curate"]),
        ("op_p90_ms", "ms", ["lookup", "curate"]),
        ("jvm.gc_ms_per_op", "ms", ["lookup", "curate"]),
        ("jvm.heap_after_gc_mb", "MB", ["lookup", "curate"]),
        ("trace.overhead_ms_per_op", "ms", ["lookup", "curate"]),
    ]
    + [(f"self.{l}_ms_per_op", "ms", ["lookup", "curate"])
       for l in ["op", "sources", "lookup", "operators", "expressions", "spark"]]
)


def line_metrics(workload, trace, res):
    """The metrics of the result line: every end-to-end metric, or every
    per-layer metric, with 0 for a layer the workload does not exercise.
    Raises if a metric the workload should have measured is missing."""
    if not trace:
        names = [(n, u, WORKLOADS) for n, u in END_TO_END]
        src = res["metrics"]
    else:
        names = PER_LAYER
        src = res["per_layer"]
    out, missing = {}, []
    for name, unit, used_by in names:
        if name in src:
            out[name] = src[name]
        elif workload in used_by:
            missing.append(name)
        else:
            out[name] = {"value": 0, "unit": unit}
    return out, missing
