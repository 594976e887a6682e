"""What the benchmark measures and why: the workloads, their query lists,
the metric names, and for every per-layer metric the end-to-end metric
and workload it is predicted to move. ``BENCHMARK.json`` has a fixed set
of keys, so this module is where that record lives; the self-test checks
the two agree.
"""

from __future__ import annotations

# Registry queries of the ``queries`` workload, by family, at sf 0.1
# (``documents`` at 600 rows: see ``workloads.Sizes.query_docs``).
# A run (a JVM launch, three set-ups, a cold pass, at least two warm
# passes and the oracle checks) has to fit a budget of about a minute on
# a 4-core host, which leaves a warm pass of 3-6 s. Left out: the other
# connected-components queries (cross_modal_curation_stats,
# dedup_cluster_sizes), whose DuckDB oracles take 35-55 s at this size;
# kmeans_embedding_clusters and minhash_lsh_near_dups, which have no
# oracle; and the other listed queries, for the run budget.
QUERIES = {
    # pre-action bound: min-parallelism probes, checkpoints and the
    # connected-components loop run 16 jobs while the plan is built
    "curation": ["corpus_curation_stats"],
    # no job while the plan is built: a six-way join and aggregate
    "warehouse_sql": ["local_supplier_volume"],
}

WORKLOADS = {
    "queries": (
        "sf0.1 registry queries: the curation one runs 16 jobs while its plan is built (CC loop, "
        "width probes); the warehouse SQL one runs none, so it bypasses pre-action fixes"
    ),
    "ingest": (
        "The paper's hourly tick: a run_incremental delta cycle (10 of 100 hotels publish, "
        "10k rows) plus a 200-doc micro-batch into the near-dup stream sink"
    ),
}

# End-to-end metrics: name -> (unit, meaning per workload).
END_TO_END = {
    "setup_s": ("s", "session start (launches the JVM) plus the median over 3 runs of the program's preparation in that session (queries: none; ingest: LSH index bootstrap over the sf0.1 documents)"),
    "peak_rss_mb": ("MB", "peak RSS of the JVM plus the Python driver's peak over the timed operations (the benchmark's own data generation and checks excluded)"),
    "pass_s": ("s", "median warm unit: a pass over the queries / an hourly tick (delta cycle plus micro-batch)"),
}
# Printed but not gated: cold_s (the first unit in a fresh session: cold
# pass / backfill plus the stream's first batch; one JIT-bound sample per
# run), throughput_per_s (queries or input records per warm second; the
# inverse of pass_s at a fixed input size), the per-operation latencies
# (query_p50_s, cycle_p50_s, batch_p50_s), and the 90th percentiles
# (query_p90_s, tick_p90_s, batch_p90_s), which from 2-12 samples a run
# are close to their maximum.

# Executor metrics read from the event log of a traced query workload.
EVENT_LOG_METRICS = ("task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
                     "shuffle_read_bytes", "spill_bytes", "input_bytes", "stage_skew")

_OPS = [
    ("components", "connected_components"),
    ("clustering", "kmeans_fit"),
    ("clustering", "hash_sample_vectors"),
    ("ids", "budgeted_take"),
    ("multimodal", "extract_features"),
    ("scd", "scd_upsert_partitioned"),
    ("scd", "scd_merge_into"),
    ("temporal", "range_join"),
]
EAGER_OPERATORS = [f"operators.{m}.{f}" for m, f in _OPS]

_Q = "queries"
_Q_CUR = "queries (curation family; ~0 on warehouse_sql family and ingest)"
_I = "ingest"

# Per-layer metrics: name -> (unit, predicted end-to-end metric, workload).
# Per-unit means over the traced warm units (a pass for ``queries``, a
# tick for ``ingest``).
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "session.start_s": ("s", "setup_s", "all"),
    "catalog.load_table.calls": ("count", "pass_s, cold_s (printed)", _Q),
    "catalog.load_table.s": ("s", "pass_s, cold_s (printed)", _Q),
    "catalog.ensure_min_parallelism.calls": ("count", "pass_s", _Q_CUR),
    "catalog.ensure_min_parallelism.s": ("s", "pass_s", _Q_CUR),
    "catalog.ensure_min_parallelism.jobs": ("count", "pass_s", _Q_CUR),
    "plans.build_s": ("s", "pass_s, query_p90_s (printed)", _Q_CUR),
    "plans.build_jobs": ("count", "pass_s, query_p90_s (printed)", _Q_CUR),
    "plans.plan_s": ("s", "pass_s", _Q),
    "plans.exec_s": ("s", "pass_s", _Q),
    "plans.exec_jobs": ("count", "pass_s", _Q),
    "plans.exec_stages": ("count", "pass_s", _Q),
    "plans.exec_tasks": ("count", "pass_s", _Q),
    **{
        f"plans.exec.{k}": (u, "pass_s", _Q)
        for k, u in zip(EVENT_LOG_METRICS, ("s", "s", "s", "B", "B", "B", "B", "ratio"))
    },
    **{
        f"plans.{fam}.{k}": (u, "pass_s, query_p90_s (printed)", f"queries ({fam} family)")
        for fam in QUERIES
        for k, u in (("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"))
    },
    **{
        f"{op}.{k}": (u, "pass_s, query_p90_s (printed)", _Q_CUR)
        for op in EAGER_OPERATORS
        for k, u in (("s", "s"), ("jobs", "count"))
    },
    "pipeline.read_state_s": ("s", "pass_s", _I),
    "pipeline.detect_changes_s": ("s", "pass_s, noop_cycle_s (printed)", _I),
    "pipeline.load_s": ("s", "pass_s", _I),
    "pipeline.log_s": ("s", "pass_s", _I),
    "pipeline.commit_state_s": ("s", "pass_s", _I),
    "pipeline.raw_files_scanned": ("count", "pass_s, rows_per_s (printed)", _I),
    "pipeline.raw_files_needed": ("count", "pass_s, rows_per_s (printed)", _I),
    "pipeline.raw_files_useful_frac": ("ratio", "pass_s, rows_per_s (printed)", _I),
    "pipeline.warehouse_bytes_written": ("B", "pass_s", _I),
    "pipeline.new_rows_bytes": ("B", "pass_s", _I),
    "pipeline.write_amp": ("ratio", "pass_s", _I),
    "streaming.add_batch_ms": ("ms", "pass_s", _I),
    "streaming.query_planning_ms": ("ms", "pass_s", _I),
    "streaming.wal_commit_ms": ("ms", "pass_s", _I),
    "streaming.latest_offset_ms": ("ms", "pass_s", _I),
    "streaming.compact_s": ("s", "pass_s, tick_p90_s (printed)", _I),
    "streaming.compactions": ("count", "pass_s, tick_p90_s (printed)", _I),
    "streaming.index_bytes": ("B", "pass_s, peak_rss_mb", _I),
    "streaming.index_files": ("count", "pass_s, peak_rss_mb", _I),
    "streaming.pairs_emitted": ("count", "pass_s", _I),
    "trace.traced_unit_s": ("s", "-", "all: median warm unit with tracing on"),
    "trace.untraced_unit_s": ("s", "-", "all: median warm unit with tracing off, same run"),
    "trace.overhead_s": ("s", "-", "all: traced minus untraced warm unit"),
}
