"""Metric definitions: the end-to-end set every untraced invocation reports,
the per-layer set every traced invocation reports, and which end-to-end
metric each per-layer metric is expected to move, on which workload."""

# The heavy-tail rows the query loop mixes in: an operator row (ppjoin, the
# one that leaves a persisted RDD behind) and a stateful streaming row.
CURATION_ROWS = ["d10_ppjoin"]
STREAM_ROWS = ["q47_stream_running_totals"]
TAIL_ROWS = CURATION_ROWS + STREAM_ROWS
# the reference's saved statements (run by label) and the SparkEntry
# reference-parity queries
SAVED_REQUESTS = ["saved.total_buildings", "saved.buildings_by_group",
                  "saved.top_buildings_per_group", "q1_total_distinct",
                  "q2_count_by_group", "q3_topk_per_group", "q4_hourly_rollup",
                  "q5_filter_project", "q7_global_topk", "q11_agg_suite",
                  "q12_semi_join", "q19_star_join"]

# What each workload generates (query tables and tail tables at a scale
# factor; a building lake with this many buildings per (state, upgrade)
# slice and hours of readings per file), the requests it runs, its untimed
# warm-up cycles after the checked warm-up pass, and the fewest timed
# operations a run takes.
WORKLOADS = {
    "etl_ingest": {"lake": {"buildings": 1126, "hours": 168},
                   "warmup_cycles": 3, "min_ops": 4},
    "query_loop": {"tables": "sf0.1", "tail_tables": "sf0.01",
                   "lake": {"buildings": 282, "hours": 168},
                   "rows": SAVED_REQUESTS + TAIL_ROWS, "tail_rows": TAIL_ROWS,
                   "warmup_cycles": 1, "min_ops": 2 * len(SAVED_REQUESTS + TAIL_ROWS)},
}

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_ms": ("ms", "lower"),
    "ops_per_s": ("1/s", "higher"),
}

# What op_p50_ms / ops_per_s stand for on each workload. On query_loop the
# median request is a read-path one (the tail rows are slower than all of
# them), while the tail rows take over a third of the request time, so ops_per_s
# is where operator and streaming changes show.
OP_NAMES = {
    "etl_ingest": ("etl_run_s", "etl_runs_per_s"),
    "query_loop": ("request_p50_ms", "requests_per_s"),
}

# name -> (unit, better, moves: "<end-to-end metric> on <workload>")
PER_LAYER = {
    "host.calib_ms": ("ms", "lower", "explains variance; not gated"),
    "host.loadavg_1m": ("load", "lower", "explains variance; not gated"),
    "trace.overhead_share": ("share", "lower", "traced vs untraced op_p50_ms, same invocation"),
    "self.bench_ms": ("ms", "lower", "benchmark housekeeping inside an op"),
    "self.etl_ms": ("ms", "lower", "op_p50_ms on etl_ingest"),
    "self.query_build_ms": ("ms", "lower", "op_p50_ms on query_loop"),
    "self.query_exec_ms": ("ms", "lower", "op_p50_ms, ops_per_s on query_loop"),
    "etl.list_ms": ("ms", "lower", "op_p50_ms on etl_ingest"),
    "etl.read_plan_ms": ("ms", "lower", "op_p50_ms on etl_ingest"),
    "etl.files_listed": ("count", "lower", "op_p50_ms on etl_ingest"),
    "etl.files_scanned": ("count", "lower", "op_p50_ms on etl_ingest"),
    "etl.pruned_share": ("share", "lower", "op_p50_ms on etl_ingest"),
    "etl.rollup_plan_ms": ("ms", "lower", "op_p50_ms on etl_ingest"),
    "etl.scan_stage_s": ("s", "lower", "op_p50_ms on etl_ingest"),
    "etl.write_stage_s": ("s", "lower", "op_p50_ms on etl_ingest"),
    "etl.write_ms": ("ms", "lower", "op_p50_ms on etl_ingest"),
    "etl.task_commit_ms": ("ms", "lower", "op_p50_ms on etl_ingest"),
    "etl.job_commit_ms": ("ms", "lower", "op_p50_ms on etl_ingest"),
    "etl.files_written": ("count", "lower", "op_p50_ms on etl_ingest; its read side is scan.files_read on query_loop"),
    "etl.bytes_written": ("bytes", "lower", "op_p50_ms on etl_ingest"),
    "etl.rows_in": ("count", "lower", "op_p50_ms on etl_ingest"),
    "etl.rows_out": ("count", "lower", "op_p50_ms on etl_ingest"),
    "etl.meta_ms": ("ms", "lower", "op_p50_ms on etl_ingest"),
    "etl.catalog_ms": ("ms", "lower", "op_p50_ms on etl_ingest"),
    "etl.tracker_ms": ("ms", "lower", "op_p50_ms on etl_ingest"),
    "etl.files_per_s": ("1/s", "higher", "ops_per_s on etl_ingest; beside BASELINE's 2.0 files/s, not gated"),
    "etl.out_bytes_per_in_byte": ("share", "lower", "storage side of etl_ingest"),
    "etl.phase_cover_share": ("share", "higher", "phase spans / EtlRunner.run time on etl_ingest"),
    "query.build_ms": ("ms", "lower", "op_p50_ms on query_loop"),
    "query.build_jobs": ("count", "lower", "op_p50_ms on query_loop"),
    "plan.analysis_ms": ("ms", "lower", "op_p50_ms on query_loop"),
    "plan.optimizer_ms": ("ms", "lower", "op_p50_ms on query_loop"),
    "plan.planning_ms": ("ms", "lower", "op_p50_ms on query_loop"),
    "exec.ms": ("ms", "lower", "op_p50_ms on query_loop"),
    "driver.gap_ms": ("ms", "lower", "op_p50_ms on query_loop"),
    "sched.jobs": ("count", "lower", "op_p50_ms on query_loop"),
    "sched.stages": ("count", "lower", "op_p50_ms on query_loop"),
    "sched.stages_skipped": ("count", "lower", "op_p50_ms on query_loop"),
    "sched.tasks": ("count", "lower", "op_p50_ms on query_loop"),
    "sched.task_p50_ms": ("ms", "lower", "op_p50_ms on every workload"),
    "sched.task_max_ms": ("ms", "lower", "op_p50_ms on every workload (skew)"),
    "scan.files_read": ("count", "lower", "op_p50_ms on query_loop"),
    "scan.bytes_read": ("bytes", "lower", "op_p50_ms on query_loop"),
    "shuffle.read_bytes": ("bytes", "lower", "ops_per_s on query_loop (tail rows)"),
    "shuffle.write_bytes": ("bytes", "lower", "ops_per_s on query_loop (tail rows)"),
    "shuffle.fetch_wait_ms": ("ms", "lower", "ops_per_s on query_loop (tail rows)"),
    "mem.spill_bytes": ("bytes", "lower", "ops_per_s on query_loop (tail rows)"),
    "mem.peak_exec_mb": ("MB", "lower", "ops_per_s on query_loop (tail rows)"),
    "cache.rdds_left": ("count", "lower", "leaks; op_p50_ms on later ops"),
    "cache.temp_views": ("count", "lower", "leaks; op_p50_ms on later ops"),
    "cache.streams_left": ("count", "lower", "leaks; op_p50_ms on later ops"),
    "stream.batches": ("count", "lower", "ops_per_s on query_loop (streaming row)"),
    "stream.batch_p50_ms": ("ms", "lower", "ops_per_s on query_loop (streaming row)"),
    "stream.add_batch_ms": ("ms", "lower", "ops_per_s on query_loop (streaming row)"),
    "stream.commit_ms": ("ms", "lower", "ops_per_s on query_loop (streaming row)"),
    "stream.planning_ms": ("ms", "lower", "ops_per_s on query_loop (streaming row)"),
    "stream.state_rows": ("count", "lower", "ops_per_s on query_loop (streaming row)"),
    "stream.state_mem_bytes": ("bytes", "lower", "ops_per_s on query_loop (streaming row)"),
    "stream.state_commit_ms": ("ms", "lower", "ops_per_s on query_loop (streaming row)"),
}
for _r in CURATION_ROWS:
    PER_LAYER[f"row.{_r}.s"] = ("s", "lower", "ops_per_s on query_loop (tail rows)")
    PER_LAYER[f"row.{_r}.jobs"] = ("count", "lower", "ops_per_s on query_loop (tail rows)")
    PER_LAYER[f"row.{_r}.shuffle_bytes"] = ("bytes", "lower", "ops_per_s on query_loop (tail rows)")
for _r in STREAM_ROWS:
    PER_LAYER[f"row.{_r}.s"] = ("s", "lower", "ops_per_s on query_loop (streaming row)")

# How far the traced ETL phase spans may be from accounting for the whole of
# an untraced EtlRunner.run (share of its median): the op_p50_ms bound.
PHASE_COVER_BOUND = 0.25

# BASELINE.md's one published ETL run, at the reference's scale.
BASELINE_ETL = {"wall_s": 564.64, "files": 1126, "files_per_s": 2.0,
                "scale": "reference: state AK, full year of 15-min readings per "
                         "building, S3 + Glue pythonshell 1 DPU; not this benchmark's scale"}
