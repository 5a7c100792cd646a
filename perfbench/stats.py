"""Statistics used by the benchmark: percentiles, the tail-percentile rule,
self time from nested spans, and the per-layer aggregation of a traced run."""
import math


def quantile(values, q):
    """Linear-interpolation quantile (numpy's default), q in [0, 1]."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    pos = (len(v) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values):
    return quantile(values, 0.5)


def beyond(values, q):
    """Number of samples strictly above the q-quantile."""
    t = quantile(values, q)
    return sum(1 for x in values if x > t)


def tail_percentile(values, min_beyond=10, candidates=(99, 95, 90, 80, 75, 50)):
    """The highest candidate percentile with at least ``min_beyond`` samples
    above it, as (percentile, value, samples beyond); None if none has."""
    for p in candidates:
        n = beyond(values, p / 100.0)
        if n >= min_beyond:
            return p, quantile(values, p / 100.0), n
    return None


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, reach = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        s = max(s, reach)
        if e > s:
            total += e - s
            reach = e
    return total


def self_times(spans):
    """Span id -> self time in ns: its duration minus the part of its
    interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"])
            - union_length(children.get(s["id"], []), s["start_ns"], s["end_ns"])
            for s in spans}


SELF_GROUPS = {"self.bench_ms": lambda n: n == "op",
               "self.etl_ms": lambda n: n.startswith("etl."),
               "self.query_build_ms": lambda n: n == "query.build",
               "self.query_exec_ms": lambda n: n == "query.exec"}

ETL_PHASES = {"etl.list_ms": "etl.list", "etl.read_plan_ms": "etl.read_plan",
              "etl.rollup_plan_ms": "etl.rollup_plan", "etl.write_ms": "etl.write",
              "etl.meta_ms": "etl.meta", "etl.catalog_ms": "etl.catalog",
              "etl.tracker_ms": "etl.tracker"}

ENGINE_KEYS = ["plan.analysis_ms", "plan.optimizer_ms", "plan.planning_ms", "exec.ms",
               "driver.gap_ms", "sched.jobs", "sched.stages", "sched.stages_skipped",
               "sched.tasks", "sched.task_p50_ms", "sched.task_max_ms", "scan.files_read",
               "scan.bytes_read", "shuffle.read_bytes", "shuffle.write_bytes",
               "shuffle.fetch_wait_ms", "mem.spill_bytes", "mem.peak_exec_mb",
               "stream.batches", "stream.batch_p50_ms", "stream.add_batch_ms",
               "stream.commit_ms", "stream.planning_ms", "stream.state_rows",
               "stream.state_mem_bytes", "stream.state_commit_ms"]


# Engine metrics that are a percentile or a peak: a cycle reports the largest
# of its operations' values instead of their sum.
PEAK_KEYS = {"sched.task_p50_ms", "sched.task_max_ms", "mem.peak_exec_mb",
             "stream.batch_p50_ms"}
LEAK_KEYS = ["cache.rdds_left", "cache.temp_views", "cache.streams_left"]


def _med(values):
    return median(values) if values else 0.0


def per_layer(raw, names, files_in_lake=None, cycle=1):
    """Per-layer metrics of a traced invocation: medians over its traced
    cycles (``cycle`` consecutive operations, every request kind once) of
    per-cycle sums, or of per-cycle maxima for percentiles, peaks and leak
    counts. Metrics that a workload never exercises read 0."""
    ops = [o for o in raw["ops"] if not o["error"]]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    groups = {}
    for o in traced:
        groups.setdefault(o["i"] // cycle, []).append(o)
    op_group = {o["i"]: g for g, os_ in groups.items() for o in os_}
    spans = [s for s in raw["spans"] if s["op"] in op_group]
    selfs = self_times(spans)
    by_group = {g: [s for s in spans if op_group[s["op"]] == g] for g in groups}

    def per_group(f):
        return _med([f(by_group[g]) for g in sorted(groups)])

    def span_sum(ss, name, key=None):
        sel = [s for s in ss if s["name"] == name]
        if key is None:
            return sum(s["end_ns"] - s["start_ns"] for s in sel) / 1e6
        return sum(s.get("engine", {}).get(key, 0.0) for s in sel)

    def span_max(ss, name, key):
        return max([s.get("engine", {}).get(key, 0.0) for s in ss if s["name"] == name] or [0.0])

    m = {k: 0.0 for k in names}
    m["host.calib_ms"] = median(raw["calib_ms"])
    m["host.loadavg_1m"] = median(raw["loadavg_1m"])
    if traced and untraced:
        m["trace.overhead_share"] = (_med([o["ms"] for o in traced])
                                     / _med([o["ms"] for o in untraced]) - 1.0)
    for k, pred in SELF_GROUPS.items():
        m[k] = per_group(lambda ss: sum(selfs[s["id"]] for s in ss if pred(s["name"])) / 1e6)
    for k in ENGINE_KEYS:
        agg = span_max if k in PEAK_KEYS else span_sum
        m[k] = per_group(lambda ss: agg(ss, "op", k))
    m["query.build_ms"] = per_group(lambda ss: span_sum(ss, "query.build"))
    m["query.build_jobs"] = per_group(lambda ss: span_sum(ss, "query.build", "sched.jobs"))
    for k in LEAK_KEYS:
        m[k] = _med([max(o["extra"].get(k, 0.0) for o in os_) for os_ in groups.values()])
    for name in names:
        if name.startswith("row.") and name.endswith(".s"):
            row = name[len("row."):-len(".s")]
            m[name] = _med([o["extra"][f"row.{row}.s"] for o in traced
                            if f"row.{row}.s" in o["extra"]])
        elif name.startswith("row.") and name.endswith(".jobs"):
            m[name] = per_group(lambda ss: span_sum(ss, name[:-len(".jobs")], "sched.jobs"))
        elif name.startswith("row.") and name.endswith(".shuffle_bytes"):
            m[name] = per_group(lambda ss: span_sum(ss, name[:-len(".shuffle_bytes")],
                                                    "shuffle.write_bytes"))
    if raw["workload"] == "etl_ingest":
        for k, span in ETL_PHASES.items():
            m[k] = per_group(lambda ss: span_sum(ss, span))
        for k, key in [("etl.scan_stage_s", "stage.shuffle_map_run_s"),
                       ("etl.write_stage_s", "stage.result_run_s"),
                       ("etl.task_commit_ms", "write.task_commit_ms"),
                       ("etl.job_commit_ms", "write.job_commit_ms"),
                       ("etl.bytes_written", "write.bytes"),
                       ("etl.files_scanned", "scan.files_read")]:
            m[k] = per_group(lambda ss: span_sum(ss, "etl.write", key))
        for k, key in [("etl.files_listed", "files_listed"), ("etl.rows_in", "rows_in"),
                       ("etl.rows_out", "rows_out"), ("etl.files_written", "files_written")]:
            m[k] = _med([o["extra"][key] for o in traced])
        if files_in_lake:
            m["etl.pruned_share"] = m["etl.files_scanned"] / files_in_lake
        m["etl.files_per_s"] = _med([o["extra"]["files_listed"] / (o["ms"] / 1000.0)
                                     for o in untraced])
        m["etl.out_bytes_per_in_byte"] = _med([o["extra"]["out_bytes"] / o["extra"]["in_bytes"]
                                               for o in untraced])
        phases = per_group(lambda ss: sum(span_sum(ss, s) for s in ETL_PHASES.values()))
        m["etl.phase_cover_share"] = phases / _med([o["ms"] for o in untraced])
    return m
