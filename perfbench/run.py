#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 6 --trace 0

Builds the program from source together with the benchmark's JVM side
(perfbench/build.sbt, on the first run or when a source changed), generates
the workload's inputs from the seed, runs the operations for the given
number of seconds, checks every output, and prints as its last stdout line
one JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The line before it is a summary naming what an operation is on the
workload, its input sizes and the host-drift probes.

`--workload all` runs every workload in turn (one summary and one result
line each). `--self-check` runs the benchmark's own unit checks.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


def spark_home():
    """$SPARK_HOME, else the distribution that `spark-submit` on PATH is in."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("[perfbench] no Spark distribution: set SPARK_HOME")
    return home

JAR = os.path.join(HERE, "target", "perfbench.jar")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "src"), PROGRAM_SRC]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program's sources and the benchmark's JVM side (sbt, offline)."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        raise SystemExit(f"[perfbench] program sources not found under {PROGRAM_SRC}; "
                         "run from the repository root")
    digest = source_digest()
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building (sbt compile package)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "package"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def prepare(workload, seed, work):
    """Generate the workload's inputs; returns (inputs, generation seconds)."""
    spec = metrics.WORKLOADS[workload]
    t0 = time.perf_counter()
    inputs = {"seed": seed, "rows": spec.get("rows", []),
              "warmup_cycles": spec["warmup_cycles"], "min_ops": spec["min_ops"]}
    for key in ("tables", "tail_tables"):
        if key in spec:
            d = os.path.join(work, key)
            inputs[key] = d
            inputs[f"{key}_rows"] = gen.generate("tables", d, seed, spec[key])
    inputs["tail_rows"] = spec.get("tail_rows", [])
    if "lake" in spec:
        lake = gen.generate("lake", os.path.join(work, "lake"), seed, spec["lake"])
        lake["state"] = gen.STATE
        inputs["lake"] = lake
    return inputs, time.perf_counter() - t0


def run_jvm(workload, seed, seconds, trace, work, inputs_path, raw_path):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx4g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{JAR}:{spark_home()}/jars/*", "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--inputs", inputs_path,
              "--work", work, "--out", raw_path])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                               timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit("[perfbench] JVM did not finish in time")
    if r.returncode != 0 or not os.path.exists(raw_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"[perfbench] JVM failed with code {r.returncode}")
    with open(raw_path) as f:
        return json.load(f)


def evaluate(workload, raw, inputs, gen_s, trace):
    """Checks + metrics. Returns (summary dict, result dict)."""
    problems = list(raw["checks"])
    bad_oracle = oracle.check(raw["results"])
    problems += [f"{n}: {m}" for n, m in bad_oracle.items()]
    ops = raw["ops"]
    failed = [o for o in ops if o["error"] or o["label"] in bad_oracle
              or any(f"row.{n}.s" in o["extra"] for n in bad_oracle)]
    problems += sorted({o["error"] for o in ops if o["error"]})
    good = [o for o in ops if o not in failed]
    timed = [o for o in good if not o["traced"]]
    ms = [o["ms"] for o in timed] or [float("nan")]
    setup_s = gen_s + raw["setup"]["entry_to_first_op_s"]
    op_p50 = stats.median(ms)
    ops_per_s = len(timed) / (sum(ms) / 1000.0) if timed else float("nan")

    op_name, rate_name = metrics.OP_NAMES[workload]
    named = {"setup_s": {"value": setup_s, "unit": "s"},
             "failed_op_share": {"value": len(failed) / max(1, len(ops)), "unit": "share"}}
    if op_name.endswith("_s"):
        named[op_name] = {"value": op_p50 / 1000.0, "unit": "s", "samples": len(ms)}
    else:
        named[op_name] = {"value": op_p50, "unit": "ms", "samples": len(ms)}
    named[rate_name] = {"value": ops_per_s, "unit": "1/s"}
    if workload == "query_loop" and timed:
        # the design's names: the read-path requests' latency and rate, and
        # the median time of each tail row (one curation, one streaming row)
        qs = [o["ms"] for o in timed if o["label"] not in metrics.TAIL_ROWS]
        named["query_p50_ms"] = {"value": stats.median(qs), "unit": "ms", "samples": len(qs)}
        named["query_p90_ms"] = {"value": stats.quantile(qs, 0.9), "unit": "ms",
                                 "samples": len(qs), "beyond": stats.beyond(qs, 0.9)}
        tail = stats.tail_percentile(qs)
        if tail:
            named["query_tail_ms"] = {"value": tail[1], "unit": "ms", "percentile": tail[0],
                                      "beyond": tail[2]}
        named["queries_per_s"] = {"value": len(qs) / (sum(qs) / 1000.0), "unit": "1/s"}
        for key, rows in [("curation_pass_s", metrics.CURATION_ROWS),
                          ("stream_pass_s", metrics.STREAM_ROWS)]:
            per = [o["ms"] / 1000.0 for o in timed if o["label"] in rows]
            named[key] = {"value": stats.median(per), "unit": "s", "rows": rows,
                          "samples": len(per)}
    if workload == "etl_ingest" and timed:
        ratio = stats.median([o["extra"]["out_bytes"] / o["extra"]["in_bytes"] for o in timed])
        fps = stats.median([o["extra"]["files_listed"] / (o["ms"] / 1000.0) for o in timed])
        named["etl_out_bytes_per_in_byte"] = {"value": ratio, "unit": "share"}
        named["etl_files_per_s"] = {
            "value": fps, "unit": "1/s",
            "baseline": f"{metrics.BASELINE_ETL['files_per_s']} files/s "
                        f"({metrics.BASELINE_ETL['files']} files in "
                        f"{metrics.BASELINE_ETL['wall_s']} s; {metrics.BASELINE_ETL['scale']})"}
    lake = inputs.get("lake", {})
    if trace:
        values = stats.per_layer(raw, list(metrics.PER_LAYER), lake.get("files_in_lake"),
                                 len(metrics.WORKLOADS[workload].get("rows", [])) or 1)
        cover = values["etl.phase_cover_share"]
        if workload == "etl_ingest" and not abs(1.0 - cover) <= metrics.PHASE_COVER_BOUND:
            problems.append(f"ETL phase spans cover {cover:.3f} of EtlRunner.run's time, "
                            f"not 1 within {metrics.PHASE_COVER_BOUND}")
        out = {k: {"value": values[k], "unit": metrics.PER_LAYER[k][0]} for k in metrics.PER_LAYER}
    else:
        values = {"setup_s": setup_s, "op_p50_ms": op_p50, "ops_per_s": ops_per_s}
        out = {k: {"value": values[k], "unit": metrics.END_TO_END[k][0]}
               for k in metrics.END_TO_END}
    summary = {
        "workload": workload, "seed": raw["seed"], "nproc": raw["nproc"],
        "operation": {"etl_ingest": "one EtlRunner.run",
                      "query_loop": "one request of a seeded round-robin over "
                                    + ", ".join(metrics.SAVED_REQUESTS + metrics.TAIL_ROWS)
                      }[workload],
        "input": {k: v for k, v in [("tables", inputs.get("tables_rows")),
                                    ("tail_tables", inputs.get("tail_tables_rows")),
                                    ("lake_files", lake.get("files_in_lake")),
                                    ("job_files", lake.get("files_listed")),
                                    ("job_rows", lake.get("rows_in")),
                                    ("job_bytes", lake.get("input_bytes"))] if v},
        "metrics": named,
        "setup": dict(raw["setup"], generate_s=gen_s),
        "op_ms": [[o["label"], round(o["ms"], 1)] for o in ops],
        "host": {"calib_ms_start_mid_end": raw["calib_ms"],
                 "loadavg_1m_start_mid_end": raw["loadavg_1m"]},
        "problems": problems[:20],
    }
    result = {"correct": not problems, "attempted": len(ops), "failed": len(failed),
              "metrics": out}
    return summary, result


def run_one(workload, seed, seconds, trace):
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs, gen_s = prepare(workload, seed, work)
        inputs_path = os.path.join(work, "inputs.json")
        with open(inputs_path, "w") as f:
            json.dump(inputs, f)
        raw = run_jvm(workload, seed, seconds, trace, work, inputs_path,
                      os.path.join(work, "raw.json"))
        summary, result = evaluate(workload, raw, inputs, gen_s, trace)
        print(json.dumps({"summary": summary}), flush=True)
        print(json.dumps(result), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    if a.self_check:
        import unittest
        suite = unittest.defaultTestLoader.discover(HERE, pattern="check_*.py")
        ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
        sys.exit(0 if ok else 1)
    names = list(metrics.WORKLOADS) if a.workload == "all" else [a.workload]
    if not set(names) <= set(metrics.WORKLOADS):
        ap.error(f"--workload must be one of {', '.join(metrics.WORKLOADS)} or all")
    build()
    for w in names:
        run_one(w, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    main()
