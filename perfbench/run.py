#!/usr/bin/env python3
"""graft benchmark: one named workload, one seed, one JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload driver_probes --seed 1 --seconds 18 --trace 0

It builds the program and the harness from source with sbt (once per
checkout; later runs reuse the build while the sources are unchanged),
runs `perfbench.Harness` in a working directory of its own under
`.bench_build/perfbench/`, checks every warm-up result against DuckDB's
answer to the query's `SparkEntry.oracleSql` entry, and prints the
metrics. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones from a run with
Spark listeners attached; that run also writes its spans as Chrome
trace-event JSON under `.bench_build/perfbench/out/`.

The fixtures (`perfbench/data/sf0.01`) are read-only; the seed only sets
the order of operations in each pass. --seconds sets the number of timed
passes (`benchlib.timed_passes`), which the clock never changes, so every
run with the same arguments has the same number of latency samples.
Seed 90210 is held out for confirming gain claims.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import benchlib

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.01"
HARNESS = HERE / "harness"
WORK = ROOT / ".bench_build" / "perfbench"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CORES = 4
# each run must end within 180 s; the first one in a checkout also builds
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
# Spark on JDK 17 outside spark-submit needs these (the same list the
# program's own build passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = [
    ("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"),
    ("query_tail_s", "s"), ("cpu_s", "s"), ("retained_heap_mb", "MiB"),
    ("write_p50_s", "s"),
]
PER_LAYER_UNITS = {
    "operators.build_ms": "ms", "operators.build_jobs": "count",
    "operators.build_self_ms": "ms", "operators.build_share": "ratio",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms", "plans.query_executions": "count",
    "plans.summary_setup_ms": "ms", "plans.summary_drop_ms": "ms",
    "plans.summary_routed_ratio": "ratio",
    "exec.run_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms", "exec.task_gc_ms": "ms",
    "exec.task_wait_ms": "ms", "exec.busy_frac": "ratio",
    "exec.shuffle_bytes": "bytes", "exec.spill_bytes": "bytes",
    "sources.rows_read": "count", "sources.bytes_read": "bytes",
    "sources.bytes_written": "bytes",
    "driver.gc_ms": "ms", "driver.jit_ms": "ms", "machine.control_s": "s",
    "trace.pass_s": "s",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_fingerprint():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HARNESS / "build.sbt"]
    for d in [ROOT / "project", HARNESS / "project"]:
        files += sorted(p for p in d.glob("*") if p.suffix in
                        (".sbt", ".properties", ".scala"))
    for d in [ROOT / "src" / "main", HARNESS / "src"]:
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build_classpath():
    """The harness's runtime classpath, building it if the sources changed."""
    WORK.mkdir(parents=True, exist_ok=True)
    cp_file, fp_file = WORK / "classpath.txt", WORK / "fingerprint.txt"
    fp = source_fingerprint()
    if cp_file.exists() and fp_file.exists() and fp_file.read_text() == fp:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    log("building program and harness with sbt")
    build_log = WORK / "build.log"
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "export harness/Runtime/fullClasspath"],
                     HARNESS, build_log, time.monotonic() + BUILD_LIMIT_S)
    lines = [l for l in build_log.read_text(errors="replace").splitlines()
             if l.startswith("/") and ".jar" in l]
    if code != 0 or not lines:
        log(f"build failed; see {build_log}")
        sys.exit(1)
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    fp_file.write_text(fp)
    return cp


# ------------------------------------------------------------------ run

def run_group(cmd, cwd, log_path, deadline):
    """Runs `cmd` in a process group of its own with output to `log_path`;
    kills the whole group if it outlives `deadline`. Returns the exit
    code, or None on timeout."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=out,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"{cmd[0]} timed out")
            return None


def run_jvm(cp, args, cwd, deadline):
    """Runs the harness JVM; returns its result, or None if it failed."""
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Harness"] + args)
    code = run_group(cmd, cwd, cwd / "jvm.log", deadline)
    if code != 0:
        tail = (cwd / "jvm.log").read_text(errors="replace")[-3000:]
        log(f"harness JVM exited with {code}:\n{tail}")
        return None
    return json.loads((cwd / "result.json").read_text())


def oracle_check(result, verify_dir):
    """Failure records for warm-up results that differ from DuckDB's.
    Every warm-up round's result is checked, each under its own wave."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    # a warm-up operation that threw is already a failure
    warm = sorted((o["pass"], o["name"]) for o in result["ops"]
                  if o["pass"] < 0 and o["kind"] == "query" and o["ok"])
    oracle = {}
    failures = []
    for wave, name in warm:
        sql = result["oracle_sql"].get(name)
        out = verify_dir / f"w{-wave}" / name
        files = sorted(str(p) for p in out.glob("*.parquet"))
        try:
            if sql is None:
                raise AssertionError("no oracleSql entry")
            if not files:
                raise AssertionError("no output written")
            if name not in oracle:
                odf = con.sql(sql).df()
                cols = list(odf.columns)
                oracle[name] = (cols, benchlib.norm_rows(
                    cols, odf[cols].itertuples(index=False)))
            cols, orows = oracle[name]
            sdf = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            if sorted(cols) != sorted(sdf.columns):
                raise AssertionError(f"schema {sorted(sdf.columns)} vs "
                                     f"oracle {sorted(cols)}")
            srows = benchlib.norm_rows(cols, sdf[cols].itertuples(index=False))
            if len(orows) != len(srows):
                raise AssertionError(f"rows {len(srows)} vs oracle {len(orows)}")
            diff = [(s, o) for s, o in zip(srows, orows) if s != o]
            if diff:
                raise AssertionError(f"{len(diff)} mismatched rows; first: "
                                     f"spark={diff[0][0]} oracle={diff[0][1]}")
        except Exception as e:  # an oracle error is a failed check too
            failures.append({"name": name, "kind": "oracle", "pass": wave,
                             "exception": type(e).__name__,
                             "message": str(e)[:2000], "frames": []})
    con.close()
    return failures


# -------------------------------------------------------------- metrics

def timed(result):
    return [o for o in result["ops"] if o["pass"] >= 0]


def end_to_end(result):
    ops = [o for o in timed(result) if o["ok"]]
    queries = [o["latency_s"] for o in ops if o["kind"] == "query"]
    reads = [o["latency_s"] for o in ops
             if o["role"] == benchlib.READ and o["kind"] == "query"]
    writes = [o["latency_s"] for o in ops
              if o["role"] == benchlib.WRITE and o["kind"] != "teardown"]
    pct, tail, n = benchlib.tail_percentile(queries)
    m = {
        "setup_s": result["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in result["passes"]),
        "query_p50_s": statistics.median(queries),
        "query_tail_s": tail,
        "cpu_s": statistics.median(p["cpu_s"] for p in result["passes"]),
        "retained_heap_mb": result["retained_heap_mb"],
        "write_p50_s": statistics.median(writes),
    }
    if n <= 10:
        tail_note = ("; fewer than 11 samples, so no percentile has 10 "
                     "beyond it and the maximum is reported")
    elif pct < 50:
        tail_note = ("; at this sample count the highest percentile with 10 "
                     "beyond it lies below the median, so this carries no "
                     "tail information")
    else:
        tail_note = ""
    notes = {"query_tail_s": f"p{pct:.1f} of {n} samples" + tail_note,
             "write_p50_s": f"{len(writes)} samples"}
    # printed, not gated: on driver_probes the reads are q96 alone, too
    # few samples for a bound
    info = {"read_p50_s": (statistics.median(reads), "s",
                           f"{len(reads)} samples; not gated")}
    return m, notes, info


def per_layer(result, trace):
    """Per-pass sums of each layer's numbers; the median over passes."""
    spans = [e for e in trace["traceEvents"] if e["ph"] == "X"]
    jobs_by_parent = {}
    for e in spans:
        if e["cat"] == "job":
            jobs_by_parent.setdefault(e["args"]["parent"], []).append(
                (e["ts"], e["ts"] + e["dur"]))
    build_self_us = {}
    for e in spans:
        if e["cat"] == "phase" and e["name"] == "operators.build":
            op_id = e["args"]["parent"]
            build_self_us[op_id] = benchlib.self_time(
                (e["ts"], e["ts"] + e["dur"]),
                jobs_by_parent.get(e["args"]["id"], []))
    per_pass = []
    for p in result["passes"]:
        ops = [o for o in timed(result) if o["pass"] == p["pass"]]
        c = lambda k: sum(o["counters"].get(k, 0) for o in ops)
        wall_ms = p["wall_s"] * 1e3
        build_ms = sum(o["build_s"] for o in ops) * 1e3
        op_ms = sum(o["latency_s"] for o in ops) * 1e3
        queries = [o for o in ops if o["kind"] == "query"]
        reads = [o for o in queries if o["role"] == benchlib.READ]
        routed = [o for o in reads if o["counters"].get("summary_scans", 0)]
        per_pass.append({
            "operators.build_ms": build_ms,
            "operators.build_jobs": c("build_jobs"),
            "operators.build_self_ms": sum(
                build_self_us.get(o["id"], 0) for o in queries) / 1e3,
            "operators.build_share": build_ms / op_ms if op_ms else 0.0,
            "plans.analysis_ms": c("analysis_ms"),
            "plans.optimization_ms": c("optimization_ms"),
            "plans.planning_ms": c("planning_ms"),
            "plans.query_executions": c("query_executions"),
            "plans.summary_setup_ms": sum(
                o["latency_s"] for o in ops if o["kind"] == "setup") * 1e3,
            "plans.summary_drop_ms": sum(
                o["latency_s"] for o in ops if o["kind"] == "teardown") * 1e3,
            "plans.summary_routed_ratio":
                len(routed) / len(reads) if reads else 0.0,
            "exec.run_ms": sum(o["latency_s"] - o["build_s"]
                               for o in queries) * 1e3,
            "exec.jobs": c("jobs"),
            "exec.stages": c("stages"),
            "exec.tasks": c("tasks"),
            "exec.task_run_ms": c("task_run_ms"),
            "exec.task_cpu_ms": c("task_cpu_ns") / 1e6,
            "exec.task_gc_ms": c("task_gc_ms"),
            "exec.task_wait_ms": c("task_wait_ms"),
            "exec.busy_frac": c("task_run_ms") / (wall_ms * CORES),
            "exec.shuffle_bytes": c("shuffle_bytes"),
            "exec.spill_bytes": c("spill_bytes"),
            "sources.rows_read": c("rows_read"),
            "sources.bytes_read": c("bytes_read"),
            "sources.bytes_written": c("bytes_written"),
            "driver.gc_ms": p["gc_ms"],
            "driver.jit_ms": p["jit_ms"],
            "trace.pass_s": p["wall_s"],
        })
    m = {k: statistics.median(pp[k] for pp in per_pass)
         for k in per_pass[0]}
    m["machine.control_s"] = statistics.median(result["control_s"])
    return m


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(benchlib.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src").is_dir():
        log(f"no graft sources next to {HERE.name}/; nothing to benchmark")
        sys.exit(2)
    if not all((DATA / f"{t}.parquet").is_file() for t in TABLES):
        log(f"fixtures missing under {DATA}")
        sys.exit(2)

    cp = build_classpath()
    deadline = time.monotonic() + RUN_LIMIT_S - 10
    run_dir = WORK / f"run-{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    out_dir = WORK / "out"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    out_dir.mkdir(parents=True, exist_ok=True)
    try:
        plan = benchlib.make_plan(a.workload, a.seed,
                                  benchlib.timed_passes(a.seconds))
        (run_dir / "plan.tsv").write_text(
            "".join("\t".join(map(str, op)) + "\n" for op in plan))
        trace_path = out_dir / f"trace_{a.workload}_s{a.seed}.json"
        result = run_jvm(cp, [
            "--workload", a.workload, "--plan", str(run_dir / "plan.tsv"),
            "--data", str(DATA), "--out", str(run_dir / "result.json"),
            "--verify", str(run_dir / "verify"), "--trace", str(a.trace), "--trace-out", str(trace_path),
            "--cores", str(CORES)], run_dir, deadline)
        if result is None:
            sys.exit(1)
        failures = result["failures"] + oracle_check(result, run_dir / "verify")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(result["ops"])
    failed = len(failures)
    if a.trace:
        metrics = per_layer(result, json.loads(trace_path.read_text()))
        units = PER_LAYER_UNITS
        notes, info = {}, {}
    else:
        metrics, notes, info = end_to_end(result)
        units = dict(END_TO_END)
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "held_out_seed": benchlib.HELD_OUT_SEED,
        "passes": len(result["passes"]), "attempted": attempted,
        "failed": failed, "failed_frac": failed / attempted,
        "failures": failures, "notes": notes, "info": info,
        "control_s": result["control_s"], "metrics": metrics,
        "ops": [{k: o[k] for k in ("pass", "seq", "kind", "name", "role",
                                   "build_s", "latency_s", "ok")}
                for o in result["ops"]],
        "wall_s": time.monotonic() - start,
    }
    detail_path = out_dir / f"{a.workload}_s{a.seed}_t{a.trace}.json"
    detail_path.write_text(json.dumps(detail, indent=1))

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"timed passes {len(result['passes'])}  "
          f"held-out seed {benchlib.HELD_OUT_SEED}")
    for k, v in metrics.items():
        note = f"  ({notes[k]})" if k in notes else ""
        print(f"  {k:28s} {v:14.6g} {units[k]}{note}")
    for k, (v, unit, note) in info.items():
        print(f"  {k:28s} {v:14.6g} {unit}  ({note})")
    print(f"  {'failed_frac':28s} {failed / attempted:14.6g} ratio  "
          f"({failed} of {attempted} operations; not gated)")
    for f in failures:
        print(f"  FAILED {f['name']} [{f['kind']}] {f['exception']}: "
              f"{f['message'][:300]}")
    print(f"  control_s before/after {result['control_s']}; "
          f"details in {detail_path.relative_to(ROOT)}")
    if a.trace:
        print(f"  trace {trace_path.relative_to(ROOT)}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
