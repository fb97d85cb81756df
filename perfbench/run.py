#!/usr/bin/env python3
"""perfbench: the repository benchmark.

Generates one workload's inputs from the seed, builds and launches the
JVM program (perfbench.Main) that runs them through the engine's public
functions, checks every output, and prints the metrics. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 they are the per-layer ones, and the span and listener
summary is also written to perfbench/out/.

Usage: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
Run from the repository root; the first run builds with sbt.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import check  # noqa: E402
import gen  # noqa: E402

RUN_LIMIT_S = 170      # a run (after any build) must end within this
BUILD_LIMIT_S = 840
# A fixed heap and young generation, so the collector sizes them the same
# way on every run. The heap is not pre-touched: peak RSS counts the
# young generation, the old-generation regions the run filled, and
# native memory.
HEAP, YOUNG = "2g", "512m"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# measured operation kind of each workload; negative indexes are set-up
OP_KIND = {"etl_backfill": "pass", "ingest_hourly": "tick"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build():
    """Compile the engine and perfbench.Main with sbt, once per source state.
    Returns the runtime classpath.
    """
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    inputs += sorted(p for d in (ROOT / "src" / "main", BENCH / "src")
                     for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in inputs:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    stamp = h.hexdigest()
    target = BENCH / "target"
    cp_file, stamp_file = target / "classpath.txt", target / "build.stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    lines = [ln for ln in proc.stdout.splitlines() if ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed", 3)
    target.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return cp_file.read_text()


def launch(args, work, cpus, deadline):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    params = gen.WORKLOADS[args.workload]
    extra = []
    if args.workload == "ingest_hourly":
        extra = ["--warm-hours", str(params["warm_hours"]), "--period-s", str(params["period_s"])]
    tmp = work / "tmp"
    tmp.mkdir()
    cmd = [str(java), *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.classpath, "perfbench.Main",
           "--workload", args.workload, "--dir", str(work), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cpus", str(cpus), *extra]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    result = work / "result.json"
    if code != 0 or not result.is_file():
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        fail(f"perfbench.Main exited with {code}", 1)
    return json.loads(result.read_text())


def measured(res, kind):
    return [op for op in res["ops"] if op["kind"] == kind and op["index"] >= 0]


def run_checks(workload, res, files, truth, work):
    """Check every output of the run against the truth.

    Returns (problems, failed ops, measured ops, input rows per op,
    per-layer values the schedule gives, latency samples).
    """
    con = check.connect()
    ops = measured(res, OP_KIND[workload])
    warm = [op for op in res["ops"] if op not in ops]
    problems = [f"set-up {op['kind']} failed: {op['error']}" for op in warm if op["error"]]
    bad = [op for op in ops if op["error"]]
    found = {}
    rows = gen.input_rows(workload, files)
    p = gen.WORKLOADS[workload]
    if workload == "etl_backfill":
        readings = truth["readings"]
        check.parquet_view(con, "aq_mart", work / "mart")
        problems += check.check_mart(con, "aq_mart", readings, p["start"])
        problems += check.check_aqi_columns(con, "aq_mart")
        for op in ops:
            errs = [] if op["error"] else check.check_validate(op["detail"], len(readings))
            if errs:
                problems += errs
                bad.append(op)
        op_rows = [sum(rows.values())] * len(ops)
        samples = [op["latency_s"] for op in ops]
    else:
        landed = res["landed_hours"]
        check.parquet_view(con, "ingest_raw", work / "mart")
        check.parquet_view(con, "ingest_merged", work / "merged", hive=False)
        problems += check.check_mart(con, "ingest_merged", truth["readings"], p["start"], landed)
        problems += check.check_stream_mart(con, truth["readings"], landed)
        names = sorted(n for n in files if n.startswith("staged/"))
        op_rows = [sum(rows[names[k]] for k in op["detail"].get("hours", [])) for op in ops]
        samples = res["file_latency_s"]
        found = {"harness.schedule_lag_max_s": res["schedule_lag_max_s"],
                 "harness.backlog_max_files": res["backlog_max_files"]}
    problems += [f"{op['kind']} {op['index']} failed: {op['error']}" for op in bad if op["error"]]
    return problems, bad, ops, op_rows, found, samples


def end_to_end(res, ops, op_rows, samples, setup_s):
    """Rates are medians of the operations' own rates."""
    return {
        "setup_s": setup_s,
        "rows_per_s": statistics.median(r / op["latency_s"] for r, op in zip(op_rows, ops)),
        "ops_per_s": statistics.median(1 / op["latency_s"] for op in ops),
        "latency_p50_s": statistics.median(samples),
        "peak_rss_mb": res["peak_rss_mb"],
        "peak_heap_mb": res["peak_heap_mb"],
    }


def per_layer(res, ops, found, names):
    """Every per-layer value of the traced run: the names BENCHMARK.json
    lists (0 where the workload does not exercise them), plus the counts
    it does not list, such as io.dirs_written.
    """
    traced = {op["index"] for op in ops if op["traced"]}
    n = max(1, len(traced))
    out = {k: 0.0 for k in names}
    sums, peaks = {}, {}
    for rec in res.get("trace_ops", []):
        if rec["op"] in traced:
            for k, v in rec["sums"].items():
                sums[k] = sums.get(k, 0.0) + v
            for k, v in rec["peaks"].items():
                peaks[k] = peaks.get(k, 0.0) + v
    for k, v in list(sums.items()) + list(peaks.items()):
        out[k] = v / n
    out["io.files_per_dir"] = sums.get("io.files_written", 0.0) / max(1.0, sums.get("io.dirs_written", 0.0))
    for s in res.get("spans", []):
        name = s["name"]
        if name.startswith("op."):
            out["harness.self_s"] = out.get("harness.self_s", 0.0) + s["self_s"] / n
        elif name.startswith("pipeline."):
            out["pipeline.call_s." + name.split(".", 1)[1]] = s["total_s"] / n
        elif name == "streaming.start":
            out["streaming.start_s"] = s["total_s"] / n
    lat_t = [op["latency_s"] for op in ops if op["traced"]]
    lat_u = [op["latency_s"] for op in ops if not op["traced"]]
    if lat_t and lat_u:
        out["harness.trace_overhead_pct"] = (statistics.median(lat_t) / statistics.median(lat_u) - 1) * 100
    out["harness.traced_ops"] = float(len(traced))
    out.update(found)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in gen.WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {sorted(gen.WORKLOADS)}")
    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from a checkout of the repository: BENCHMARK.json and the engine "
             "sources (src/main/scala/graft) are needed")
    spec = json.loads(spec_file.read_text())
    build.classpath = build()
    started = time.time()
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    work = BENCH / "work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        # set-up, part 1: generate twice (the digests must agree), time
        # the median, write once
        gen_s, digests = [], set()
        for _ in range(2):
            t = time.perf_counter()
            files, truth = gen.generate(args.workload, args.seed, args.seconds)
            gen_s.append(time.perf_counter() - t)
            digests.add(gen.digest(files))
        if len(digests) != 1:
            fail("the generator gave different inputs for one seed", 1)
        t = time.perf_counter()
        gen.write(files, work)
        write_s = time.perf_counter() - t
        # set-up, part 2: JVM start, session, the workload's warm pass
        launched = time.time()
        res = launch(args, work, cpus, started + RUN_LIMIT_S)
        setup_s = statistics.median(gen_s) + write_s + (res["ready_ms"] / 1e3 - launched)
        t = time.perf_counter()
        problems, bad, ops, op_rows, found, samples = run_checks(
            args.workload, res, files, truth, work)
        check_s = time.perf_counter() - t
        attempted, failed = len(ops), len(bad)
        if not ops or not samples:
            problems.append("no operation completed in the timed window")
        correct = not problems and failed == 0
        if args.trace:
            names = [m["name"] for m in spec["per_layer"]]
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            layers = per_layer(res, ops, found, names) if ops else {}
            values = {k: layers[k] for k in names if k in layers}
        else:
            names = [m["name"] for m in spec["end_to_end"]]
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            layers = {}
            values = end_to_end(res, ops, op_rows, samples, setup_s) \
                if ops and samples else {}
        error_rate = failed / attempted if attempted else 1.0
        out_dir = BENCH / "out"
        out_dir.mkdir(exist_ok=True)
        summary = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "attempted": attempted, "failed": failed,
            "error_rate": error_rate, "problems": problems, "metrics": values,
            "layers": layers,
            "setup": {"generate_s": statistics.median(gen_s), "write_s": write_s,
                      "session_s": res["session_s"],
                      "jvm_to_ready_s": res["ready_ms"] / 1e3 - launched},
            "check_s": check_s, "jvm_exit_after_ready_s": res["exit_ms"] / 1e3 - res["ready_ms"] / 1e3,
            "samples": len(samples), "latency_s": samples, "found": found,
            "spans": res.get("spans", []),
            "unattributed_groups": res.get("unattributed_groups", 0),
            "params": gen.WORKLOADS[args.workload],
        }
        out_file = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        out_file.write_text(json.dumps(summary, indent=1, default=str) + "\n")
        for msg in problems[:10]:
            print(f"perfbench: CHECK FAILED: {msg}")
        print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
              f"{attempted} ops, {len(samples)} latency samples, "
              f"error_rate={error_rate:.4f} ({failed}/{attempted}); details in "
              f"{out_file.relative_to(ROOT)}")
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in names if k in values},
        }))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
