#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness if needed
(perfbench/build.py), generates the seeded inputs (perfbench/gen.py, untimed),
runs the closed-loop harness (perfbench/scala/PerfBench.scala) on
local[<cores>] in a fresh JVM with its own java.io.tmpdir and spark.local.dir,
checks every output (DuckDB oracle via tools/check.py, or the raster
invariants inside the harness), deletes the run directory, and prints one
JSON object as the last line: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. Workloads, metrics and the layer map are described in
perfbench/SUITE.json.
"""
import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("suite_sf01", "raster_mosaic")
PROBE_DOCS = 10000
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def metric_spec():
    """The end_to_end and per_layer metric lists of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def quantile(xs, q):
    """Linear-interpolation quantile (q in [0, 1])."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def span_self_times(spans):
    """Self seconds per span name (a span minus its children), per pass order."""
    child = {}
    for sid, _, parent, _, start, end in spans:
        child[parent] = child.get(parent, 0) + (end - start)
    out = {}
    for sid, name, _, _, start, end in spans:
        out[name] = out.get(name, 0.0) + (end - start - child.get(sid, 0)) / 1e9
    return {k: round(v, 4) for k, v in sorted(out.items(), key=lambda kv: -kv[1])}


def oracle_check(check_dir, data_dir):
    """tools/check.py on the harness's check outputs; returns failing op names."""
    path = os.path.join(ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(check_dir, data_dir)
    fails = {}
    for line in buf.getvalue().splitlines():
        if line.startswith("FAIL "):
            name = line[5:].split(":", 1)[0].strip()
            fails[name] = line
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "check.py")):
        fail("engine sources or tools/check.py missing: run from the root of a full checkout")
    spec = metric_spec()
    import build
    import gen
    classpath = build.build()

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build.build_dir(), "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out, tmp = (os.path.join(run_dir, d) for d in ("data", "out", "tmp"))
    for d in (data, out, tmp):
        os.makedirs(d)
    try:
        t0 = time.time()
        extra = []
        if args.workload == "suite_sf01":
            inputs = gen.suite_tables(data, args.seed, sf=0.1)
            n_docs = inputs["documents"]["rows"]
        else:
            inputs, n_docs = {}, 0
        if args.trace:
            # skewed docs for the extract/operators/lineage probes
            probe = os.path.join(run_dir, "probe_docs")
            inputs["probe_docs"] = gen.hotspot_docs(probe, args.seed, PROBE_DOCS)
            extra = ["--probe_docs", probe]
        gen_s = time.time() - t0

        cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xmn768m", "-XX:G1HeapRegionSize=16m", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "org.apache.spark.graftbench.PerfBench",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--data", data, "--out", out, "--cores", str(cores)] + extra)
        t_jvm = time.time()
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = -9
        result_path = os.path.join(out, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"harness exited with {rc}")
        with open(result_path) as fh:
            rec = json.load(fh)

        jvm_s = time.time() - t_jvm
        # ---- output checks (untimed)
        t_check = time.time()
        failed_ops = {c["op"]: c["error"] for c in rec["checks"] if c["error"]}
        if args.workload != "raster_mosaic":
            failed_ops.update(oracle_check(os.path.join(out, "check"), data))
        check_s = time.time() - t_check
        names = rec["op_names"]
        threw = sum(1 for e in rec["op_errors"] if e)
        attempted = len(names)
        failed = sum(1 for n, e in zip(names, rec["op_errors"]) if e or n in failed_ops)

        passes = rec["pass_s"]
        calib = (rec["calib_before_s"], rec["calib_after_s"])
        drift = abs(calib[1] / calib[0] - 1.0)
        pass_bound = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "pass_s")
        if args.workload == "raster_mosaic":
            items = rec["inputs"]["cells_per_pass"] / statistics.median(passes)
        else:
            flag = [a + b for a, b in zip(
                [w for n, w in zip(names, rec["op_s"]) if n == "q16_docs_pip"],
                [w for n, w in zip(names, rec["op_s"]) if n == "q17_span_tiles"])]
            items = n_docs / statistics.median(flag)
        end_to_end = {
            "setup_s": rec["setup_s"],
            "pass_s": statistics.median(passes),
            "op_p50_s": quantile(rec["op_s"], 0.5),
            "op_p90_s": quantile(rec["op_s"], 0.9),
            "items_per_s": items,
            "rss_peak_mb": rec["rss_peak_mb"],
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        info = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "generate_s": round(gen_s, 3), "jvm_s": round(jvm_s, 3), "check_s": round(check_s, 3),
            "phase_s": rec["phase_s"], "inputs": inputs, "harness_inputs": rec["inputs"],
            "passes": len(passes), "pass_samples_s": passes,
            "op_median_s": {n: statistics.median([w for m, w in zip(names, rec["op_s"]) if m == n])
                            for n in rec["ops"]},
            "ops": attempted, "ops_threw": threw,
            "fail_ratio": failed / attempted, "failed_checks": failed_ops,
            "calib_s": calib,
            "contended": drift > pass_bound, "host": rec["host"],
            "known_defects": rec["known_defects"],
        }
        if args.trace:
            info["span_self_s"] = span_self_times(rec["spans"])
            trace_dir = os.path.join(build.build_dir(), "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_file = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
            with open(trace_file, "w") as fh:
                json.dump({"columns": ["id", "name", "parent", "op", "start_ns", "end_ns"],
                           "spans": rec["spans"]}, fh)
            info["trace_file"] = os.path.relpath(trace_file, ROOT)
            layer = rec["layer"]
            info["layer_extra"] = {k: v for k, v in layer.items() if k not in units}
            metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            metrics = {k: {"value": v, "unit": units[k]} for k, v in end_to_end.items()}
        print(json.dumps(info))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
