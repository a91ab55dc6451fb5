#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repo root):
  python3 perfbench/run.py --workload <etl_monitored|query_mix|doc_stream>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark's Scala sources if they changed
(perfbench/build.py), runs one workload in a fresh JVM, checks its
outputs, and prints as the last line one JSON object:
  {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). Per-layer metrics of layers the workload
does not drive are reported as 0. Everything the run writes stays under
.bench_build/ in the repo root; spans and detail files land in
.bench_build/out/.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

# per-layer metric prefixes owned by each workload; "spark." and "trace."
# are reported by every workload
OWNED = {
    "etl_monitored": ("runner.", "merge.", "stages.", "catalog.", "http.", "monitor.", "etl."),
    "query_mix": ("query.",),
    "doc_stream": ("stream.",),
}
COMMON = ("spark.", "trace.")
JVM_DEADLINE_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(OWNED))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repo root")
    spec = json.load(open(spec_path))
    classes = build.build()

    out_dir = os.path.join(build.BUILD, "out")
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(build.spark_jars(), '*')}",
            "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--out", out_dir, "--pins", os.path.join(HERE, "pins.json"),
            "--deadline", str(JVM_DEADLINE_S)]
    log_path = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True,
                                  timeout=JVM_DEADLINE_S + 10)
    except subprocess.TimeoutExpired:
        fail(f"{a.workload} did not finish within {JVM_DEADLINE_S + 10}s (log: {log_path})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    detail = next((json.loads(l.split(" ", 1)[1]) for l in lines if l.startswith("PERFBENCH_DETAIL ")), None)
    if detail is None or not lines:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"{a.workload} printed no result (exit {proc.returncode})")
    res = json.loads(lines[-1])

    if a.trace:
        wanted = spec["per_layer"]
        got = res["metrics"]
        # tracing overhead: this run's op_s against the untraced runs of
        # the same workload recorded in this checkout
        base = [json.load(open(p))["end_to_end"]["op_s"]
                for p in glob.glob(os.path.join(out_dir, f"{a.workload}-seed*-trace0.json"))]
        base = [b for b in base if b]
        op = detail["end_to_end"]["op_s"]
        got["trace.overhead_frac"] = {"value": (op - statistics.median(base)) / statistics.median(base)
                                      if base and op else 0.0}
        for m in wanted:
            n = m["name"]
            if n not in got:
                if n.startswith(OWNED[a.workload]) or n.startswith(COMMON):
                    fail(f"{a.workload} did not report its per-layer metric {n}")
                got[n] = {"value": 0}
    else:
        wanted = spec["end_to_end"]
        got = res["metrics"]
    names = {m["name"] for m in wanted}
    extra = set(got) - names
    if extra:
        fail(f"metrics not declared in BENCHMARK.json: {sorted(extra)}")
    metrics = {}
    for m in wanted:
        v = got.get(m["name"], {}).get("value")
        if v is None:
            fail(f"{a.workload} reported no value for {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print("detail: " + json.dumps(detail))
    print(json.dumps({"correct": bool(res["correct"]) and proc.returncode == 0,
                      "attempted": int(res["attempted"]), "failed": int(res["failed"]),
                      "metrics": metrics}))
    sys.exit(0 if proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
