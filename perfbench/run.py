#!/usr/bin/env python3
"""Benchmark of the graft bikeshare engine: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the benchmark's own Scala sources into .bench_build/;
later runs reuse the build while the sources are unchanged. Each run works
in a fresh directory under .bench_build/runs/ and removes it at the end.

With --trace 0 the last stdout line reports the end-to-end metrics named
in BENCHMARK.json; with --trace 1 it reports the per-layer metrics, and the
spans land in .bench_build/trace/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
JVM_TIMEOUT_S = 165
JVM_HEAP = "2g"
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars: $SPARK_JARS, else the directory the sbt build takes
    its unmanaged jars from."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_JARS to the directory of the Spark jars")
    return m.group(1)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(HERE, "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        fail(f"engine sources not found under {main}; run from the root of a checkout")

    def scala_files(d):
        return sorted(os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs if f.endswith(".scala"))
    return scala_files(main), scala_files(bench)


def build():
    """Compiles the engine, then the benchmark against it, with scalac from
    the Spark jars; each part is rebuilt only when its sources changed."""
    main, bench = sources()
    jars = spark_jars()
    key = ""
    for name, files in (("main", main), ("bench", bench)):
        h = hashlib.sha256(key.encode())
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
        key = h.hexdigest()
        out = os.path.join(BUILD, name)
        stamp = out + ".stamp"
        if os.path.exists(stamp) and open(stamp).read() == key:
            continue
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        cp = (os.path.join(BUILD, "main") + os.pathsep if name == "bench" else "") + os.path.join(jars, "*")
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", out] + files
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail(f"compiling {name} failed")
        with open(stamp, "w") as fh:
            fh.write(key)


def run_jvm(args, run_dir, extra):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cp = os.pathsep.join([os.path.join(BUILD, "bench"), os.path.join(BUILD, "main"),
                          os.path.join(spark_jars(), "*")])
    # every scratch location inside the run directory (-XX:-UsePerfData:
    # no hsperfdata file in the system temp directory)
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", cp, "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores()),
            "--dir", run_dir, "--out", os.path.join(run_dir, "result.json")] + extra)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the JVM did not finish within {JVM_TIMEOUT_S} s")
    if p.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"the JVM exited with code {p.returncode}")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


def cores():
    return len(os.sched_getaffinity(0))


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def check(workload, res, run_dir):
    """Compares every timed op's result, row by row, with the independent
    answer. Returns (attempted, failed, first failures)."""
    import checks
    con = checks.connect(os.path.join(run_dir, "tmp"))
    c = res["check"]
    want = checks.expect_bikeshare(con, c) if workload == "bikeshare" else checks.expect_mix(con, c)
    results = {}
    with open(os.path.join(run_dir, "results.jsonl")) as fh:
        for line in fh:
            r = json.loads(line)
            results[r["digest"]] = r
    verdicts, failures = {}, []
    for op in res["ops"]:
        why = op["error"]
        if not why:
            key = (op["name"], op["result"])
            if key not in verdicts:
                got = results[op["result"]]
                verdicts[key] = checks.mismatch(got["columns"], got["rows"], *want[op["name"]])
            why = verdicts[key]
        if why:
            failures.append(f"{op['name']} ({op['window']} pass {op['pass']}): {why}")
    return len(res["ops"]), len(failures), failures


def end_to_end(res):
    ops = [o for o in res["ops"] if o["window"] == "untraced"]
    passes = [p for p in res["passes"] if p["window"] == "untraced"]
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["s"])
    pass_s = statistics.median(p["s"] for p in passes)
    return {
        "setup_s": res["setup_s"],
        "pass_s": pass_s,
        "op_geomean_s": math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by_name.values())),
        "cpu_s_per_op": statistics.median(p["cpu_s"] / p["ops"] for p in passes),
    }


def print_ops(res):
    by_name = {}
    for o in res["ops"]:
        by_name.setdefault(o["name"], []).append(o["s"])
    print("ops: median s (samples): " + ", ".join(
        f"{n} {statistics.median(v):.3f} ({len(v)})" for n, v in by_name.items()))


def print_trace(layers, spans_path):
    print("per-layer self time over the traced window:")
    print(f"  {'layer':<12} {'spans':>6} {'self_s':>10} {'dur_s':>10}")
    for row in layers["self_time"]:
        print(f"  {row['layer']:<12} {row['spans']:>6} {row['self_s']:>10.4f} {row['dur_s']:>10.4f}")
    print("ops: wall vs build + plan + exec (traced window, summed over passes):")
    for row in layers["op_coverage"]:
        share = row["children_s"] / row["wall_s"] if row["wall_s"] else 0.0
        print(f"  {row['op']:<22} n={row['n']:<3} wall={row['wall_s']:.4f} build={row['build_s']:.4f} "
              f"plan={row['plan_s']:.4f} exec={row['exec_s']:.4f} covered={share:.1%}")
    print(f"tracing overhead: {layers['metrics']['trace.overhead_s']:+.4f} s per pass "
          "(traced pass_s - untraced pass_s)")
    print(f"spans: {os.path.relpath(spans_path, ROOT)}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")

    build()
    load_before = os.getloadavg()
    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        extra = []
        if args.trace:
            trace_dir = os.path.join(ROOT, ".bench_build", "trace")
            os.makedirs(trace_dir, exist_ok=True)
            spans_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.spans.jsonl")
            extra += ["--spans", spans_path]
        if args.workload == "operator_mix":
            import mixdata
            tables = os.path.join(run_dir, "tables")
            mixdata.generate(tables, args.seed)
            extra += ["--tables", tables]
        t0 = time.monotonic()
        res = run_jvm(args, run_dir, extra)
        t1 = time.monotonic()
        attempted, failed, failures = check(args.workload, res, run_dir)
        t2 = time.monotonic()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_after = os.getloadavg()

    for f in failures[:10]:
        print(f"FAILED {f}")
    info = {"workload": args.workload, "seed": args.seed, "nproc": cores(), "master": res["master"],
            "loadavg_before": load_before, "loadavg_after": load_after, "jvm_flags": res["jvm_flags"],
            "git_commit": git_commit(), "host": platform.node(), "python": platform.python_version(),
            "setup_reps_s": res["setup_reps_s"], "session_s": res["session_s"],
            "jvm_wall_s": t1 - t0, "check_wall_s": t2 - t1,
            "passes_s": [p["s"] for p in res["passes"] if p["window"] == "untraced"]}
    print(json.dumps({"run_info": info}))
    print_ops(res)
    if args.trace:
        layers = res["layers"]
        print_trace(layers, spans_path)
        metrics = {m["name"]: {"value": layers["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        e2e = end_to_end(res)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
