#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds graft and the harness from source
with the Scala compiler that ships in the Spark jars build.sbt names (cached under
.bench_build/ by source hash), generates the workload's inputs from the
seed under a per-run temp root in .bench_tmp/, runs the harness JVM on
Spark local[<all cores>], checks its outputs (DuckDB oracle for
analytics), removes the temp root and
prints one JSON line: correct, attempted, failed and the metrics —
end-to-end ones with --trace 0, per-layer ones with --trace 1. Traced
runs also write their spans to .bench_out/.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402

JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# build.sbt's pinned run flags, with a 3 GiB heap in place of its 8 GiB:
# the benchmark's inputs are small (block-storage peak under 10 MB), and
# the heap stays pinned (Xms = Xmx) as build.sbt pins it.
JVM_FLAGS = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Xmx3g", "-Xms3g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseG1GC"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The jars build.sbt compiles against (its unmanagedBase), or
    $SPARK_HOME/jars when set."""
    if "SPARK_HOME" in os.environ:
        base = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            fail("no build.sbt naming the Spark jars: run from the repository root")
    jars = sorted(glob.glob(os.path.join(base, "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        fail(f"no Spark jars with a Scala compiler in {base} (set SPARK_HOME)")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        fail("no graft sources under src/main/scala: run from the repository root")
    return main, bench


def scalac(jars, classpath, out, files):
    cp = ":".join(classpath + jars)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars),
                        "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp]
                       + files, capture_output=True, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + (r.stdout + r.stderr)[-4000:])


def build(root, jars):
    """Compile graft and the harness unless a build of these sources exists."""
    main, bench = sources(root)
    h = hashlib.sha256()
    for f in main + bench + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, key)
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, "done")):
            shutil.rmtree(out, ignore_errors=True)
            tmp = tempfile.mkdtemp(prefix="build-", dir=base)
            os.makedirs(os.path.join(tmp, "graft"))
            os.makedirs(os.path.join(tmp, "bench"))
            scalac(jars, [], os.path.join(tmp, "graft"), main)
            scalac(jars, [os.path.join(tmp, "graft")], os.path.join(tmp, "bench"), bench)
            for old in os.listdir(base):   # earlier builds, of other sources
                if not old.startswith((".", "build-")):
                    shutil.rmtree(os.path.join(base, old), ignore_errors=True)
            open(os.path.join(tmp, "done"), "w").close()
            os.rename(tmp, out)
    return [os.path.join(out, "bench"), os.path.join(out, "graft")]


def java(cp, jars, args, cwd, log):
    """Run a JVM with the harness's flags; kill it (and wait) at the deadline."""
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + JVM_FLAGS + ["-cp", ":".join(cp + jars)] + args)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return rc


def run_jvm(cp, jars, tmp, args, log):
    rc = java(cp, jars, ["perfbench.Harness"] + args, tmp, log)
    kept = os.path.join(os.path.dirname(os.path.dirname(tmp)), ".bench_out",
                        f"harness-{args[1]}.log")
    shutil.copy(log, kept)
    if rc != 0:
        with open(log) as lf:
            lines = [x for x in lf if "Exception" in x or "[perfbench]" in x]
        fail(f"harness exited with {rc}; log kept at {kept}:\n" + "".join(lines[-20:]))


def declared(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def main():
    # A terminated run still stops its JVM and removes its temp root.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="graft benchmark run")
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "BENCHMARK.json")):
        fail("no BENCHMARK.json in the working directory: run from the repository root")
    end_to_end, per_layer = declared(root)
    jars = spark_jars(root)
    cp = build(root, jars)

    for d in (".bench_tmp", ".bench_out"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{a.workload}-s{a.seed}-", dir=os.path.join(root, ".bench_tmp"))
    try:
        # Graft keys some fixture directories by the input directory's
        # basename, so every run's input directory has its own.
        data = os.path.join(tmp, os.path.basename(tmp))
        t0 = time.perf_counter()
        gen.generate(a.workload, a.seed, data)
        gen_s = time.perf_counter() - t0
        if a.trace:
            gen.calibration_lineitem(a.seed, data)
        trace_out = os.path.join(root, ".bench_out", f"trace-{a.workload}-seed{a.seed}.jsonl")
        out = os.path.join(tmp, "result.json")
        run_jvm(cp, jars, tmp, ["--workload", a.workload, "--data", data,
                                "--work", os.path.join(tmp, "work"),
                                "--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--out", out, "--trace_out", trace_out],
                os.path.join(tmp, "harness.log"))
        t_jvm = time.perf_counter()
        with open(out) as f:
            res = json.load(f)
        checks = list(res["checks"])
        failed = res["failed"]
        if a.workload == "analytics":
            import oracle  # duckdb is only needed here
            bad = oracle.check(data, os.path.join(tmp, "work", "oracle"))
            checks.append({"name": "duckdb_oracle", "ok": not bad,
                           "detail": "; ".join(f"{k}: {v}" for k, v in sorted(bad.items()))[:2000]})
            failed += sum(n for q, n in res["op_counts"].items() if q in bad)
            res["oracle_s"] = time.perf_counter() - t_jvm
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    res["setup_s"] += gen_s
    res["gen_s"] = gen_s
    if a.trace:
        values = {m["name"]: res["per_layer"].get(m["name"], 0.0) for m in per_layer}
    else:
        values = {m["name"]: res[m["name"]] for m in end_to_end}
    # No value means no op completed (all failed): report 0, and incorrect.
    correct = (failed == 0 and all(c["ok"] for c in checks)
               and all(v is not None for v in values.values()))
    units = {m["name"]: m["unit"] for m in end_to_end + per_layer}
    metrics = {k: {"value": float(v or 0.0), "unit": units[k]} for k, v in values.items()}
    context = {k: res[k] for k in ("workload", "session_s", "prepare_s", "warmup_pass_s", "jit_settle_s",
                                   "reference_s",
                                   "pass_walls_s", "gen_s", "op_tail_pct", "op_samples",
                                   "op_median_ms", "partial", "errors", "context")}
    context["oracle_s"] = res.get("oracle_s", 0.0)
    context["seed"] = a.seed
    context["checks"] = checks
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
