#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as JSON.

    python3 perfbench/run.py --workload suite|serve|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. The first run compiles graft's
sources and the benchmark's with the Scala compiler shipped in Spark's
jars, into $CARGO_TARGET_DIR (default .bench_build); later runs reuse
that build while the sources are unchanged. Each run works in its own
directory under the build directory (fixture tables, temp files, Spark
scratch) and deletes it at the end. The last line of stdout is one JSON
object: correct, attempted, failed and metrics (the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1).
Set PERFBENCH_LOG=<file> to keep the JVM's log, which holds per-phase
and per-operation timings.
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
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        fail("no graft sources under src/main/scala; run from the root of a graft checkout")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(p))
    return prog + bench, res


def build():
    """Compile graft and the benchmark once per source tree; return the classes dir."""
    srcs, res = sources()
    jars = spark_jars()
    if not os.path.isdir(jars):
        fail(f"Spark jars not found at {jars} (set SPARK_HOME)")
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    base = build_dir()
    os.makedirs(base, exist_ok=True)
    out = os.path.join(base, "classes-" + h.hexdigest()[:20])
    with open(os.path.join(base, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(os.path.join(out, ".built")):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(base, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
        t0 = time.time()
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            fail("compilation failed")
        res_root = os.path.join(ROOT, "src/main/resources")
        for p in res:
            dst = os.path.join(tmp, os.path.relpath(p, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        open(os.path.join(tmp, ".built"), "w").close()
        for old in glob.glob(os.path.join(base, "classes-*")):
            if old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        os.rename(tmp, out)
        print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
        return out


def java_cmd(classes, run_dir, args):
    return (["java", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={run_dir}/tmp"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-cp", f"{classes}:{os.path.join(spark_jars(), '*')}", "perfbench.Main"] + args)


def run_jvm(classes, run_dir, args, deadline):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, GRAFT_FIXTURE_DIR=os.path.join(run_dir, "fixtures"))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(java_cmd(classes, run_dir, args), stdout=subprocess.PIPE,
                             stderr=log, env=env, cwd=run_dir, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            tail(log_path)
            fail("workload timed out")
        finally:
            # also reached when this runner is interrupted or terminated
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        tail(log_path)
        fail(f"workload exited with code {p.returncode}")
    lines = [l for l in out.decode(errors="replace").splitlines() if l.startswith("{")]
    if not lines:
        tail(log_path)
        fail("workload printed no result")
    return json.loads(lines[-1])


def tail(path, n=40):
    with open(path, errors="replace") as f:
        sys.stderr.write("".join(f.readlines()[-n:]))


def check_suite(res):
    """Hash every suite answer against the stored DuckDB oracle."""
    import pandas as pd
    from canon import canon
    with open(os.path.join(HERE, "oracle.json")) as f:
        oracle = json.load(f)
    passes = int(res["extra"]["passes"])
    answers = res["extra"]["answers"]
    wrong = 0
    for name, want in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(answers, name, "*.parquet")))
        if not files:
            continue  # the query failed in the check pass, already counted
        got = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        if got != want:
            wrong += 1
            print(f"perfbench: suite answer of {name} differs from the oracle: "
                  f"rows {got['rows']}/{want['rows']}", file=sys.stderr)
    # a wrong answer fails the query's check and every timed execution
    res["failed"] += wrong * (1 + passes)
    res["correct"] = res["correct"] and wrong == 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["suite", "serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated runner still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build()
    run_dir = os.path.join(build_dir(), "runs", f"{a.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        launch_ms = int(time.time() * 1000)
        res = run_jvm(classes, run_dir, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--launch-ms", str(launch_ms), "--run-dir", run_dir,
            "--data-dir", os.path.join(HERE, "data", "sf0.01")], time.time() + RUN_TIMEOUT_S)
        if a.workload == "suite":
            check_suite(res)
    finally:
        if os.environ.get("PERFBENCH_LOG"):
            shutil.copyfile(os.path.join(run_dir, "jvm.log"), os.environ["PERFBENCH_LOG"])
        shutil.rmtree(run_dir, ignore_errors=True)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got] if not a.trace else []
    if missing:
        fail(f"workload reported no {', '.join(missing)}")
    # a per-layer metric of a layer this workload does not drive reads 0
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
