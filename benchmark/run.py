#!/usr/bin/env python3
"""Benchmark of the graft engine: the reference transaction pipeline
(Confluent-Avro decode -> status filter -> FX projection -> Avro encode) in
bulk and as an open-loop stream, and a cold pass over the SQL gate keys.

    python3 benchmark/run.py --workload <pipe_bulk|pipe_stream|gates_sql>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and the
harness from source with sbt (both land under target/ directories); later
runs reuse the build while the sources are unchanged. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
The lines before it print every metric by name and unit, failed_ratio
included. See benchmark/README.md for what each workload and metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("pipe_bulk", "pipe_stream", "gates_sql")
JVM_LIMIT_S = 160      # a run, apart from building, must end within 180 s
BUILD_LIMIT_S = 850    # the first run in a checkout builds
# A fixed heap and young generation: the collector's adaptive sizing
# otherwise moves the peak resident set by a quarter from run to run.
HEAP_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn1g"]


def die(msg, code=2):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    digest = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            digest.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                digest.update(fh.read())
    return digest.hexdigest()


def build():
    launch = os.path.join(WORK, "launch.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return launch
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                         HERE, env, out, BUILD_LIMIT_S)
    if rc != 0 or not os.path.exists(launch):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"build failed (rc {rc}); see {log}", 1)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return launch


def run_bounded(cmd, cwd, env, out, limit_s):
    """Run `cmd` in its own process group; kill the group past `limit_s`."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def compare_gates(data_dir, out_dir):
    """The engine's own DuckDB oracle compare over the dumped gate results.
    Returns the FAIL lines."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                        data_dir, out_dir], capture_output=True, text=True, timeout=120)
    lines = p.stdout.splitlines()
    fails = [ln for ln in lines if ln.startswith("FAIL ")]
    if p.returncode != 0 and not fails:
        fails = ["FAIL oracle compare did not run: " + (p.stderr.strip().splitlines() or ["?"])[-1]]
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "compare.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"not a checkout of the engine: {need} is missing")
    os.makedirs(WORK, exist_ok=True)
    launch = build()
    t_run = time.monotonic()

    for d in ("spark-local", "checkpoints", "warehouse", "gates-out", "data", "tmp", "out"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(os.path.join(WORK, "out"))

    data_dir = os.path.join(WORK, "data")
    gen_s = 0.0
    if args.workload == "gates_sql":
        sys.path.insert(0, HERE)
        import gen_tables
        t0 = time.monotonic()
        gen_tables.generate(data_dir, args.seed)
        gen_s = time.monotonic() - t0

    with open(launch) as fh:
        lines = [ln.rstrip("\n") for ln in fh if ln.strip()]
    classpath, jvm_opts = lines[0], lines[1:]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *jvm_opts, *HEAP_OPTS, f"-Djava.io.tmpdir={WORK}/tmp",
           "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", WORK, "--data", data_dir]
    jvm_log = os.path.join(WORK, "out", "jvm.log")
    result_file = os.path.join(WORK, "out", "result.json")
    with open(jvm_log, "w") as out:
        rc = run_bounded(cmd, ROOT, dict(os.environ), out,
                         JVM_LIMIT_S - (time.monotonic() - t_run))
    if rc != 0 or not os.path.exists(result_file):
        with open(jvm_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"workload {args.workload} failed (rc {rc}); see {jvm_log}", 1)
    with open(result_file) as fh:
        res = json.load(fh)

    failed, checks = res["failed"], list(res["checks"])
    if args.workload == "gates_sql":
        fails = compare_gates(data_dir, os.path.join(WORK, "gates-out"))
        failed += len(fails)
        checks += fails
    metrics = res["metrics"]
    if args.trace and args.workload == "gates_sql":
        metrics["gen.s"]["value"] = gen_s

    for d in ("spark-local", "checkpoints", "warehouse", "gates-out", "data", "tmp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)

    for c in checks:
        print(f"check: {c}")
    for m in res["info"]:
        print(f"info {m['name']} = {m['value']} {m['unit']}")
    print(f"metric failed_ratio = {failed / res['attempted']} fraction")
    for name in sorted(metrics):
        print(f"metric {name} = {metrics[name]['value']} {metrics[name]['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
