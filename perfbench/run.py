#!/usr/bin/env python3
"""Benchmark launcher: builds the program and the harness from source,
generates the operator-layer input tables once per checkout, runs one
workload in a fresh JVM and prints the result as one JSON line (the last
line of stdout).

    python3 perfbench/run.py --workload drain|steady --seed N \
        --seconds S --trace 0|1

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones.
Build outputs, generated data, per-run scratch and span files live under
`.bench_build/` in the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# operator-layer tables: the program's own deterministic generator, this scale
OPS_SCALE = "0.01"
# layers a workload does not touch; their per-layer metrics report 0
NOT_EXERCISED = {
    "drain": ("steady.", "ops."),
    "steady": ("baseline.",),
}
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def run_timeout_s(seconds):
    """The JVM's time limit: 170 s at `--seconds 10`, under the 180 s a run
    may take. A traced run measures for `seconds` up to three times
    (untraced, traced, operator probe) after at most about 80 s of start
    and warm-up."""
    return 140 + 3 * seconds


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_stamp():
    """Digest of every input of the build, so a checkout builds once."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program + harness with sbt; cache the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building program and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


def java_cmd(classpath, work, heap="3g"):
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    # a fixed set of JIT compiler threads: none exits mid-run, so the
    # harness can tell their CPU time from the pipeline's
    return cmd + ["-XX:-UseDynamicNumberOfCompilerThreads",f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={work}/tmp",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", classpath]


def ops_data(classpath):
    """Generate the `ops` tables once per checkout with graft.DataGen."""
    data = os.path.join(BUILD, "data", f"sf{OPS_SCALE}")
    done = os.path.join(data, "_COMPLETE")
    if os.path.isfile(done):
        return data
    shutil.rmtree(data, ignore_errors=True)
    work = os.path.join(BUILD, "datagen")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log(f"generating ops tables at scale {OPS_SCALE}")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    p = subprocess.run(java_cmd(classpath, work) + ["graft.DataGen", OPS_SCALE, data],
                       cwd=work, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("data generation failed")
    shutil.rmtree(work, ignore_errors=True)
    open(done, "w").close()
    return data


def run_jvm(classpath, args, data):
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(classpath, work) + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
        "--data", data, "--cores", str(cores()),
        "--launched-ms", str(int(time.time() * 1000)),
        "--hashes", os.path.join(HERE, "ops_fingerprints.tsv")]
    result, out_path = None, os.path.join(work, "jvm.out")
    with open(out_path, "w") as out, open(os.path.join(work, "jvm.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=err)
        try:
            proc.wait(timeout=run_timeout_s(args.seconds))
        except subprocess.TimeoutExpired:
            log(f"run exceeded {run_timeout_s(args.seconds):.0f} s")
        finally:
            # also reached on SIGTERM/SIGINT: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(out_path) as fh:
        for line in fh:
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                print(line.rstrip(), flush=True)
    if result is None or proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"workload run failed (exit {proc.returncode})")
    traces = os.path.join(BUILD, "traces")
    for f in os.listdir(work):
        if f.startswith("spans-"):
            os.makedirs(traces, exist_ok=True)
            shutil.move(os.path.join(work, f), os.path.join(traces, f))
            log(f"spans written to {os.path.relpath(os.path.join(traces, f), ROOT)}")
    shutil.rmtree(work, ignore_errors=True)
    return result


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["drain", "steady"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"no program to benchmark: {need} is missing")

    classpath = build()
    data = ops_data(classpath)
    res = run_jvm(classpath, args, data)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res["layers"] if args.trace else res["e2e"]
    metrics, missing = {}, []
    for m in wanted:
        v = got.get(m["name"])
        if v is None and args.trace and m["name"].startswith(NOT_EXERCISED[args.workload]):
            v = 0.0
        if v is None or not math.isfinite(v):
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        raise SystemExit(f"metrics not measured: {', '.join(missing)}")
    attempted, failed = int(res["attempted"]), int(res["failed"])
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
