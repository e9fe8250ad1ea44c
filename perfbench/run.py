#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload tri_skewed --seed 1 --seconds 10 --trace 0

Steps: build the engine and the benchmark runner with sbt (skipped when no
source changed since the last build), generate the workload's inputs for the
seed (cached under perfbench/.work/inputs), then run the runner JVM directly
with `java`, so no sbt start-up falls inside any timing. With `--trace 1` the
runner also records spans and Spark listener counters per layer; they go to
perfbench/.work/out/ and the per-layer metrics are printed instead of the
end-to-end ones.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")

CPUS = 4
JVM_HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800

# Spark on JDK 17 needs these when a session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    files = []
    for pattern in ["build.sbt", "project/*.sbt", "project/build.properties", "src/main/**/*"]:
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    for pattern in ["build.sbt", "project/build.properties", "src/**/*"]:
        files += glob.glob(os.path.join(HERE, pattern), recursive=True)
    h = hashlib.sha256()
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    """The offline sbt settings the repository's own test run uses."""
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the engine and the runner; return the runtime classpath."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=BUILD_LIMIT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    cp = next((ln for ln in reversed(lines) if "perfbench/target" in ln and ":" in ln), None)
    if cp is None:
        fail(f"no classpath in the build output (log: {log})")
    with open(cp_file, "w") as f:
        f.write(cp.strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp.strip()


def run_runner(classpath, workload, input_dir, seconds, trace, out_dir, tag):
    scratch = os.path.join(WORK, "scratch", tag)
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    result = os.path.join(out_dir, f"{tag}.result.json")
    trace_out = os.path.join(out_dir, f"{tag}.trace.json")
    for f in (result, trace_out):
        if os.path.exists(f):
            os.remove(f)
    # keep the JIT compiler threads alive, so a pass's CPU time can leave theirs out
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:-UseDynamicNumberOfCompilerThreads"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", workload, "--input", input_dir, "--scratch", scratch,
            "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(CPUS),
            "--out", result, "--trace-out", trace_out]
    log = os.path.join(out_dir, f"{tag}.log")
    t0 = time.time()
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=scratch, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"runner exceeded {RUN_LIMIT_S} s (log: {log})")
    shutil.rmtree(scratch, ignore_errors=True)
    if code != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"runner exited with {code} (log: {log})")
    with open(result) as f:
        res = json.load(f)
    res["runner_wall_s"] = round(time.time() - t0, 3)
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the engine's sources (build.sbt, src/main/scala) are not in this checkout")
    with open(BENCHMARK) as f:
        spec = json.load(f)
    sys.path.insert(0, HERE)
    import gen  # noqa: E402  (numpy and pyarrow load only once the checks pass)
    if args.workload not in gen.WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {gen.WORKLOADS}")

    classpath = build()
    t0 = time.time()
    # inputs are cached by seed and by the generator's own source
    with open(os.path.join(HERE, "gen.py"), "rb") as g, open(os.path.join(HERE, "reference.py"), "rb") as r:
        version = hashlib.sha256(g.read() + r.read()).hexdigest()[:12]
    input_dir = os.path.join(WORK, "inputs", f"{args.workload}-seed{args.seed}-{version}")
    meta = gen.generate(args.workload, args.seed, input_dir)
    gen_s = time.time() - t0

    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    res = run_runner(classpath, args.workload, input_dir, args.seconds, args.trace, out_dir, tag)
    for e in res.get("errors", []):
        print(f"perfbench: {e}", file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            fail(f"metric {m['name']} missing from the runner's result")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    detail = dict(workload=args.workload, seed=args.seed, rows=meta["rows"], gen_s=round(gen_s, 3),
                  session_s=res["session_s"], jvm_s=res["jvm_s"],
                  runner_wall_s=res["runner_wall_s"], pass_s=res["pass_s"], pass_cpu_s=res["pass_cpu_s"], traced=res["traced"],
                  load1=os.getloadavg()[0], cpus=os.cpu_count())
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(dict(detail, metrics=res["metrics"]), f, indent=1)
    print(json.dumps(detail))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
