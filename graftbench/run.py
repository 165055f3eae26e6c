#!/usr/bin/env python3
"""Builds the graft benchmark from source and runs one workload.

    python3 graftbench/run.py --workload <subset_copy|full_refresh|index_ingest>
                              --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the library and the benchmark with sbt
(offline, from the local dependency cache); later runs reuse the build while
the sources are unchanged. The last line of stdout is the JSON result. Each
run works in graftbench/target/work/ and keeps its trace artifact in
graftbench/target/traces/.
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
LIB = os.path.join(ROOT, "src", "main", "scala", "graft")
BUILD = os.path.join(HERE, "target", "bench")
DEADLINE_S = 175
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, compiling first when sources changed."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(3, "build failed")
    classpath = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classpath


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    if not os.path.isdir(LIB):
        fail(2, f"library sources not found at {os.path.relpath(LIB, ROOT)}; run from a full checkout")
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail(2, "BENCHMARK.json not found at the checkout root")
    classpath = build()
    build_s = time.time() - start

    work = os.path.join(HERE, "target", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # C1 only: with C2 an operation keeps getting faster for ~40 operations
    # (about a minute), so a timed phase of that length measures how far JIT
    # compilation has got; with C1 it levels off within the warm-up.
    # C1 alone would shrink the code cache to 48 MB, which Spark's generated
    # classes overflow; the cache keeps the size it has with C2.
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
    cmd += [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
            f"-Dderby.stream.error.file={work}/derby.log", "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    # The build may use the longer first-run allowance; a run itself gets the rest of the deadline.
    budget = DEADLINE_S - (0 if build_s > 60 else build_s)
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(4, f"run exceeded {budget:.0f} s")
    lines = out.strip().splitlines()
    artifact = os.path.join(work, "artifact.json")
    if os.path.exists(artifact):
        traces = os.path.join(HERE, "target", "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(artifact, os.path.join(traces, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(5, f"benchmark exited with {proc.returncode}")
    result = json.loads(lines[-1])
    got, want = list(result["metrics"]), expected_metrics(a.trace)
    if sorted(got) != sorted(want):
        sys.stdout.write("\n".join(lines[:-1]) + "\n")
        fail(6, f"metrics {sorted(set(got) ^ set(want))} differ from BENCHMARK.json")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
