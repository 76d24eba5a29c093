#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload stream_fresh_keys --seed 1 --seconds 30 --trace 0

The first run in a checkout builds the program and the benchmark with sbt
(offline, from the checkout's sources); later runs reuse the build while the
sources are unchanged. The run itself is one JVM (`perfbench.StreamBench`)
that drives the shipped `Pipeline` and writes a JSON artifact under
`perfbench/target/bench/artifacts/`. This script prints that artifact as one line,
then, as the last line, the result:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}` with the
end-to-end metrics of BENCHMARK.json (`--trace 0`) or its per-layer metrics
(`--trace 1`). It exits non-zero, without a result line, if it cannot build
or run, and with code 1 after the result line if an output check failed.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "target", "bench")
# A fixed heap (initial = max) keeps G1 from resizing it differently from
# run to run, which otherwise moves peak RSS by up to a third.
HEAP = "1g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list as the main build's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    cp_file = os.path.join(OUT, "classpath.txt")
    digest_file = os.path.join(OUT, "classpath.digest")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(digest_file):
        with open(digest_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx1g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(filter(None, [env.get("SBT_OPTS", "")] + opts))
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=fh,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [ln.strip() for ln in lines
           if not ln.startswith("[") and ".jar" in ln and os.pathsep in ln]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {rc}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(digest_file, "w") as f:
        f.write(digest)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test size: small batches, the minimum batch count")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: add 1 to one expected count, which must fail the check")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found; run from the root of a checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: the benchmark builds the program from this checkout")

    cp = build()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}" + ("-tiny" if a.tiny else "")
    work = os.path.join(OUT, "work", tag)
    artifact = os.path.join(OUT, "artifacts", tag + ".json")
    for p in (work, os.path.join(OUT, "logs"), os.path.dirname(artifact)):
        os.makedirs(p, exist_ok=True)
    if os.path.exists(artifact):
        os.remove(artifact)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.StreamBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(work, "run"),
            "--artifact", artifact]
    if a.tiny:
        cmd.append("--tiny")
    if a.corrupt_expected:
        cmd.append("--corrupt-expected")
    log = os.path.join(OUT, "logs", tag + ".log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        with open(log, "w") as fh:
            rc = run_bounded(cmd, JVM_TIMEOUT_S, cwd=work, env=env, stdout=fh,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(artifact):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"benchmark JVM failed (exit {rc}); log in {log}")

    with open(artifact) as f:
        art = json.load(f)
    names = [m["name"] for m in spec["end_to_end" if a.trace == 0 else "per_layer"]]
    have = art["metrics"] if a.trace == 0 else art["per_layer"]
    metrics, missing = {}, []
    for n in names:
        m = have.get(n)
        if m is None or m["value"] is None or not math.isfinite(m["value"]):
            missing.append(n)
        else:
            metrics[n] = {"value": m["value"], "unit": m["unit"]}
    correct = bool(art["correct"]) and not missing
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
    print(json.dumps(art))
    print(json.dumps({"correct": correct, "attempted": art["attempted"],
                      "failed": art["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
