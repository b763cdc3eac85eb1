#!/usr/bin/env python3
"""Run one benchmark workload of the Spark engine and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark from source with sbt
(perfbench/build.sbt depends on the engine build at the checkout root) and
caches the runtime classpath under perfbench/target, keyed by a digest of
the sources and build files of both builds: a run after a change to any of
them rebuilds. Each run then starts
one JVM (perfbench.Main) whose scratch directory lives under
perfbench/work and is removed at exit. The last stdout line is the JSON
result; the run's self-describing record is kept under perfbench/results.
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
WORKLOADS = ("warehouse_load", "refresh_drain")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
BUILT_DIGEST = os.path.join(HERE, "target", "classpath.digest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest_inputs():
    """The files a build reads: sources and sbt build definitions of the
    engine (checkout root) and of the benchmark, without build outputs."""
    for top in (ROOT, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            if os.path.isfile(os.path.join(top, name)):
                yield os.path.join(top, name)
        proj = os.path.join(top, "project")
        if os.path.isdir(proj):
            for f in sorted(os.listdir(proj)):
                if f.endswith((".sbt", ".scala")) and os.path.isfile(os.path.join(proj, f)):
                    yield os.path.join(proj, f)
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def source_digest():
    """sha256 over every file in digest_inputs(), path and content."""
    h = hashlib.sha256()
    for p in digest_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 and out.stdout.strip() else "unavailable"
    except (OSError, subprocess.SubprocessError):
        return "unavailable"


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
    return p.returncode, out, err


def build(digest):
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    # no sbt server socket and no JVM perf-data file outside the checkout
    opts += f" -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["SBT_OPTS"] = opts.strip()
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    lines = [l for l in out.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail("build failed")
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip() + "\n")
    with open(BUILT_DIGEST, "w") as fh:
        fh.write(digest + "\n")


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    digest = source_digest()
    built = open(BUILT_DIGEST).read().strip() if os.path.exists(BUILT_DIGEST) else None
    if built != digest or not os.path.exists(CLASSPATH):
        build(digest)
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
              "--sha", git_sha(), "--source-digest", digest])
    t0 = time.time()
    try:
        code, out, err = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                   stderr=subprocess.PIPE, text=True)
        record = os.path.join(work, "record.json")
        if os.path.exists(record):
            os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
            shutil.copy(record, os.path.join(
                HERE, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if not lines:
        sys.stderr.write(err[-6000:])
        fail(f"no output (exit {code})")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        sys.stderr.write(err[-6000:])
        fail(f"last line is not JSON (exit {code})")
    missing = expected_metrics(a.trace == "1") - set(result.get("metrics", {}))
    for line in lines[:-1]:
        print(line)
    print(f"[perfbench] wall {time.time() - t0:.1f}s, jvm exit {code}", file=sys.stderr)
    if code != 0:
        sys.stderr.write(err[-6000:])
    if missing:
        fail(f"metrics missing from the result: {sorted(missing)}")
    print(json.dumps(result))
    sys.exit(0 if code == 0 and result.get("correct") else 1)


if __name__ == "__main__":
    main()
