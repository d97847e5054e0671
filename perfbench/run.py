#!/usr/bin/env python3
"""Run one graft benchmark workload from the root of a graft checkout.

    python3 perfbench/run.py --workload vault_cdc --seed 1 --seconds 15 --trace 0

Builds the library and the benchmark from source (sbt, offline) into
perfbench/target the first time, caching the runtime classpath under the
build directory ($CARGO_TARGET_DIR, default .bench_build) keyed by a hash
of the sources. Then runs one workload in a fresh JVM and prints its
result as the last line of stdout: one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1).
Exits non-zero when the build fails, an output check fails, an op fails,
or the printed metrics differ from BENCHMARK.json.
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
ROOT = os.getcwd()
WORKLOADS = ("vault_cdc", "curate_serve")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, cwd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole
    group and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {timeout}s", 3)
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def source_hash():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs.sort()
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(work):
    cmd = ["java", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Xlog:all=warning:stderr",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd


def build(build_dir):
    """The benchmark's runtime classpath, built first if the sources
    changed since the cached build."""
    stamp_file = os.path.join(build_dir, "build.json")
    stamp = source_hash()
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp and all(
                os.path.exists(p) for p in cached["classpath"].split(os.pathsep)):
            return cached["classpath"]
    t0 = time.time()
    # dependencies resolve from the local caches only, never the network
    code, out = run_group(
        ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
         "export Runtime/fullClasspath"],
        HERE, BUILD_TIMEOUT_S, stdout=subprocess.PIPE, text=True,
        env=dict(os.environ, COURSIER_MODE="offline"))
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out)
        fail("build failed")
    cp = lines[-1]
    os.makedirs(build_dir, exist_ok=True)
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    return cp


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the root of a graft checkout: {need} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp = build(os.path.join(build_dir, "perfbench"))

    work = os.path.join(build_dir, "perfbench", "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(work) + [
        "-cp", cp, "graft.perfbench.Main", "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", os.path.join(HERE, "data", "sf0.1"), "--work", work]
    try:
        code, out = run_group(cmd, ROOT, RUN_TIMEOUT_S, stdout=subprocess.PIPE, text=True)
        if args.trace:
            spans = os.path.join(work, f"spans-{args.workload}-{args.seed}.json")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(build_dir, "perfbench"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(out)
        fail(f"no result line (exit {code})", code or 2)
    want = expected_metrics(args.trace)
    got = {n: m.get("unit") for n, m in result.get("metrics", {}).items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        fail(f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}, "
             f"units {sorted(n for n in got if n in want and got[n] != want[n])}", 4)
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()
