#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source with sbt on first use
(perfbench/harness/build.sbt depends on the root build), writes the fixed
fixture tables with gen_tables.py, then runs the harness JVM. Everything
it builds or writes stays under .bench_build/ and the sbt target/ dirs of
the checkout. Exits non-zero without a result if the program cannot be
built or run, and non-zero after printing the result if an output check
failed.
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
WORKLOADS = ("batch_light", "stream_keyed")
SCALES = {"batch_light": ["0.01"], "stream_keyed": []}
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Spark on JDK 17 needs these outside spark-submit (the root build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def tree_digest(root, paths):
    """Digest of every file under `paths` (relative to root), by content."""
    h = hashlib.sha256()
    for p in paths:
        base = os.path.join(root, p)
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(base)
            for f in fs if "/target" not in d and "/project/project" not in d)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def build(root, cache):
    """Compiles program + harness once per source digest; returns the classpath."""
    digest = tree_digest(root, ["build.sbt", "project", "src/main",
                                "perfbench/harness/build.sbt", "perfbench/harness/project",
                                "perfbench/harness/src"])
    stamp = os.path.join(cache, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("digest") == digest and all(
                os.path.exists(p) for p in got["classpath"].split(os.pathsep)):
            return got["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building program and harness with sbt")
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "harness/compile", "export harness/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench", "harness"), env=env,
        stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    sys.stderr.write(out[-4000:])
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if code != 0 or not lines:
        raise RuntimeError(f"sbt build failed (exit {code})")
    classpath = lines[-1].strip()
    log(f"build done in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def tables(cache, workload):
    """Writes the fixed fixture tables once per generator version."""
    gen = os.path.join(HERE, "gen_tables.py")
    digest = tree_digest(HERE, ["gen_tables.py"])
    data = os.path.join(cache, "data")
    for scale in SCALES[workload]:
        out = os.path.join(data, f"perfbench_sf{scale}")
        stamp = os.path.join(out, ".digest")
        if os.path.exists(stamp) and open(stamp).read() == digest:
            continue
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, gen, out, scale], check=True, timeout=300)
        with open(stamp, "w") as f:
            f.write(digest)
    return data


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("no program sources here (build.sbt, src/main/scala/graft); run from the repo root")
        return 2
    cache = os.path.join(root, ".bench_build")
    os.makedirs(cache, exist_ok=True)
    try:
        classpath = build(root, cache)
        data = tables(cache, args.workload)
    except Exception as e:  # noqa: BLE001 - any build failure means no result
        log(f"set-up failed: {e}")
        return 3

    work = os.path.join(cache, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--data", data, "--work", work,
            "--expected", os.path.join(HERE, "expected_hashes.json")]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        log(f"harness timed out after {RUN_TIMEOUT_S} s")
        return 4
    finally:
        traces = [f for f in os.listdir(work) if f.startswith("trace-")] \
            if os.path.isdir(work) else []
        for f in traces:
            os.makedirs(os.path.join(cache, "traces"), exist_ok=True)
            shutil.move(os.path.join(work, f), os.path.join(cache, "traces", f))
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except Exception:  # noqa: BLE001 - no parseable result line
        log(f"harness exited {code} without a result")
        return 5
    print(json.dumps(result), flush=True)
    return 0 if code == 0 and result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
