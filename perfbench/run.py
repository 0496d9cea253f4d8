#!/usr/bin/env python3
"""Store-and-query benchmark for the graft engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload cube_read --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json records why each was chosen):
  cube_read    seeded mix of full scans, inline/crossline sections, depth
               slices and metadata MIN/MAX over a v2 zstd cube
  cube_ingest  create + insertAligned of a v3 sharded blosc cube, unaligned
               sub-box overwrites, MdioStats.attach, checksum read-back
  query_mix    the engine's headline queries through the noop sink

The engine and the harness are compiled from this checkout with sbt on
first use (the classpath is cached under perfbench/.build). Each run
starts one JVM at local[nproc]; everything it writes stays under
perfbench/.work. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics: the BENCHMARK.json end_to_end
metrics with --trace 0, the per_layer metrics with --trace 1. The line
before it carries the workload's own named metrics and the run's stamp
(nproc, git sha, seed, geometry, codecs, heap, Spark version).

The benchmark's own checks, on a tiny cube and three queries, are in
test_smoke.py (python3 perfbench/test_smoke.py).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ("cube_read", "cube_ingest", "query_mix")
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (same list as the
# root build's javaOptions).
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
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out, err


def build():
    """Compile engine + harness with sbt (offline) and cache the classpath."""
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
              os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")]
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_mtime(inputs):
        with open(CLASSPATH) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                       " -Dsbt.override.build.repos=true -Xmx2g").strip()
    code, out, _ = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        timeout=840, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die(f"build failed (sbt exit {code})")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def git_sha():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def run_workload(cp, workload, seed, seconds, trace, smoke=False, wrong=False, timeout=170):
    """One JVM run; returns (report line dict, result line dict, stderr)."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(tmp)
    jvm = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    jvm += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    data = os.path.join(HERE, "data", "sf0.001")
    cmd = jvm + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", str(trace), "--work", WORK,
                 "--data", data, "--smoke", "1" if smoke else "0",
                 "--wrong-expected", "1" if wrong else "0"]
    env = dict(os.environ, PERFBENCH_GIT_SHA=git_sha())
    code, out, err = run_child(cmd, timeout=timeout, cwd=ROOT, env=env, text=True,
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               stdin=subprocess.DEVNULL)
    sys.stderr.write("".join(l + "\n" for l in err.splitlines() if l.startswith("[perfbench]")))
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or len(lines) < 2:
        sys.stderr.write(err[-6000:])
        die(f"{workload} run failed (jvm exit {code})")
    return json.loads(lines[-2]), json.loads(lines[-1]), err


def main():
    # a terminated run still stops its JVM (run_child kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no engine sources under {ROOT}; run from a full checkout")
    if a.workload is None:
        die("--workload is required")
    cp = build()
    report, result, _ = run_workload(cp, a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(report))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
