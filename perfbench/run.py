#!/usr/bin/env python3
"""Benchmark driver: builds the program and the benchmark from source, runs
one workload in a fresh JVM and prints the result as the last stdout line.

Usage (from the repository root):
    python3 perfbench/run.py --workload wide_meta --seed 1 --seconds 10 --trace 0

--trace 0 prints every end-to-end metric of BENCHMARK.json, --trace 1 every
per-layer metric (and writes spans and a layer report under .perfbench_out/).
Exits non-zero without a result line when the build, the run or a check of
the result's shape fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "sources.sha256")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
PREPARE_TIMEOUT_S = 300

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# program's own build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("[perfbench] " + msg, file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout
    and always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("program sources (build.sbt, src/main/scala) not found at " + ROOT)
    digest = source_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    # keep sbt's own state inside the checkout
    opts = env.get("SBT_OPTS", "")
    opts += " -Dsbt.global.base=%s -Dsbt.server.autostart=false" % os.path.join(BUILD, "sbt-global")
    env["SBT_OPTS"] = opts.strip()
    print("[perfbench] building program and benchmark with sbt", file=sys.stderr)
    rc, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeClasspath"],
                        BUILD_TIMEOUT_S, cwd=BENCH_DIR, env=env, stdout=sys.stderr,
                        stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        fail("build failed (sbt exit %s)" % rc)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return digest


def main():
    # a SIGTERM unwinds like an error: the JVM's process group is killed and
    # the scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail("unknown workload " + a.workload)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    digest = build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()

    # Inputs that do not depend on --seed are built once per build of the
    # sources and kept here; caches of other builds are dropped.
    caches = os.path.join(ROOT, ".perfbench_work", "cache")
    cache = os.path.join(caches, digest[:16])
    if os.path.isdir(caches):
        for d in os.listdir(caches):
            if d != digest[:16]:
                shutil.rmtree(os.path.join(caches, d), ignore_errors=True)
    out = os.path.join(ROOT, ".perfbench_out")

    def jvm(extra, timeout):
        """Runs perfbench.Main in a fresh JVM with its own scratch directory,
        removed afterwards. Returns (exit code or None on timeout, stdout)."""
        work = os.path.join(ROOT, ".perfbench_work", "%s-%d" % (a.workload, os.getpid()))
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp,
               "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", p + "=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--out", out,
                "--cache", cache] + extra
        try:
            return run_bounded(cmd, timeout, cwd=ROOT, stdout=subprocess.PIPE,
                               stdin=subprocess.DEVNULL)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    # the cached inputs are built in a JVM of their own, so the measured
    # run never inherits the warmth of building them
    prepared = os.path.join(cache, a.workload + ".prepared")
    if not os.path.isfile(prepared):
        rc, _ = jvm(["--prepare", "1"], PREPARE_TIMEOUT_S)
        if rc != 0:
            fail("preparing the %s inputs failed (exit %s)" % (a.workload, rc))
        open(prepared, "w").close()
        # write the new inputs back now, not during the measured run
        os.sync()

    rc, stdout = jvm([], RUN_TIMEOUT_S)
    if rc is None:
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    lines = [l for l in stdout.decode("utf-8", "replace").splitlines() if l.strip()]
    if rc != 0 or not lines:
        fail("run failed (exit %s)" % rc)
    try:
        res = json.loads(lines[-1])
    except ValueError:
        fail("last output line is not JSON: " + lines[-1][:200])
    got = res.get("metrics", {})
    missing = [m["name"] for m in wanted if not isinstance(got.get(m["name"], {}).get("value"), (int, float))]
    if missing:
        fail("metrics missing from the run: " + ", ".join(missing))
    metrics = {}
    for m in wanted:
        v = got[m["name"]]
        if v["unit"] != m["unit"]:
            fail("metric %s has unit %s, BENCHMARK.json says %s" % (m["name"], v["unit"], m["unit"]))
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    if a.trace:
        # the layer breakdown beyond BENCHMARK.json (self time per layer,
        # per-class latencies) stays in the report file; name it here
        print("[perfbench] full layer report: .perfbench_out/layers-%s-%d.json"
              % (a.workload, a.seed), file=sys.stderr)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
