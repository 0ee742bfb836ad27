#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and caches the runtime classpath under the
build directory ($CARGO_TARGET_DIR, default .bench_build); later runs
start the JVM directly. The harness prints a report and, as its last
stdout line, one JSON result object. The exit code is non-zero when the
build or the run fails, or when any answer is wrong.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("point_get", "olap", "ingest", "dedup")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# JDK 17 module opens Spark needs outside spark-submit (the list Spark's
# launcher passes; the engine's build uses the same).
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


def sources_digest():
    """Digest of everything the build compiles, so a changed engine or
    harness rebuilds and an unchanged one reuses the cached classpath."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group and wait for it. On timeout, or
    when this script is told to stop, kill the whole group first."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout} s")


def classpath(build_dir, digest):
    cp_file = os.path.join(build_dir, f"classpath-{digest}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    opts = env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={sbt_tmp}"
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                          "compile", "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    return cps[-1]


def heap_size():
    """Half of physical memory, capped at 8g and at least 2g."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src; run from a full checkout")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    digest = sources_digest()
    cp = classpath(build_dir, digest)
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = (["java", f"-Xmx{heap_size()}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main"])
    try:
        # the fixed base tables, written once per build
        data = os.path.join(build_dir, f"data-{digest}")
        if not os.path.isdir(data):
            for old in os.listdir(build_dir):
                if old.startswith(("data-", "classpath-")) and digest not in old:
                    shutil.rmtree(os.path.join(build_dir, old), ignore_errors=True)
                    if os.path.isfile(os.path.join(build_dir, old)):
                        os.remove(os.path.join(build_dir, old))
            if run_bounded(java + ["--generate", data], BUILD_TIMEOUT_S, cwd=ROOT,
                           stdin=subprocess.DEVNULL, stdout=sys.stderr) != 0:
                fail("generating the base tables failed")
        rc = run_bounded(java + ["--workload", a.workload, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", a.trace, "--data", data,
                                 "--work", work, "--results", os.path.join(build_dir, "results")],
                         RUN_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
