#!/usr/bin/env python3
"""Meter-pipeline benchmark.

Builds the program and the harness from the checkout's sources (once per
source state), runs one workload in one JVM and prints one JSON result line
last on stdout.

    python3 perfbench/run.py --workload store_query --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest     # smoke run of every workload, then
                                            # the negative cases

Run it from the root of a checkout. Workloads, metrics and seeds are
described in perfbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
WORKLOADS = ("stream_ingest", "store_query")
# What the program and the harness are built from.
SOURCES = ("build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src")
RUN_TIMEOUT_S = 170
# Spark's task slots. Two of the four cores: the JIT compiles through the
# whole run and the driver thread plans every read, and with all four cores
# in tasks a core the host takes away stalls the stage that waits on it.
CORES = 2
BUILD_TIMEOUT_S = 840
# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def fingerprint():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The harness's runtime classpath, building first if the sources
    changed since the last build."""
    out = os.path.join(build_dir(), "perfbench")
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "sources.sha256")
    stamp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building the program and the harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in res.stdout.splitlines()
             if l and not l.startswith("[") and "classes" in l]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(cp, run_dir, args):
    """Run the harness with `args`; returns (exit code, stdout lines)."""
    cores = min(CORES, os.cpu_count() or 1)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Run", "--out", run_dir] + args)
    # graft.Main reads its master and shuffle width from these.
    env = dict(os.environ, SPARK_MASTER=f"local[{cores}]",
               SPARK_GRAFT_CPUS=str(cores))
    err_path = os.path.join(run_dir, "stderr.log")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, text=True,
                                stdout=subprocess.PIPE, stderr=err)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            out, _ = proc.communicate()
            log(f"the run did not end within {RUN_TIMEOUT_S} s")
            proc.returncode = 124
        finally:  # also when this script is interrupted or terminated
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    lines = out.splitlines()
    for l in lines:
        print(l, flush=True)
    if proc.returncode != 0:
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    return proc.returncode, lines


def main():
    # A terminated run still stops its JVM and removes its directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    missing = [p for p in ("build.sbt", "src/main/scala/graft/Main.scala")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit("[perfbench] not a checkout of the program: missing "
                         + ", ".join(missing))
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("[perfbench] needs sbt and java on PATH")

    cp = classpath()
    runs = os.path.join(build_dir(), "runs")
    run_dir = os.path.join(runs, f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        if a.selftest:
            ok = True
            for mode in ("smoke", "negative"):
                t0 = time.time()
                rc, _ = run_jvm(cp, run_dir, ["--mode", mode, "--seed", str(a.seed)])
                log(f"{mode}: {'ok' if rc == 0 else 'FAILED'} in {time.time() - t0:.1f} s")
                ok = ok and rc == 0
            return 0 if ok else 1
        rc, _ = run_jvm(cp, run_dir, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)])
        result = os.path.join(run_dir, "result.json")
        if not os.path.exists(result):
            log("no result")
            return rc or 1
        with open(result) as f:
            print(f.read().strip(), flush=True)
        return rc
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
