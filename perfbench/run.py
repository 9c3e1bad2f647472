#!/usr/bin/env python3
"""Run one benchmark workload against the engine source of this checkout.

    python3 perfbench/run.py --workload fullpass --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (perfbench/build.sbt) and caches the classpath, keyed by a
digest of every source and build file; later runs start the JVM directly.
Inputs, the build cache and scratch space live under perfbench/.state.
The last line of standard output is the JSON result.
"""
import argparse
import hashlib
import os
import pathlib
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = HERE / ".state"
WORKLOADS = ("fullpass", "lifecycle", "resubmit", "pipeline", "stream")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# The JDK 17 module opens Spark needs outside spark-submit (the same list
# as the root build's javaOptions).
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


def build_inputs():
    """Every file the build reads: engine and harness sources, build files."""
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [ROOT / "build.sbt", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt"))
    files += sorted((ROOT / "project").glob("*.properties"))
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the cached build; return the
    runtime classpath."""
    engine = ROOT / "src" / "main" / "scala" / "graft"
    if not engine.is_dir() or not (ROOT / "build.sbt").is_file():
        raise SystemExit(f"perfbench: no engine source at {engine}; run from "
                         "the root of a checkout of the repository")
    key = digest(build_inputs())
    cache = STATE / "classpath.txt"
    if cache.is_file():
        stamp, _, cp = cache.read_text().partition("\n")
        if stamp == key and all(pathlib.Path(p).exists()
                                for p in cp.split(os.pathsep) if p):
            return cp
    log("building engine and harness with sbt")
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "[error]" in out.stdout:
        sys.stderr.write(out.stdout)
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    STATE.mkdir(parents=True, exist_ok=True)
    cache.write_text(key + "\n" + cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    cp = classpath()
    tmp = STATE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed-size heap: G1 would otherwise shrink it after the full GC
    # that follows every iteration and regrow it during the next one
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={STATE / 'warehouse'}",
           f"-Dderby.system.home={STATE}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--dir", str(STATE)]
    proc = subprocess.Popen(cmd, cwd=STATE, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: run timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise SystemExit(f"perfbench: run failed with exit code {rc}")


if __name__ == "__main__":
    main()
