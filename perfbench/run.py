#!/usr/bin/env python3
"""Run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the product and the
benchmark from source with sbt (offline) into `.bench_build/`; later runs
reuse that build while the sources are unchanged. The JVM prints a
`PERFBENCH_RECORD {...}` line (run record) and, as the last line of
standard output, the result object
`{"correct", "attempted", "failed", "metrics"}`.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("pyprima_etl", "index_maintain")
RUN_LIMIT_S = 175        # every run ends within 180 s ...
BUILD_RUN_LIMIT_S = 880  # ... except the one that builds (900 s)
HEAP = "3g"
# Each run is a short-lived JVM whose passes are bound by per-job latency;
# C2 compilation would spend more CPU than it saves and add warm-up noise
# (measured on a 4-core box: a cold pyprima_etl pass 47 s with C2 at
# 2.9 busy cores, 43 s with C1 only at 1.5 busy cores).
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:+UseG1GC"]

# Spark on JDK 17 outside spark-submit needs these (same list as the
# product build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build compiles, to reuse a build safely."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             ROOT / "src" / "main", HERE / "build.sbt",
             HERE / "project" / "build.properties", HERE / "src"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(digest, deadline):
    """Return the runtime classpath, building first if the sources changed."""
    stamp = BUILD / "classpath.stamp"
    cp_file = BUILD / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip(), False
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.forcestart=false",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                text=True, timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            die("build timed out", 3)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(l for l in p.stdout.splitlines() if l.startswith("[error]"))[-4000:] + "\n")
        die(f"build failed (see {log})", 3)
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1], True


def commit_id(digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + digest[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    start = time.time()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no product sources at {ROOT}: run from the root of a full checkout")

    digest = source_digest()
    cp, built = build(digest, start + BUILD_RUN_LIMIT_S - 60)
    deadline = start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)

    work = BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = shutil.which("java") or die("java not found")
    cmd = [java, *JVM_FLAGS, f"-Xms{HEAP}", f"-Xmx{HEAP}",f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--dir", str(work), "--commit", commit_id(digest)]
    log = work / "jvm.log"
    code = 1
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                    stderr=err, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
                code = proc.returncode
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.communicate()
                die(f"run exceeded its time limit", 4)
        result = [l for l in out.splitlines() if l.startswith('{"correct"')]
        if code != 0 or not result:
            sys.stderr.write(out[-2000:])
            sys.stderr.write(log.read_text()[-4000:])
            die(f"JVM exited with code {code} and no result", 1)
        for l in log.read_text().splitlines():
            if l.startswith("perfbench: "):
                print(l, file=sys.stderr)
        for l in out.splitlines():
            if l.startswith("PERFBENCH_RECORD "):
                print(l)
        print(result[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
