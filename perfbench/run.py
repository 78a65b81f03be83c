#!/usr/bin/env python3
"""Runs the graft benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --survey [--data DIR] [--ids a,b]
    python3 perfbench/run.py --record-goldens [--ids a,b|ALL]

Run from the root of a checkout of the repository. The first call builds the
engine and the benchmark from source with sbt (perfbench/build.sbt); later
calls reuse the build while the sources are unchanged. A workload run prints
its report and then, as the last line of stdout, one JSON object with the
keys correct, attempted, failed and metrics. Workload id lists live in
perfbench/workloads/, golden digests in perfbench/goldens.tsv and the input
tables in perfbench/data/. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = ["-Xms1g", "-Xmx1g", "-Xmn256m"]

# Spark 4 on JDK 17 needs these outside spark-submit (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an edited source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties"), os.path.join(BENCH, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the engine and the benchmark; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no engine sources under {ROOT}: run from a checkout of the repository")
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=sys.stderr, stdin=subprocess.DEVNULL,
            text=True, timeout=BUILD_TIMEOUT_S)
    except FileNotFoundError:
        die("sbt is not on PATH")
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def jvm(classpath, mode, args, timeout=None):
    """Runs perfbench.Main in a fresh JVM; returns (exit code, stdout lines)."""
    timeout = timeout or RUN_TIMEOUT_S
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + HEAP + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", mode, "--bench-dir", BENCH,
            "--work-dir", WORK] + args
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        die(f"{mode} did not finish within {timeout} s", 1)
    finally:
        if proc.poll() is None:  # timed out, or this script was interrupted
            proc.kill()
            proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)
    return proc.returncode, out.splitlines()


def run_workload(a):
    if not os.path.isfile(os.path.join(BENCH, "workloads", f"{a.workload}.ids")):
        die(f"unknown workload {a.workload}")
    cp = build()
    rc, lines = jvm(cp, "run", ["--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--commit", commit()])
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    for l in lines[:-1] if result is not None else lines:
        print(l)
    if rc != 0 or result is None:
        die(f"run failed (exit {rc})", 1)
    print(json.dumps(result))


def record_goldens(a):
    """Dumps the workloads' ids, checks every dump against DuckDB with
    tools/check.py, and keeps the digests of the ids that pass."""
    if a.ids:
        ids = a.ids
    else:
        wl = os.path.join(BENCH, "workloads")
        ids = sorted({l.split("#")[0].strip()
                      for f in os.listdir(wl) if f.endswith(".ids")
                      for l in open(os.path.join(wl, f)) if l.split("#")[0].strip()})
        ids = ",".join(ids)
    cp = build()
    out = os.path.join(BENCH, ".golden")
    shutil.rmtree(out, ignore_errors=True)
    rc, lines = jvm(cp, "golden", ["--out", out, "--ids", ids], timeout=3600)
    print("\n".join(lines))
    if rc != 0:
        die("golden dump failed", 1)
    chk = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                          os.path.join(BENCH, "data"), out],
                         capture_output=True, text=True)
    print(chk.stdout)
    passed = {l.split()[1].rstrip(":") for l in chk.stdout.splitlines() if l.startswith("PASS ")}
    with open(os.path.join(out, "digests.tsv")) as f:
        keep = [l for l in f if l.split("\t")[0] in passed]
    # goldens of ids not recorded this time stay as they were
    path = os.path.join(BENCH, "goldens.tsv")
    recorded = set(ids.split(",")) if ids != "ALL" else None
    with open(path) as f:
        others = [l for l in f if recorded is not None and l.split("\t")[0] not in recorded]
    with open(path, "w") as f:
        f.writelines(sorted(others + keep))
    shutil.rmtree(out, ignore_errors=True)
    print(f"kept {len(keep)} goldens")


def survey(a):
    cp = build()
    rc, lines = jvm(cp, "survey", (["--data", a.data] if a.data else []) +
                    (["--ids", a.ids] if a.ids else []), timeout=7200)
    print("\n".join(lines))
    sys.exit(rc)


def main():
    # a SIGTERM unwinds like Ctrl-C, so the JVM is killed and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--survey", action="store_true")
    p.add_argument("--record-goldens", action="store_true")
    p.add_argument("--data", help="--survey only: directory of input tables (default perfbench/data)")
    p.add_argument("--ids", help="comma-separated ids for --survey / --record-goldens")
    a = p.parse_args()
    if a.data and not a.survey:
        p.error("--data applies to --survey only: goldens are recorded on perfbench/data")
    if a.survey:
        survey(a)
    elif a.record_goldens:
        record_goldens(a)
    elif a.workload:
        run_workload(a)
    else:
        p.error("give --workload, --survey or --record-goldens")


if __name__ == "__main__":
    main()
