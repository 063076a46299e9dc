#!/usr/bin/env python3
"""Pipeline benchmark launcher.

Builds the benchmark together with the program's sources (sbt, once per
source state; the classpath is cached in .bench_build/), then runs one
workload in a fresh JVM and relays its output. The last line printed is
the JSON result.

  python3 perfbench/run.py --workload sla_fanout --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --test        # the benchmark's own tests

Run from the repository root or anywhere else; paths are resolved from
this file's location. See perfbench/README.md.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
PROGRAM = ROOT / "src" / "main" / "scala"
WORKLOADS = ["lake_jobs", "sla_fanout", "stream_alarms"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit (the launcher's
# JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution: set SPARK_HOME")
    return home


def source_stamp():
    files = sorted(PROGRAM.rglob("*.scala")) + sorted(
        p for p in HERE.rglob("*")
        if p.is_file() and p.suffix in (".scala", ".sbt", ".properties")
        and "target" not in p.relative_to(HERE).parts)
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it, so no process outlives the call."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...", 3)
    return proc.returncode, out, err


def sbt(args, timeout):
    env = dict(os.environ, SPARK_HOME=spark_home())
    return run_group(["sbt", "--batch", "-Dsbt.log.noformat=true"] + args, timeout,
                     cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                     text=True)


def classpath():
    if not PROGRAM.is_dir():
        fail(f"program sources not found at {PROGRAM.relative_to(ROOT)}")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    BUILD.mkdir(exist_ok=True)
    code, out, _ = sbt(["compile", "export Runtime/fullClasspath"], BUILD_TIMEOUT_S)
    lines = [l for l in out.splitlines() if "scala-2.13" in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def run_workload(a):
    cp = classpath()
    work = BUILD / "runs" / f"{a.workload}-seed{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") \
        else "java"
    cmd = [java, "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work-dir", str(work),
            "--t0-ms", str(int(time.time() * 1000))]
    code, out, err = run_group(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True)
    for spans in work.glob("*.spans.jsonl"):
        (BUILD / "traces").mkdir(exist_ok=True)
        shutil.move(str(spans), str(BUILD / "traces" / spans.name))
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if code != 0 or not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(err[-6000:])
        sys.stderr.write(out[-2000:])
        fail(f"{a.workload} run failed (exit {code})", 1)
    sys.stdout.write(out)
    sys.stdout.flush()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if a.test:
        classpath()
        code, out, _ = sbt(["test"], BUILD_TIMEOUT_S)
        sys.stdout.write(out)
        sys.exit(code)
    if not a.workload:
        ap.error("--workload is required")
    run_workload(a)


if __name__ == "__main__":
    main()
