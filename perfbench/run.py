#!/usr/bin/env python3
"""Core-pipeline benchmark runner.

    python3 perfbench/run.py --workload lww_json --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the engine and the harness with
sbt (perfbench/build.sbt) whenever a source changed, generates the
seeded corpus (cached under perfbench/work), then runs the workload in
one JVM and prints its result JSON as the last line of stdout. Exits
non-zero, without a result, if the tree or the toolchain is missing, and
non-zero with a result whose "correct" is false if an output check failed.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, "perfbench", "work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
           os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
WORKLOADS = ("lww_json", "restage_lz4", "cql_wide_rt")
# Fixed JVM settings. The heap bounds Spark's execution memory, which
# lww_json's sort outgrows; fixed generation sizes keep warm-up short.
JVM = ["-Xms512m", "-Xmx512m", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
# A measured run (gen + set-ups + run, after any build) ends within this many seconds.
RUN_DEADLINE_S = 175
# Set-ups timed in separate processes before the run's own; setup_s is
# the median of all of them.
EXTRA_SETUPS = 2
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# Taken from a login shell when the toolchain is not on this process's PATH.
TOOL_VARS = ("SPARK_HOME", "JAVA_HOME", "SBT_OPTS", "COURSIER_MODE")

_children = []


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, timeout, cwd=ROOT, env=None, log=None):
    """Runs one child to completion (killed on timeout); returns (code, stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=log or subprocess.DEVNULL, text=True, start_new_session=True)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...", 3)
    finally:
        _children.remove(p)
    return p.returncode, out


def stop_children(*_):
    for p in list(_children):
        try:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        except OSError:
            pass
    sys.exit(130)


def login_env():
    """The environment a login shell sets up, or {} if there is none."""
    try:
        out = subprocess.run(["bash", "-lc", "env -0"], stdin=subprocess.DEVNULL, capture_output=True,
                             timeout=30).stdout
    except (OSError, subprocess.TimeoutExpired):
        return {}
    return dict(kv.split("=", 1) for kv in out.decode(errors="replace").split("\0") if "=" in kv)


def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for path in paths:
            h.update(path[len(ROOT):].encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness, and copies the engine's resources (its data
    source registrations), when any source changed since the last build."""
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        code, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"],
                              timeout=850, cwd=BENCH, log=log)
        log.write(out)
    if code != 0:
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def java(mode, args, timeout):
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # spill and shuffle files stay in the work dir
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = (["java"] + JVM + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Main", mode, "--work", WORK] + args)
    with open(os.path.join(WORK, f"{mode}.log"), "w") as log:
        code, out = run_child(cmd, timeout, env=env, log=log)
    return code, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    if not (os.environ.get("SPARK_HOME") and shutil.which("java") and shutil.which("sbt")):
        # the toolchain may be set up only for login shells
        login = login_env()
        for k in TOOL_VARS:
            if login.get(k) and not os.environ.get(k):
                os.environ[k] = login[k]
        os.environ["PATH"] = os.pathsep.join(p for p in (os.environ.get("PATH"), login.get("PATH")) if p)
    if not os.environ.get("SPARK_HOME") or shutil.which("java") is None:
        fail("java and SPARK_HOME are required")
    build()

    if a.selftest:
        code, out = java("selftest", ["--seed", str(a.seed)], timeout=600)
        print(out, end="")
        sys.exit(code)
    if a.workload is None:
        fail("--workload is required")

    start = time.monotonic()
    wl = ["--workload", a.workload, "--seed", str(a.seed)]
    code, out = java("gen", wl, timeout=60)
    print(out, end="")
    if code != 0:
        fail(f"corpus generation failed, see {os.path.join(WORK, 'gen.log')}", 4)
    setups = []
    for _ in range(EXTRA_SETUPS if a.trace == 0 else 0):  # a traced run reports no setup_s
        code, out = java("setup", wl, timeout=60)
        print(out, end="")
        times = [line.split()[2] for line in out.splitlines() if line.startswith("# setup_s ")]
        if code != 0 or not times:
            fail(f"set-up failed, see {os.path.join(WORK, 'setup.log')}", 4)
        setups += times
    code, out = java("run", wl + ["--seconds", str(a.seconds), "--trace", str(a.trace)] +
                     (["--setups", ",".join(setups)] if setups else []),
                     timeout=max(10, RUN_DEADLINE_S - (time.monotonic() - start)))
    lines = out.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        print(out, end="")
        fail(f"no result (exit {code}), see {os.path.join(WORK, 'run.log')}", 5)
    print(out, end="")
    sys.exit(code)


if __name__ == "__main__":
    main()
