#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness from source with sbt (offline) into the checkout and caches the
resulting classpath under .bench_build/; later runs reuse it while the
sources are unchanged. Each run then starts one JVM (perfbench.Main) in a
fresh scratch directory under .bench_build/, which is deleted afterwards.
The JVM's last stdout line is the result object; the exit code is non-zero
when the build fails, a call throws or an output check fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("interactive", "ingest")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "classpath.stamp")
BUILD_TIMEOUT_S = 840
RUN_LIMIT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the library build's
# own javaOptions list, org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    for base in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                 "perfbench/project", "perfbench/src"):
        path = os.path.join(ROOT, base)
        if os.path.isfile(path):
            yield path
        for d, dirs, files in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    yield os.path.join(d, f)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"  # never resolve over the network
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Builds library + harness when the sources changed; returns the classpath."""
    want = stamp()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read() == want:
                with open(CLASSPATH) as cp:
                    return cp.read()
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if out.returncode != 0 or not cp or cp.startswith("[") or os.pathsep not in cp:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (sbt exit {out.returncode})")
    print(f"[perfbench] built library + harness in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return cp


def heap():
    """Half the machine's memory, between 2 and 4 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
        return f"{max(2, min(4, kb // 2 // (1 << 20)))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no library sources under {ROOT} (build.sbt, src/main/scala)")
    cp = classpath()

    run_dir = os.path.join(BUILD, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(run_dir)
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}",
           f"-Djava.io.tmpdir={run_dir}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", ROOT, "--run-dir", run_dir]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        # the build above is not counted: this limit covers the run alone
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if out is None:
        fail(f"run exceeded {RUN_LIMIT_S} s", 3)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        # a failed run prints its log, never a result line
        body = lines[:-1] if lines and lines[-1].startswith("{") else lines
        sys.stdout.write("".join(l + "\n" for l in body))
        fail(f"workload {a.workload} failed (exit {proc.returncode})", 1)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
