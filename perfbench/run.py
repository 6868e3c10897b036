#!/usr/bin/env python3
"""Run one benchmark workload against the engine sources of this checkout.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 10 --trace 0

Run from the root of the checkout. The first run compiles the engine and
the benchmark with sbt (offline) into .bench_build/; later runs reuse the
build while the sources are unchanged. The JVM prints one JSON result line,
which this script repeats as the last line of its own standard output; a
per-run artifact (box stamp, check misses, details, spans when traced) is
written to .bench_build/out/. Exit code: 0 when every output check passed,
3 when a check failed, anything else when the run could not be made.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
WORKLOADS = ("cdc", "lake")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha1()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def sbt_env(home):
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's scratch files (socket dirs, extracted natives) in the checkout
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-XX:-UsePerfData", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", f"-Dsbt.ipcsocket.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(home):
    """Compile when the sources changed since the last build; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    files = source_files()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "sbt-target", "classpath.txt")
    stamp = fingerprint(files)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    code = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                     BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(home), stdout=sys.stderr)[0]
    if code != 0 or not os.path.isfile(cp_file):
        fail(f"build failed (sbt exit {code})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return open(cp_file).read().strip()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    (sbt's launcher script and its JVM alike) and wait for it. Returns
    (exit code or None on timeout, stdout)."""
    proc = subprocess.Popen(cmd, stderr=sys.stderr, text=True, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None


def java_cmd(classpath, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not java:
        fail("java not found")
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-XX:+UseG1GC",
                  "-XX:-UsePerfData",
                  "-cp", classpath, "perfbench.Main"]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="Spark local cores (default: min(4, available))")
    ap.add_argument("--dump", default=None,
                    help="lake only: write the generated tables, this engine's result "
                         "fingerprints and the oracle SQL here (input of tools/make_refs.py)")
    a = ap.parse_args()

    home = spark_home()
    classpath = build(home)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + (f"-c{a.cores}" if a.cores else "")
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    cmd = java_cmd(classpath, work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--refs", os.path.join(HERE, "refs"),
        "--out", os.path.join(out_dir, f"{tag}.json")]
    if a.cores:
        cmd += ["--cores", str(a.cores)]
    if a.dump:
        cmd += ["--dump", os.path.abspath(a.dump)]
    code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE)
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"no result line (JVM exit {code})")
    print(json.dumps(result))
    sys.exit(0 if code == 0 and result["correct"] else 3)


if __name__ == "__main__":
    main()
