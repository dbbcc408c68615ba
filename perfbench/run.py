#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 12 --trace 0

The first run in a checkout compiles the engine together with the
harness (sbt, offline) and writes the fixture tables; later runs reuse
both until a source file changes. Everything the benchmark writes goes
under `.bench_build/` in the checkout. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}.
The exit code is 0 when every key's output matched its expected digest,
1 on any mismatch or error, 2 on a usage or set-up problem.

Maintenance modes (no time limit):
    --mode expected   rewrite perfbench/expected.tsv from this tree
    --mode survey     per-key construct / count() / materialise table of
                      every key, in .bench_build/results/survey/
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
FIXTURES = os.path.join(BUILD, "fixtures", "sf0.1")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
RUN_LIMIT_S = 170  # one run must end within 180 s of its start
HEAP = "4g"
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


def digest(paths):
    """sha256 over the contents of every file under `paths`, in path order."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def once(name, stamp, make):
    """Run `make()` unless its output is stamped `stamp`; one at a time."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, f"{name}.stamp")
    with open(os.path.join(BUILD, f"{name}.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return
        make()
        with open(stamp_file, "w") as fh:
            fh.write(stamp)


def build():
    log("compiling the engine and the harness (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    cp = [l for l in out.stdout.splitlines() if "classes" in l and l.startswith("/")]
    if out.returncode != 0 or not cp:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1].strip())


def fixtures():
    log("generating the sf0.1 fixture tables")
    shutil.rmtree(FIXTURES, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "gen_fixtures.py"), FIXTURES],
                   check=True, timeout=300)


def java_cmd(args, run_dir, out_dir, stamp):
    props = {
        "java.io.tmpdir": os.path.join(run_dir, "tmp"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "derby.system.home": os.path.join(run_dir, "derby"),
        "log4j2.configurationFile": os.path.join(HERE, "log4j2.properties"),
        "spark.ui.enabled": "false",
    }
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-D{k}={v}" for k, v in props.items()]
            + ["-cp", open(CLASSPATH).read().strip(), "perfbench.Main",
               "--mode", args.mode, "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--fixtures", FIXTURES,
               "--expected", os.path.join(HERE, "expected.tsv"),
               "--out", out_dir, "--stamp", stamp])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mode", choices=("run", "expected", "survey"), default="run")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        log(f"engine sources not found under {ENGINE_SRC}; run from a checkout of the repository")
        return 2
    if args.mode == "run" and not args.workload:
        log("--workload is required")
        return 2

    engine = digest([ENGINE_SRC])
    commit = shutil.which("git") and subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True).stdout.strip()
    once("build", digest([ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                          os.path.join(HERE, "project", "build.properties")]), build)
    once("fixtures", digest([os.path.join(HERE, "gen_fixtures.py")]), fixtures)

    name = args.workload if args.mode == "run" else args.mode
    out_dir = os.path.join(BUILD, "results", name, f"seed{args.seed}-trace{args.trace}")
    run_dir = os.path.join(BUILD, "run", str(os.getpid()))
    os.makedirs(out_dir, exist_ok=True)
    stamp = f"commit={commit or 'none'} engine_sha256={engine[:16]}"
    cmd = java_cmd(args, run_dir, out_dir, stamp)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(3)
    signal.signal(signal.SIGTERM, stop)
    try:
        return proc.wait(timeout=RUN_LIMIT_S if args.mode == "run" else None)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_LIMIT_S} s; stopped")
        stop()
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
