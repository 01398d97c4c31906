#!/usr/bin/env python3
"""Benchmark launcher: builds the program and the benchmark from source,
generates the input tables once, runs one workload in a fresh JVM and
prints its result object as the last line of standard output.

    python3 perfbench/run.py --workload covid_backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --record-expected   # after an intended output change

Everything it builds or writes lives under `.bench_build/` in the
checkout. Spark and Scala come from the Spark distribution's jars
(`$SPARK_HOME/jars`), the jars build.sbt compiles against.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
MAIN_SRC = ROOT / "src" / "main" / "scala"
WORKLOADS = ("covid_backfill", "relational", "corpus")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

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


def spark_jars():
    jars = Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if "SPARK_HOME" not in os.environ or not any(jars.glob("scala-compiler-*.jar")):
        fail("SPARK_HOME must name a Spark distribution whose jars include the Scala compiler")
    return jars


def sources(root):
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def java_cmd(classpath, *args):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return ["java", "-Xmx3g", "-Xss8m", *opens,
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.stream.error.file={tmp / 'derby.log'}",
            "-cp", classpath, *args]


def run_child(cmd, timeout, stdout=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=stdout, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    return proc.returncode, out


def build(jars):
    """Compile the program and the benchmark into one class directory,
    reusing it while no source changed."""
    srcs = sources(MAIN_SRC) + sources(HERE / "src")
    classes = BUILD / f"classes-{digest(srcs, str(sorted(jars.iterdir())))}"
    if (classes / "_BUILT").exists():
        return classes
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old)
    classes.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(classes), "-classpath", cp, *map(str, srcs)]
    code, _ = run_child(cmd, BUILD_TIMEOUT_S, stdout=sys.stderr)
    if code != 0:
        fail("compilation failed")
    (classes / "_BUILT").touch()
    return classes


def generate(classpath):
    """Write the input tables once per generator version."""
    data = BUILD / f"data-{digest([HERE / 'src' / 'DataGen.scala'])}"
    if (data / "_GENERATED").exists():
        return data
    for old in BUILD.glob("data-*"):
        shutil.rmtree(old)
    work = BUILD / "work-gen"
    code, _ = run_child(java_cmd(classpath, "graft.perfbench.Main", "gen", str(data), str(work)),
                        RUN_TIMEOUT_S, stdout=sys.stderr)
    if code != 0:
        fail("input generation failed")
    (data / "_GENERATED").touch()
    return data


def record_expected(classpath, data):
    """Rewrite perfbench/expected.json from the current program's outputs."""
    work = BUILD / "work-record"
    shutil.rmtree(work, ignore_errors=True)
    (work / "spark-local").mkdir(parents=True)
    code, _ = run_child(java_cmd(classpath, "graft.perfbench.Main", "record", str(data),
                                 str(work), str(HERE / "expected.json")),
                        BUILD_TIMEOUT_S, stdout=sys.stderr)
    if code != 0:
        fail("recording expected outputs failed")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--record-expected", action="store_true",
                    help="re-record expected query outputs instead of running a workload")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=("0", "1"))
    args = ap.parse_args(argv)
    if not (MAIN_SRC / "graft").is_dir():
        fail(f"program sources not found under {MAIN_SRC}")
    if not args.record_expected and None in (args.workload, args.seed, args.seconds, args.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not args.record_expected and args.seconds < 1:
        fail("--seconds must be at least 1")
    jars = spark_jars()
    classes = build(jars)
    classpath = f"{classes}:{jars}/*"
    data = generate(classpath)
    if args.record_expected:
        record_expected(classpath, data)
        return
    work = BUILD / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "spark-local").mkdir(parents=True)
    results = BUILD / "results"
    results.mkdir(exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    cmd = java_cmd(classpath, "graft.perfbench.Main", "run",
                   "--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", args.trace,
                   "--data", str(data), "--work", str(work),
                   "--expected", str(HERE / "expected.json"),
                   "--spec", str(ROOT / "BENCHMARK.json"),
                   "--record", str(results / f"{tag}.json"),
                   "--spans", str(results / f"{tag}.spans.jsonl"))
    code, out = run_child(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    lines = out.decode("utf-8", "replace").strip().splitlines()
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with code {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out.decode("utf-8"))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
