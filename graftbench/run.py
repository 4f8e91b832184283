#!/usr/bin/env python3
"""Run one graftbench workload from the root of a graft checkout.

    python3 graftbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Builds the benchmark (graft's main sources plus graftbench/src) with sbt
when the sources changed since the last build, and records a class-data
archive from a smoke run of serve_read, so that each run's JVM starts
without loading and verifying Spark's classes again. Then runs the workload
in one JVM and prints its result as the last line of standard output:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Everything the run writes stays under graftbench/ (target/, .work/, out/).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "graftbench.stamp")
ARCHIVE = os.path.join(TARGET, "graftbench.jsa")
BUILD_TIMEOUT_S = 540
ARCHIVE_TIMEOUT_S = 150
RUN_TIMEOUT_S = 175

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
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    inputs = [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in (GRAFT_SRC, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    for path in sorted(inputs):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def benchmark_jar():
    jars = glob.glob(os.path.join(TARGET, "scala-2.13", "graftbench_2.13-*.jar"))
    return jars[0] if len(jars) == 1 else None


def build():
    stamp = source_stamp()
    if benchmark_jar() and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it builds the benchmark", 1)
    env = dict(os.environ, SPARK_HOME=spark_home())
    # the toolchain is pre-installed: never resolve anything remotely
    env["COURSIER_MODE"] = "offline"
    sbt_opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in sbt_opts:
        sbt_opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = sbt_opts.strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "clean", "package"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or benchmark_jar() is None:
        fail("sbt build failed", 1)
    print(f"graftbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    record_archive()
    with open(STAMP, "w") as f:
        f.write(stamp)


def record_archive():
    """Record the class-data archive from a smoke run of serve_read, whose
    classes (Spark SQL, graft.store, graft.ml) are most of what either
    workload loads. Without it the runs still work, only their JVMs start
    slower."""
    t0 = time.time()
    work = os.path.join(BENCH, ".work", f"archive-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    smoke = argparse.Namespace(workload="serve_read", seed=1, seconds=1,
                               trace=0, docs=100, setups=1, spans=None)
    cmd = java_cmd(smoke, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        proc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL,
                              timeout=ARCHIVE_TIMEOUT_S)
        ok = proc.returncode == 0 and os.path.exists(ARCHIVE)
    except subprocess.TimeoutExpired:
        ok = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not ok and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    print(f"graftbench: class-data archive {'recorded' if ok else 'NOT recorded'} "
          f"in {time.time() - t0:.1f} s", file=sys.stderr)


def spark_home():
    """The Spark install whose jars graft compiles and runs against."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark install: set SPARK_HOME or put Spark's bin/ on the PATH", 1)


def java_cmd(args, work, jvm_flags):
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # JVM warnings (class-data sharing among them) go to stderr, not stdout
    cmd = [java] + opens + jvm_flags + [
        "-Xlog:disable", "-Xlog:all=warning:stderr", "-Xmx3g", "-Xss4m",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", benchmark_jar() + os.pathsep + os.path.join(spark_home(), "jars", "*"),
        "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work,
    ]
    if args.spans:
        cmd += ["--spans", args.spans]
    if args.docs:
        cmd += ["--docs", str(args.docs)]
    if args.setups:
        cmd += ["--setups", str(args.setups)]
    return cmd


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["serve_read", "curate_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # smoke-size overrides for selftest.py; regular runs use neither
    ap.add_argument("--docs", type=int, default=0)
    ap.add_argument("--setups", type=int, default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (the BaseException path below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail(f"no graft sources under {GRAFT_SRC}: run from the root of a graft checkout")
    build()

    work = os.path.join(BENCH, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's scratch space (shuffle files, spills) stays in the run's work dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    args.spans = None
    if args.trace == 1:
        out = os.path.join(BENCH, "out")
        os.makedirs(out, exist_ok=True)
        args.spans = os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl")
    archive = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    proc = subprocess.Popen(java_cmd(args, work, archive), cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        out, _ = proc.communicate()
        sys.stderr.write(out)
        fail(f"workload did not finish within {RUN_TIMEOUT_S} s", 1)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0:
        sys.stdout.write("\n".join(lines[:-1] if lines[-1].startswith("{") else lines) + "\n")
        fail(f"workload exited with code {proc.returncode}", 1)
    result = json.loads(lines[-1])
    want = expected_metrics(args.trace == 1)
    if want is not None:
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != want:
            fail(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}", 1)
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
