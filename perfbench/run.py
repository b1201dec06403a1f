#!/usr/bin/env python3
"""Full-output, layer-attributed benchmark of the registry (see README.md).

Run from the repository root:

    python3 perfbench/run.py --workload analyst --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source on first use (cached under
.bench_build/, keyed by a hash of the sources), runs one workload in one
JVM, and prints one JSON object as the last line of stdout. Everything the
run writes stays under .bench_build/ in the current directory; its scratch
directory is deleted at the end. A traced run (--trace 1) also writes its
spans to .bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import uuid

BENCH = "perfbench"
ENGINE_SRC = os.path.join("src", "main", "scala")
BUILD_DIR = ".bench_build"
JVM_TIMEOUT_S = 170
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


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not os.path.isdir(os.path.join(home, "jars")):
        fail(f"no jars/ under Spark home {home}")
    return home


def sources():
    out = []
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(env):
    """Compiles into .bench_build/classes-<hash of sources>, once per source state."""
    h = hashlib.sha256()
    for p in sources() + [os.path.join(BENCH, "build.sh")]:
        h.update(p.encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = f"{classes}.tmp-{uuid.uuid4().hex}"
    try:
        subprocess.run(["sh", os.path.join(BENCH, "build.sh"), tmp], env=env, check=True,
                       stdout=sys.stderr, timeout=850)
        os.rename(tmp, classes)
    except (subprocess.SubprocessError, OSError) as e:
        fail(f"build failed: {e}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["analyst", "write_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources ({ENGINE_SRC}) not found; run from the repository root")
    data = os.path.abspath(os.path.join(BENCH, "data", "sf0.01"))
    refs = os.path.abspath(os.path.join(BENCH, "refs", "sf0.01.tsv"))
    for p in (data, refs):
        if not os.path.exists(p):
            fail(f"missing {p}")

    env = dict(os.environ, SPARK_HOME=spark_home())
    classes = os.path.abspath(build(env))
    run_dir = os.path.abspath(os.path.join(BUILD_DIR, "runs", f"{os.getpid()}-{uuid.uuid4().hex[:8]}"))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Spark prefers this variable over spark.local.dir; keep shuffle files in the run dir.
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    trace_out = os.path.abspath(os.path.join(
        BUILD_DIR, "traces", f"{args.workload}-seed{args.seed}.json"))
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-XX:-UsePerfData", "-Xms4g", "-Xmx4g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-cp", classes + os.pathsep + os.path.join(env["SPARK_HOME"], "jars", "*"),
            "graft.perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--refs", refs, "--run-dir", run_dir, "--trace-out", trace_out]
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if out is None:
        fail(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = line[len("PERFBENCH_RESULT "):]
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        fail(f"benchmark JVM exited with code {proc.returncode}"
             + ("" if result else " and printed no result"))
    json.loads(result)
    print(result)


if __name__ == "__main__":
    main()
