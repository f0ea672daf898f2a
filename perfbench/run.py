#!/usr/bin/env python3
"""Benchmark entry point: build the engine and the benchmark from source,
then run one workload in a fresh JVM.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run it from the repository root. The first call compiles `src/main/scala`
and `perfbench/scala` with the Scala compiler that ships in Spark's jar
directory ($SPARK_HOME/jars) into `.bench_build/`; later calls reuse the
classes while the sources are unchanged. Everything the run writes stays
under `.bench_build/` in the working directory.

The JVM prints a human-readable report and, as its last stdout line, the
raw JSON result. This script forwards the report and prints, as its own
last line, one JSON object {correct, attempted, failed, metrics} whose
metrics are exactly those BENCHMARK.json lists: the end-to-end ones in an
untraced run, the per-layer ones in a traced run (0 for a span the
workload does not run). It exits non-zero when a ground-truth check
failed, a metric is missing, or the build is impossible.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("curate", "ingest", "syllabus")
# a run still going after RUN_TIMEOUT_S is killed and fails; the build has its own cap
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (the same list
# build.sbt passes to forked test JVMs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("java not found: set JAVA_HOME")
    return exe


def scala_files(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def tree_digest(roots):
    h = hashlib.sha256()
    for root in roots:
        for d, _, files in sorted(os.walk(root)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def run_checked(cmd, timeout, what):
    """Run a build step; its output goes to stderr so stdout stays clean."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{what} timed out")
    if code != 0:
        fail(f"{what} failed (exit {code})")


def scalac(jars, out_dir, classpath, sources):
    os.makedirs(out_dir)
    argfile = out_dir + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    # no hsperfdata file in the system temp dir: write inside the checkout only
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-Djava.io.tmpdir=" + os.path.dirname(out_dir),
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir,
           "-classpath", classpath, "@" + argfile]
    run_checked(cmd, BUILD_TIMEOUT_S, "scalac " + os.path.basename(out_dir))
    os.remove(argfile)


def build(root):
    """Compile engine + benchmark into .bench_build/classes-<digest>."""
    src_main = os.path.join(root, "src", "main", "scala")
    resources = os.path.join(root, "src", "main", "resources")
    bench_src = os.path.join(BENCH_DIR, "scala")
    if not os.path.isdir(src_main):
        fail(f"engine sources not found under {src_main}; "
             "run from the repository root")
    jars = spark_jars()
    digest = tree_digest([src_main, resources, bench_src])[:16]
    build_root = os.path.join(root, ".bench_build")
    final = os.path.join(build_root, "classes-" + digest)
    if os.path.isdir(final):
        return jars, final
    os.makedirs(build_root, exist_ok=True)
    tmp = os.path.join(build_root, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    jar_cp = os.path.join(jars, "*")
    main_out = os.path.join(tmp, "main")
    t0 = time.time()
    scalac(jars, main_out, jar_cp, scala_files(src_main))
    if os.path.isdir(resources):
        shutil.copytree(resources, main_out, dirs_exist_ok=True)
    bench_out = os.path.join(tmp, "bench")
    scalac(jars, bench_out, main_out + os.pathsep + jar_cp,
           scala_files(bench_src))
    shutil.copy(os.path.join(BENCH_DIR, "log4j2.properties"), bench_out)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    for old in os.listdir(build_root):  # one build per checkout is enough
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(build_root, old), ignore_errors=True)
    os.rename(tmp, final)
    return jars, final


def jvm_command(jars, classes, main, args, work):
    cp = os.pathsep.join([os.path.join(classes, "bench"),
                          os.path.join(classes, "main"),
                          os.path.join(jars, "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # a fixed, pre-touched heap: the committed heap does not depend on when
    # the collector chose to grow it, so peak memory can be read as heap
    # pool peaks plus what the process holds beyond the committed heap; a
    # fixed young generation keeps the eden peak from following G1's sizing
    return [java_bin(), *opens, "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", "-Dfile.encoding=UTF-8",
            "-Dlog4j2.configurationFile=" +
            os.path.join(classes, "bench", "log4j2.properties"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", cp, main, *args]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own tests instead of a workload")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    jars, classes = build(root)
    work = os.path.join(root, ".bench_build", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    if a.self_test:
        cmd = jvm_command(jars, classes, "perfbench.SelfTest",
                          ["--work", work, "--cores", "2"], work)
    else:
        cmd = jvm_command(jars, classes, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cores", str(cores),
            "--traces", os.path.join(root, ".bench_build", "traces")], work)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timed_out = []

    def kill():
        timed_out.append(True)
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            if last is not None:
                print(last, flush=True)
            last = line.rstrip("\n")
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out:
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    if a.self_test:
        if last is not None:
            print(last)
        sys.exit(code)
    try:
        raw = json.loads(last)
    except (TypeError, ValueError):
        if last is not None:
            print(last)
        fail(f"the run printed no result (exit {code})")
    sys.exit(finish(root, raw, a.trace, code))


def finish(root, raw, trace, code):
    """Print the result with BENCHMARK.json's metric names and units."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics, missing = {}, []
    for m in bench["per_layer" if trace else "end_to_end"]:
        got = raw["metrics"].get(m["name"])
        if trace:
            value = 0 if got is None else got
        elif got is None or got["unit"] != m["unit"]:
            missing.append(m["name"])
            continue
        else:
            value = got["value"]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    correct = raw["correct"] and not missing
    if missing:
        print("perfbench: missing or mis-united metrics: " + ", ".join(missing),
              file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    return code if code != 0 else (0 if correct else 1)


if __name__ == "__main__":
    main()
