#!/usr/bin/env python3
"""Build graft and its benchmark from source, then run one benchmark workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload catalog_api --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --record-digests

The first run compiles src/main/scala plus perfbench/src with the Scala
compiler that ships in the Spark jars, and generates the benchmark tables;
both are cached under the build directory ($CARGO_TARGET_DIR, default
.bench_build) and rebuilt when their sources change. Each run then starts one
JVM with fixed flags. The last line of stdout is the result JSON; nothing is
printed there when the run fails.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
# The table scales each workload reads; scene_ingest writes its own inputs.
SCALES = {"scene_ingest": (), "curation": ("0.01",), "catalog_api": ("0.1", "0.001")}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 300
# Fixed JVM flags: a fixed heap ceiling with the default initial heap (an
# -Xms equal to -Xmx pins the resident set near the ceiling whatever runs).
JVM_FLAGS = ["-Xmx3g", "-Xmn1g", "-XX:+UseG1GC"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME, else the first
    installation whose bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        d = os.path.join(home, "jars")
        if home and os.path.isdir(d) and any(f.startswith("scala-compiler") for f in os.listdir(d)):
            return d
    fail("no Spark jars with a Scala compiler (set SPARK_HOME)")


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def java_cmd(jars, classes, main, args, tmp, cores):
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(jars, "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + JVM_FLAGS + opens +
            ["-Djava.io.tmpdir=" + tmp,
             "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
             "-Dperfbench.cores=%d" % cores,
             "-cp", cp, main] + args)


def prune(prefix, keep):
    """Remove stale build outputs named prefix*, except `keep`."""
    for old in os.listdir(BUILD):
        path = os.path.join(BUILD, old)
        if old.startswith(prefix) and path != keep:
            shutil.rmtree(path, ignore_errors=True)


def build(jars):
    """Compile graft and the benchmark into BUILD/classes-<hash>."""
    srcs = sources(os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src"))
    classes = os.path.join(BUILD, "classes-" + digest(srcs))
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = os.pathsep.join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                               if j.startswith(("scala-compiler", "scala-library", "scala-reflect")))
    t0 = time.time()
    code, out = run_jvm(["java", "-Xss16m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                         "-nowarn", "-d", tmp, "-cp", os.path.join(jars, "*"), "@" + argfile],
                        BUILD_TIMEOUT_S)
    print("\n".join(out), file=sys.stderr)
    if code != 0:
        fail("compile failed")
    prune("classes-", tmp)
    os.rename(tmp, classes)
    print("perfbench: compiled %d files in %.1f s" % (len(srcs), time.time() - t0), file=sys.stderr)
    return classes


def data(jars, classes, cores, scales):
    """The directory of the generated tables; each scale in `scales` is
    generated once per generator version."""
    gen = os.path.join(BENCH, "src", "graft", "perfbench", "DataGen.scala")
    out = os.path.join(BUILD, "data-" + digest([gen]))
    os.makedirs(out, exist_ok=True)
    prune("data-", out)
    for scale in scales:
        table_dir = os.path.join(out, "sf" + scale)
        if os.path.isdir(table_dir):
            continue
        tmp, jvm_tmp = table_dir + ".tmp", table_dir + ".jvm-tmp"
        for d in (tmp, jvm_tmp):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(jvm_tmp)
        code, _ = run_jvm(java_cmd(jars, classes, "graft.perfbench.DataGen", [tmp, scale],
                                   jvm_tmp, cores), BUILD_TIMEOUT_S)
        shutil.rmtree(jvm_tmp)
        if code != 0:
            fail("data generation failed")
        os.rename(tmp, table_dir)
    return out


def run_jvm(cmd, timeout_s):
    """Run a JVM in its own process group; return (exit code, stdout lines).

    The JVM is killed, and waited for, when it outlives `timeout_s` or when
    this script is terminated."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True, text=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        out, _ = p.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        print("perfbench: run exceeded %d s, killed" % timeout_s, file=sys.stderr)
        return 1, []
    return p.returncode, out.splitlines()


RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def parse_result(line):
    """The result line, or None when it is not one."""
    try:
        r = json.loads(line)
    except ValueError:
        return None
    if not isinstance(r, dict) or set(r) != RESULT_KEYS or r["attempted"] < 1:
        return None
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-digests", action="store_true",
                    help="rewrite the stored result digests in perfbench/digests from the current code")
    a = ap.parse_args()
    if not (a.self_test or a.record_digests) and None in (a.workload, a.seed, a.seconds, a.trace):
        fail("--workload, --seed, --seconds and --trace are required")
    if a.workload is not None and a.workload not in SCALES:
        fail("unknown workload %s; known: %s" % (a.workload, ", ".join(SCALES)))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the root of a graft checkout (no src/main/scala here)")
    jars = spark_jars()
    cores = len(os.sched_getaffinity(0))
    os.makedirs(BUILD, exist_ok=True)
    classes = build(jars)
    work = os.path.join(BUILD, "run-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        if a.self_test:
            code, out = run_jvm(java_cmd(jars, classes, "graft.perfbench.SelfTest", [work],
                                         tmp, cores), RUN_TIMEOUT_S)
            print("\n".join(out))
            sys.exit(code)
        if a.record_digests:
            tables = data(jars, classes, cores, sorted({s for v in SCALES.values() for s in v}))
            code, out = run_jvm(java_cmd(jars, classes, "graft.perfbench.RecordDigests",
                                         [tables, os.path.join(BENCH, "digests")],
                                         tmp, cores), RUN_TIMEOUT_S)
            sys.exit(code)
        tables = data(jars, classes, cores, SCALES[a.workload])
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", tables, "--work", work,
                "--digests", os.path.join(BENCH, "digests")]
        code, out = run_jvm(java_cmd(jars, classes, "graft.perfbench.Main", args, tmp, cores),
                            RUN_TIMEOUT_S)
        result = parse_result(out[-1]) if code == 0 and out else None
        for line in out[:-1] if result else out:
            print(line, file=sys.stderr)
        if result is None:
            fail("run failed (exit code %d), no result" % code)
        print(out[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
