#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload <registry|stream-catchup>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first call builds graft and
the benchmark with sbt (offline) and generates the registry tables; later
calls reuse both from the build directory ($CARGO_TARGET_DIR, default
.bench_build). The last line of stdout is the result object.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("registry", "stream-catchup")
DATA_SCALE = "0.01"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(root, rels):
    """md5 over the paths and bytes of every file under `rels`."""
    h = hashlib.md5()
    for rel in rels:
        top = os.path.join(root, rel)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(root, out):
    """Compile graft and the benchmark; returns the runtime classpath."""
    sources = ["build.sbt", "project/build.properties", "src/main",
               "perfbench/build.sbt", "perfbench/project/build.properties",
               "perfbench/src"]
    cp_file = os.path.join(out, f"classpath-{tree_hash(root, sources)}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export Runtime/fullClasspath"]
    print("perfbench: building graft and the benchmark", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                           stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join([l for l in lines if l.startswith("[")][-40:]))
        fail("build failed")
    with open(cp_file + ".tmp", "w") as f:
        f.write(lines[-1])
    os.replace(cp_file + ".tmp", cp_file)
    return lines[-1]


def data(out):
    """The registry tables, generated once per generator version."""
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import gen_data
    d = os.path.join(out, f"data-{tree_hash(HERE, ['gen_data.py'])}-{DATA_SCALE}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.write(tmp, float(DATA_SCALE))
        os.replace(tmp, d)
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a graft checkout ({need} is missing)")
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "perfbench")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp = build(root, out)
        data_dir = data(out)
        fcntl.flock(lock, fcntl.LOCK_UN)

    work = os.path.join(out, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    # Keep every temporary file of the JVM, Spark and RocksDB in the work dir.
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--data", data_dir, "--work", work,
            "--out", os.path.join(out, "traces")]
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        stdout, stderr = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        stdout, stderr = proc.communicate()
        sys.stderr.write(stderr[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(out, "last-run.log"), "w") as f:
        f.write(stderr)
    lines = stdout.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(stderr[-6000:])
        sys.stderr.write(stdout)
        fail(f"run failed with exit code {proc.returncode}")
    print("\n".join(lines[:-1]))
    print(f"# wall {time.time() - t0:.1f} s; Spark log in {os.path.relpath(out, root)}/last-run.log")
    print(lines[-1])


if __name__ == "__main__":
    main()
