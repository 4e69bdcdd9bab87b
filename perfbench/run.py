#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine.

    python3 perfbench/run.py --workload kg_toy --seed 1 --seconds 10 --trace 0

Workloads: kg_toy, kg_ref, catalog (see perfbench/README.md).
Run from the repository root. The first run builds the program and the
harness from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Heap and task threads are derived from this
box (/proc/meminfo, the CPU affinity mask). Prints a REPORT line and,
last, one JSON result object.

Extra modes: --selftest runs the harness's own tests; --record-catalog
re-records refs/catalog.tsv (only after the outputs pass the DuckDB
oracle compare); --record-kg-ref re-records the kg_ref sample
fingerprints of seeds 0-99 (only for a deliberate output change).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CP_FILE = os.path.join(TARGET, "perfbench.classpath")
STAMP_FILE = os.path.join(TARGET, "perfbench.stamp")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME")
    return home


def build():
    """Compile program + harness once per source state; returns the classpath."""
    stamp = source_stamp()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                with open(CP_FILE) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.splitlines()
    cps = [l.strip() for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {p.returncode})")
    os.makedirs(TARGET, exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(cps[-1])
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    return cps[-1]


def box():
    """(task threads, heap MB) for this box: every CPU we may run on, and
    a quarter of physical memory clamped to 2-6 GB (the machine is shared;
    a fixed share keeps runs comparable)."""
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_mb = max(2048, min(6144, mem_kb // 1024 // 4))
    return cores, heap_mb


def java_bin():
    jh = os.environ.get("JAVA_HOME")
    if jh and os.path.exists(os.path.join(jh, "bin", "java")):
        return os.path.join(jh, "bin", "java")
    return "java"


def run_jvm(main, args, cp, heap_mb, work, extra_env=None):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin(), f"-Xmx{heap_mb}m", f"-Xms{heap_mb}m", "-XX:+UseParallelGC",
           "--add-modules=jdk.incubator.vector", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.update(extra_env or {})
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{main} exceeded {JVM_TIMEOUT_S} s")
    return proc.returncode, out


def oracle_gate(cp, cores, heap_mb, work):
    """Dumps every catalog query the benchmark checks with the program's
    own graft.Verify and compares the dump with the DuckDB oracle
    (check_oracle.py); fails unless every query matches."""
    code, out = run_jvm("graft.perfbench.Main", ["catalog_queries", "0", "0", "0", str(cores), work, BENCH],
                        cp, heap_mb, work)
    lines = out.split("\n")
    queries = [l for l in lines if l.startswith("q_")]
    if code != 0 or not queries:
        fail("could not list the catalog queries")
    queries = queries[-1].split()
    data = os.path.join(BENCH, "data", "sf0.001")
    dump = os.path.join(work, "oracle_dump")
    code, _ = run_jvm("graft.Verify", [data, dump] + queries, cp, heap_mb, work,
                      {"SPARK_GRAFT_CPUS": str(cores)})
    if code != 0:
        fail(f"graft.Verify exit {code}")
    p = subprocess.run([sys.executable, os.path.join(BENCH, "check_oracle.py"), data, dump] + queries)
    if p.returncode != 0:
        fail("catalog outputs fail the DuckDB oracle compare; references not recorded")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["kg_toy", "kg_ref", "catalog"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-catalog", action="store_true")
    ap.add_argument("--record-kg-ref", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.record_kg_ref:
        a.workload = "record_kg_ref"
    if a.record_catalog:
        a.workload = "catalog"
    if not (a.selftest or a.workload):
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC)}; "
             "run from a full checkout")
    cp = build()
    cores, heap_mb = box()
    name = "selftest" if a.selftest else a.workload
    work = os.path.join(BENCH, ".work", f"{name}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        if a.selftest:
            code, out = run_jvm("graft.perfbench.SelfTest", [str(cores), work, BENCH], cp, heap_mb, work)
            sys.stdout.write(out)
            sys.exit(code)
        if a.record_kg_ref:
            code, out = run_jvm("graft.perfbench.Main", [a.workload, "0", "0", "0", str(cores), work, BENCH],
                                cp, heap_mb, work)
            sys.stdout.write(out)
            sys.exit(code)
        args = [a.workload, str(a.seed), repr(a.seconds), str(a.trace), str(cores), work, BENCH]
        if a.record_catalog:
            oracle_gate(cp, cores, heap_mb, work)
            args.append("record")
        code, out = run_jvm("graft.perfbench.Main", args, cp, heap_mb, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write(out)
        fail(f"{a.workload} produced no result (exit {code})")
    for line in lines[:-1]:
        if line.startswith("REPORT "):
            rep = json.loads(line[len("REPORT "):])
            rep["heap_mb"] = heap_mb
            line = "REPORT " + json.dumps(rep)
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
