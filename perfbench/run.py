#!/usr/bin/env python3
"""Run one graft benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --record   # rewrite the ETL build's recorded outputs

The first call builds the library and the harness from source with sbt
(the build in perfbench/, which loads the root build as a project) and
caches the runtime classpath under .bench_build/. Every call then starts
one JVM running graftbench.Main, relays its metric lines and prints, as
the last line, one JSON object with the end-to-end metrics (--trace 0)
or the per-layer metrics (--trace 1) that BENCHMARK.json names.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BUILD_DIR = ".bench_build"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
WORKLOADS = ("etl_build", "query_stream")
EXPECTED = "perfbench/src/main/resources/etl_expected.tsv"
# per-layer metrics of calls a workload never makes; they read 0 there
NOT_MADE = {
    "etl_build": ("probe", "region", "filter", "join", "plans.", "h3.polyfill"),
    "query_stream": ("etl_features_per_s",),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = ["src/main", "perfbench/src/main", "perfbench/project", "project"]
    files = ["build.sbt", "perfbench/build.sbt"]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties", ".tsv"))]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the group and wait."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    return p.returncode, out


def build():
    """Compile with sbt once per source tree; return the runtime classpath."""
    cp_file = os.path.join(BUILD_DIR, f"classpath-{source_hash()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cp = fh.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "compile",
           "export Runtime/fullClasspath"]
    print("perfbench: building with sbt", file=sys.stderr)
    code, out = run_group(cmd, BUILD_TIMEOUT_S, cwd="perfbench", env=env,
                          stdout=subprocess.PIPE, text=True)
    lines = [ln.strip() for ln in (out or "").splitlines() if ln.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out or "")
        fail(f"sbt build failed (exit {code})")
    cp = lines[-1]
    entries = cp.split(os.pathsep)
    if not all(os.path.isabs(p) and os.path.exists(p) for p in entries):
        sys.stderr.write(out)
        fail("sbt did not print a usable classpath")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def wanted_metrics(trace):
    """The metrics (name -> unit) BENCHMARK.json asks for in this mode."""
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help=f"rebuild the ETL outputs in every band into {EXPECTED}")
    a = ap.parse_args()
    if a.record:
        a.workload, a.seed, a.seconds = "etl_build", 0, 1
    elif a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        fail("run from the root of a graft checkout: build.sbt and "
             "src/main/scala/graft are missing")
    if not (a.record or os.path.isfile("BENCHMARK.json")):
        fail("BENCHMARK.json is missing")
    names = {} if a.record else wanted_metrics(a.trace)
    cp = build()

    work = os.path.abspath(os.path.join(
        BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in env else "java"
    # C1 only: a fresh JVM never reaches C2's steady state within a run, and
    # C2's background compiles made op times swing 15-30% between runs
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
           "-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    if a.record:
        cmd += ["--record", os.path.abspath(EXPECTED)]
    try:
        code, out = run_group(cmd, BUILD_TIMEOUT_S if a.record else RUN_TIMEOUT_S,
                              env=env, stdout=subprocess.PIPE, text=True)
        if a.trace:
            traces = os.path.join(BUILD_DIR, "traces")
            os.makedirs(traces, exist_ok=True)
            for f in os.listdir(work):
                if f.startswith("trace_"):
                    shutil.move(os.path.join(work, f), os.path.join(traces, f))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = (out or "").splitlines()
    if a.record:
        sys.exit(code)
    if code != 0 or not lines:
        sys.stderr.write(out or "")
        fail(f"workload {a.workload} exited with {code}")
    result = json.loads(lines[-1])
    for ln in lines[:-1]:
        print(ln)
    got = result["metrics"]
    for n, unit in names.items():
        if n not in got and a.trace and n.startswith(NOT_MADE[a.workload]):
            got[n] = {"value": 0, "unit": unit}
    missing = [n for n in names if n not in got]
    if missing:
        fail(f"workload {a.workload} did not report {', '.join(missing)}", 3)
    result["metrics"] = {n: got[n] for n in names}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
