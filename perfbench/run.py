#!/usr/bin/env python3
"""Run one perfbench workload against the graft engine built from this checkout.

    python3 perfbench/run.py --workload point_search --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It compiles src/main/scala and
perfbench/src with the Scala compiler that ships in the Spark jars (into
$CARGO_TARGET_DIR, default .bench_build), runs the workload in one JVM,
checks every answer, and prints a full report line, then the result line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
"""
import argparse
import hashlib
import json
import math
import os
import resource
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "2g"
# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
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


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark install on PATH
    that ships the Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(f.startswith("scala-compiler")
                                       for f in os.listdir(jars)):
            return jars
    fail("no Spark jars with a Scala compiler found; set SPARK_HOME")


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def jar(classes, dest):
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)


def build(build_dir, jars):
    """Compile the engine and the benchmark once per source hash, jar
    them, and archive the classes a run loads (JDK class-data sharing),
    which takes seconds off every JVM start. Returns (classpath, archive).
    """
    engine_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = sources(os.path.join(HERE, "src"))
    if not engine_src:
        fail("no engine sources under src/main/scala: run from the root of a graft checkout")
    h = hashlib.sha256()
    for f in engine_src + bench_src:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    engine, bench = os.path.join(out, "engine"), os.path.join(out, "bench")
    classpath = [bench + ".jar", engine + ".jar", os.path.join(jars, "*")]
    archive = os.path.join(out, "classes.jsa")
    if os.path.exists(os.path.join(out, "OK")):
        return classpath, (archive if os.path.exists(archive) else None)
    # A new source hash supersedes older builds (each holds a ~170 MB archive).
    if os.path.isdir(build_dir):
        for d in os.listdir(build_dir):
            if d.startswith("classes-"):
                shutil.rmtree(os.path.join(build_dir, d), ignore_errors=True)
    os.makedirs(engine)
    os.makedirs(bench)
    scalac = ["java", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
              "-cp", os.path.join(jars, "*"),
              "scala.tools.nsc.Main", "-usejavacp", "-nowarn"]
    for srcs, dest, cp in ((engine_src, engine, None), (bench_src, bench, engine)):
        listing = os.path.join(out, os.path.basename(dest) + ".sources")
        with open(listing, "w") as fh:
            fh.write("\n".join(srcs))
        cmd = scalac + (["-classpath", cp] if cp else []) + ["-d", dest, "@" + listing]
        print(f"perfbench: compiling {len(srcs)} files into {dest}", file=sys.stderr)
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            fail("compile failed")
    jar(engine, engine + ".jar")
    jar(bench, bench + ".jar")
    print("perfbench: archiving classes for class-data sharing", file=sys.stderr)
    work = os.path.join(out, "archive-work")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        code = run_jvm(jvm_cmd(classpath, work, [f"-XX:ArchiveClassesAtExit={archive}"],
                               ["--workload", "class-archive", "--seed", "1", "--seconds", "1",
                                "--trace", "1", "--report", os.path.join(work, "report.json")]),
                       os.path.join(out, "archive.log"), BUILD_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(archive):
        print("perfbench: class archive failed; runs start without it", file=sys.stderr)
    open(os.path.join(out, "OK"), "w").close()
    return classpath, (archive if os.path.exists(archive) else None)


def jvm_flags(work, extra):
    flags = [f"-Xmx{HEAP}", "-Xss4m", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + extra
    for m in ADD_OPENS:
        flags += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return flags


def jvm_cmd(classpath, work, extra, args):
    return (["java"] + jvm_flags(work, extra) +
            ["-cp", os.pathsep.join(classpath), "perfbench.Main",
             "--spec", os.path.join(HERE, "workloads.json"), "--work", work,
             "--threads", str(threads())] + args)


def cpu_busy():
    """Busy (non-idle) jiffies of the whole machine."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f) - f[3] - f[4]


def load1():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def threads():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def run_jvm(cmd, log_path, timeout):
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; drop it so the
    # JVM's scratch files stay inside the checkout.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, env=env)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            for sig in (signal.SIGTERM, signal.SIGKILL):
                try:
                    os.killpg(p.pid, sig)
                except ProcessLookupError:
                    break
                try:
                    p.wait(timeout=10)
                    break
                except subprocess.TimeoutExpired:
                    pass
            raise


def finite(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool) and math.isfinite(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # SIGTERM/SIGINT unwind through run_jvm and the finally blocks, so a
    # started JVM is stopped and scratch directories are removed on every
    # exit path, the build included.
    def stop(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    spec_path = os.path.join(HERE, "workloads.json")
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}; have {sorted(spec['workloads'])}")
    if not os.path.exists(bench_json):
        fail("no BENCHMARK.json at the checkout root")
    with open(bench_json) as fh:
        contract = json.load(fh)

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath, archive = build(os.path.join(build_dir, "perfbench"), spark_jars())

    results = os.path.join(build_dir, "perfbench", "results")
    os.makedirs(results, exist_ok=True)
    work = os.path.join(build_dir, "perfbench", f"work-{os.getpid()}")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    report_path = os.path.join(results, tag + ".report.json")
    spans_path = os.path.join(results, tag + ".spans.jsonl")
    log_path = os.path.join(results, tag + ".jvm.log")
    for p in (report_path, spans_path):
        if os.path.exists(p):
            os.remove(p)

    extra = [f"-XX:SharedArchiveFile={archive}"] if archive else []
    cmd = jvm_cmd(classpath, work, extra,
                  ["--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace),
                   "--report", report_path] +
                  (["--spans", spans_path] if args.trace else []))

    load_start = load1()
    busy0 = cpu_busy()
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    t0 = time.time()
    try:
        os.makedirs(os.path.join(work, "tmp"))
        code = run_jvm(cmd, log_path, RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S}s; log: {log_path}", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wall = time.time() - t0
    busy1 = cpu_busy()
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    if code != 0 or not os.path.exists(report_path):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM exited with {code}; log: {log_path}", 1)
    with open(report_path) as fh:
        rep = json.load(fh)

    # Contamination: CPU the rest of the machine used while we ran,
    # in cores (our own JVM's CPU time is taken out).
    hz = os.sysconf("SC_CLK_TCK")
    ours = (ru1.ru_utime + ru1.ru_stime) - (ru0.ru_utime + ru0.ru_stime)
    foreign_cores = max(0.0, (busy1 - busy0) / hz - ours) / wall
    rep["host"] = {
        "nproc": threads(), "cpus_online": os.cpu_count(), "load1m_start": load_start,
        "load1m_end": load1(), "foreign_cores": foreign_cores,
        "contaminated": foreign_cores > 0.5, "jvm_flags": jvm_flags(work, extra),
        "run_wall_s": wall, "report": report_path,
        "spans": spans_path if args.trace else None,
    }

    units = {k: v["unit"] for k, v in {**spec["metrics"], **spec["layer_metrics"]}.items()}
    source = rep["layers"] if args.trace else rep["metrics"]
    wanted = contract["per_layer"] if args.trace else contract["end_to_end"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if not finite(v):
            fail(f"metric {m['name']} missing or not finite ({v!r}); report: {report_path}", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    everything = {k: {"value": v, "unit": units.get(k, "")}
                  for k, v in sorted(source.items()) if finite(v)}
    with open(report_path, "w") as fh:
        json.dump(rep, fh, indent=1)

    failures = rep.get("failures") or []
    for f in failures:
        print(f"perfbench: wrong: {f}", file=sys.stderr)
    correct = rep["failed"] == 0 and rep["attempted"] >= 1
    print(json.dumps({"report": {"workload": args.workload, "seed": args.seed,
                                 "trace": args.trace, "host": rep["host"],
                                 "latency": rep["latency"], "metrics": everything}}))
    print(json.dumps({"correct": correct, "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
