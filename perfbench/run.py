#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      One run of one workload. The last line of stdout is the JSON result.
  python3 perfbench/run.py --all [--seed <n>] [--seconds <s>]
      Every workload in turn, untraced, with the full metric report of each.
  python3 perfbench/run.py --report
      The per-layer table of every traced run recorded so far.
  python3 perfbench/run.py --selftest
      The benchmark's own tests (generator determinism, checks on corrupted output).

Run it from the root of a checkout. The first run builds the library and the
harness from source with sbt, then runs every workload once on a small input
(`Main --train`) so the JVM records the classes they load in a class-data
sharing archive; every measured run maps that same archive. Later runs reuse
the build and the archive while no source changes. All files it writes stay
under the checkout: the build under perfbench/target and target/, the run data
under .bench_work/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
STAMP = os.path.join(HERE, "target", "bench-build.json")
ARCHIVE = os.path.join(HERE, "target", "bench-classes.jsa")
WORKLOADS = ["corpus_chain", "snapshot_audit", "ann_serve"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["JAVA_OPTS"] = (env.get("JAVA_OPTS", "") + " -XX:-UsePerfData").strip()
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the library and the harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        log("perfbench: no library sources next to the benchmark (expected src/main/scala/graft "
            "and build.sbt at the checkout root)")
        sys.exit(2)
    digest = source_hash()
    if os.path.isfile(STAMP) and os.path.isfile(ARCHIVE):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("sources") == digest:
            return stamp["classpath"]
    log("perfbench: building with sbt ...")
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("perfbench: build timed out")
        sys.exit(3)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log(proc.stdout[-6000:])
        log("perfbench: build failed")
        sys.exit(3)
    classpath = pack(lines[-1].strip().split(os.pathsep))
    train(classpath)
    with open(STAMP, "w") as fh:
        json.dump({"sources": digest, "classpath": classpath}, fh)
    return classpath


def pack(entries):
    """Zip the compiled class directories into one jar, so the JVM's
    class-data sharing archive can hold them (it skips directories)."""
    jar = os.path.join(HERE, "target", "bench-classes.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d in (e for e in entries if os.path.isdir(e)):
            for base, _, files in os.walk(d):
                for f in sorted(files):
                    full = os.path.join(base, f)
                    z.write(full, os.path.relpath(full, d))
    return os.pathsep.join([jar] + [e for e in entries if e.endswith(".jar")])


def train(classpath):
    """Dump the class-data sharing archive from one fixed run that loads every
    workload's classes, so each measured JVM maps the same archive whatever
    ran before it."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    log("perfbench: recording the class-data archive ...")
    run_dir = os.path.join(WORK, "train-%d" % os.getpid())
    try:
        code, _ = java(classpath, ["--train"], run_dir, ["-XX:ArchiveClassesAtExit=" + ARCHIVE])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not os.path.isfile(ARCHIVE):
        log("perfbench: the archive run failed (exit %d)" % code)
        sys.exit(3)


def java(classpath, args, run_dir, jvm_flags=None):
    """Run the harness in a fresh JVM that maps the class-data archive
    instead of loading and verifying Spark's classes one by one."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if jvm_flags is None:
        jvm_flags = ["-XX:SharedArchiveFile=" + ARCHIVE]
    # JVM log lines go to stderr: the last line of stdout is the result
    # no hsperfdata file outside the checkout
    cmd = ["java", "-Xlog:disable", "-Xlog:all=warning:stderr", "-Xmx3g", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp] + jvm_flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--root", run_dir] + args
    start = time.time()
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("perfbench: run timed out")
        return 124, ""
    log("perfbench: java exited %d after %.1f s" % (proc.returncode, time.time() - start))
    return proc.returncode, proc.stdout


def run_one(classpath, workload, seed, seconds, trace):
    run_dir = os.path.join(WORK, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        code, out = java(classpath, ["--workload", workload, "--seed", str(seed),
                                     "--seconds", str(seconds), "--trace", str(trace),
                                     "--trace-dir", os.path.join(WORK, "traces")], run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        log("perfbench: %s failed (exit %d)" % (workload, code))
        sys.exit(code or 1)
    for line in lines:
        print(line)


def report():
    files = sorted(glob.glob(os.path.join(WORK, "traces", "*.json")))
    if not files:
        log("perfbench: no traces under .bench_work/traces; run with --trace 1 first")
        sys.exit(1)
    layers = ["sources", "pipeline", "dedup", "text", "write", "parquet", "diff", "ann", "core", "spark"]
    measures = ["self_s", "jobs", "floor_s", "task_cpu_s", "busy_frac", "shuffle_bytes",
                "scan_bytes", "written_bytes", "cache_delta"]
    for f in files:
        with open(f) as fh:
            t = json.load(fh)
        pl = t["per_layer"]
        print("\n== %s seed %s: %d ops, %d traced; per traced op (busy_frac: share of %s cores)"
              % (t["workload"], t["seed"], t["ops"], pl["trace.ops"], t["cores"]))
        print("%-9s" % "layer" + "".join("%15s" % m for m in measures))
        for layer in layers:
            row = [pl.get("%s.%s" % (layer, m), 0.0) for m in measures]
            if layer != "spark" and not any(row):
                continue
            print("%-9s" % layer + "".join("%15.4g" % v for v in row))
        print("%-9s%15.4g   (op time no layer span covers)" % ("uncovered", pl["trace.uncovered_s"]))
        rest = sorted(k for k in pl if k.split(".")[0] not in layers or
                      k.split(".", 1)[1] not in measures)
        for k in rest:
            print("  %-28s %.6g" % (k, pl[k]))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--report", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.report:
        report()
        return
    if not (a.all or a.selftest or a.workload):
        ap.error("give --workload, --all, --report or --selftest")
    classpath = build()
    if a.selftest:
        run_dir = os.path.join(WORK, "selftest-%d" % os.getpid())
        try:
            code, out = java(classpath, ["--selftest"], run_dir)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        sys.stdout.write(out)
        sys.exit(code)
    if a.all:
        for w in WORKLOADS:
            run_one(classpath, w, a.seed, a.seconds, a.trace)
        return
    run_one(classpath, a.workload, a.seed, a.seconds, a.trace)


if __name__ == "__main__":
    main()
