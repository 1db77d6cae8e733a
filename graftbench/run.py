#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):

    python3 graftbench/run.py --workload cdc_upsert|batch_mix \
        --seed N --seconds S --trace 0|1

Steps: build the engine plus the harness with sbt (skipped while the sources
are unchanged), generate the input tables (once per generator version), run
the workload in one JVM under a private scratch root, then remove that root.
Everything is written under `.bench_build/` in the checkout. See NOTES.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
GEN = os.path.join(HERE, "gen_tables.py")
WORKLOADS = ("cdc_upsert", "batch_mix")
HEAP = "3g"
JVM_TIMEOUT_S = 170  # per-run limit for the measuring JVM
# Spark on JDK 17 needs these outside spark-submit (as in the engine's build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(cp, main, args, scratch, archive=None):
    """The JVM command line for `main`; `archive` is a class-data archive
    to use if it exists, or to write at exit if it does not."""
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={scratch}/tmp",
           f"-Dgraftbench.digests={os.path.join(HERE, 'digests.tsv')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           # JVM warnings go to stderr: stdout ends with the result line
           "-Xlog:disable", "-Xlog:all=warning:stderr"]
    if archive:
        cmd.append(f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
                   else f"-XX:ArchiveClassesAtExit={archive}")
    return cmd + ADD_OPENS + ["-cp", cp, main] + args


def build():
    """Compile and package with sbt, then archive the classes a short
    training run loads (JVM class-data sharing: each run then starts its
    session seconds sooner). Skipped while the sources are unchanged."""
    inputs = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    stamp = tree_digest(inputs)
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved, cp = fh.read().split("\n", 1)
        if saved == stamp and os.path.exists(cp.split(os.pathsep)[0]):
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("[graftbench] building with sbt", file=sys.stderr)
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=840)
    cps = [l.strip() for l in out.stdout.splitlines()
           if not l.startswith("[") and os.pathsep in l]
    jars = glob.glob(os.path.join(HERE, "target", "scala-*", "graftbench_*.jar"))
    if out.returncode != 0 or not jars or not cps:
        sys.stderr.write(out.stdout[-4000:])
        die("sbt build failed", 1)
    # the packaged jar replaces the classes directory: class-data sharing
    # archives classes from jars only
    cp = os.pathsep.join([jars[-1]] + [p for p in cps[-1].split(os.pathsep)
                                       if not os.path.isdir(p)])
    archive = os.path.join(BUILD, "classes.jsa")
    train = os.path.join(BUILD, "training")
    if os.path.exists(archive):
        os.remove(archive)
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    # every run must start the same way: a build without the archive fails
    trained = subprocess.run(java_cmd(cp, "graftbench.Main",
                                      ["--workload", "cds_training", "--data", tables(),
                                       "--scratch", train], train, archive),
                             cwd=train, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                             text=True, timeout=600)
    shutil.rmtree(train, ignore_errors=True)
    if trained.returncode != 0 or not os.path.exists(archive):
        sys.stderr.write(trained.stderr[-4000:])
        die(f"class-data archive not written (training JVM exit {trained.returncode})", 1)
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp)
    return cp


def gen_tables():
    """The input generator module (gen_tables.py)."""
    spec = importlib.util.spec_from_file_location("gen_tables", GEN)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def tables():
    """The fixed input tables; regenerated only when the generator changes."""
    gen = gen_tables()
    out = os.path.join(BUILD, f"data-{tree_digest([GEN])[:16]}-sf{gen.SCALE}")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        gen.generate(out)
        open(os.path.join(out, "_done"), "w").close()
    return out


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not os.path.islink(os.path.join(d, f)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {ENGINE_SRC}: run from a full checkout")

    cp = build()
    data = tables()
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    scratch = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(scratch, ignore_errors=True)
    # the program's own scratch places; the workload's index lives beside them
    program_dirs = ["tmp", "local", "warehouse", "checkpoints"]
    for d in program_dirs:
        os.makedirs(os.path.join(scratch, d))
    logs = os.path.join(BUILD, "logs")
    traces = os.path.join(BUILD, "traces")
    os.makedirs(logs, exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    out = os.path.join(BUILD, f"result-{tag}.json")
    log = os.path.join(logs, f"{tag}.log")
    archive = os.path.join(BUILD, "classes.jsa")
    cmd = java_cmd(cp, "graftbench.Main",
                   ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--data", data, "--scratch", scratch, "--out", out,
                    "--trace-out", os.path.join(traces, f"{tag}.json")],
                   scratch, archive if os.path.exists(archive) else None)
    t0 = time.time()
    # a SIGTERM to this script must not leave the JVM running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, stderr=lf, text=True)
            try:
                stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                stdout = ""
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        sys.stdout.write(stdout)
        left = sum(dir_bytes(os.path.join(scratch, d)) for d in program_dirs)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        die(f"workload JVM failed (exit {proc.returncode}) after {time.time() - t0:.0f} s", 1)
    with open(out) as fh:
        result = json.load(fh)
    os.remove(out)
    if args.trace:
        result["metrics"]["lifecycle.scratch_bytes_left"] = {"value": left, "unit": "bytes"}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
