#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the harness and the repository's main
sources with sbt (offline), then records a class-data-sharing archive from
one short run; later runs reuse both while the sources are unchanged. Each run is one JVM at local[nproc] with
the JVM heap sized from MemTotal (total/2, clamped to 2..8 GiB), the same
rule the repository's test command uses. Everything the run writes stays
under `.bench_build/` in the checkout.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("pipeline_batch", "ingest_stream", "gates",
             # diagnostic only: not in BENCHMARK.json, see README.md
             "pipeline_generations")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    tops = ["build.sbt", "project/build.properties",
            "perfbench/build.sbt", "perfbench/project/build.properties"]
    out = [p for p in tops if os.path.isfile(os.path.join(ROOT, p))]
    for base in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, base)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def fingerprint(files):
    h = hashlib.sha256()
    for rel in files:
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, stdout, stderr=sys.stderr):
    """Run a child process in its own process group; on timeout kill the
    whole group and wait for it, so nothing outlives this script."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                         start_new_session=True, env=os.environ.copy())
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    files = source_files()
    if "build.sbt" not in files or not any(f.startswith("src/main/scala/graft/") for f in files):
        log("no repository sources next to the benchmark (build.sbt, src/main); nothing to run")
        sys.exit(2)
    fp = fingerprint(files)
    stamp = os.path.join(BUILD, "build.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            prev = json.load(f)
        if prev.get("fingerprint") == fp:
            return prev["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building with sbt (first run in this checkout)")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt')}",
           f"-Dsbt.boot.directory={os.path.expanduser('~/.sbt/boot')}",
           "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspathAsJars"]
    try:
        code, out = run_child(cmd, os.path.join(ROOT, "perfbench"), 850, subprocess.PIPE)
    except subprocess.TimeoutExpired:
        log("build timed out")
        sys.exit(2)
    lines = out.decode(errors="replace").splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log(f"build failed (exit {code})")
        sys.exit(2)
    cps = [l.strip() for l in lines if "perfbench" in l and l.strip().startswith(ROOT)]
    if not cps:
        log("build did not report a classpath")
        sys.exit(2)
    cp = cps[-1]
    train_class_archive(cp)
    # untraced results of the previous build are no base for a new one
    for f in os.listdir(BUILD):
        if f.startswith("untraced-"):
            os.remove(os.path.join(BUILD, f))
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def train_class_archive(cp):
    """Record the classes one short run loads into a class-data-sharing
    archive; later runs map it instead of loading those classes from the
    jars, which takes seconds off every JVM start. Timings inside a run are
    unaffected. Without an archive, runs proceed without it."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    log("recording the class-data-sharing archive")
    with open(os.path.join(BUILD, "archive.log"), "w") as logf:
        cmd = (jvm_cmd(cp, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
               + ["--workload", "pipeline_batch", "--seed", "0", "--seconds", "0",
                  "--trace", "0", "--root", ROOT,
                  "--out", os.path.join(BUILD, "archive-run.json")])
        try:
            code, _ = run_child(cmd, ROOT, RUN_TIMEOUT_S, logf, stderr=logf)
        except subprocess.TimeoutExpired:
            code = -1
    if code != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def jvm_cmd(cp, extra):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + extra
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main"])


def heap():
    gib = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gib = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return f"{min(8, max(2, gib))}g"


def run_jvm(cp, workload, seed, seconds, trace):
    """One benchmark JVM; returns its result object (None on failure)."""
    out = os.path.join(BUILD, f"result-{workload}-{seed}-{trace}.json")
    if os.path.exists(out):
        os.remove(out)
    extra = []
    if os.path.exists(ARCHIVE):
        extra += [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    if trace:
        # a traced run samples deep Spark stacks; keep their outer graft frames
        extra += ["-XX:MaxJavaStackTraceDepth=100000"]
    cmd = jvm_cmd(cp, extra) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--root", ROOT, "--out", out,
        "--launch-ms", str(int(time.time() * 1000))]
    try:
        code, _ = run_child(cmd, ROOT, RUN_TIMEOUT_S, sys.stderr)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return None
    if code != 0 or not os.path.isfile(out):
        log(f"run failed (exit {code})")
        return None
    with open(out) as f:
        return json.load(f)


def history(workload):
    return os.path.join(BUILD, f"untraced-{workload}.jsonl")


def remember(workload, seed, result):
    with open(history(workload), "a") as f:
        f.write(json.dumps({"seed": seed, "op_p50_s": result["op_p50_s"]}) + "\n")


def untraced_p50s(workload):
    try:
        with open(history(workload)) as f:
            return [json.loads(l)["op_p50_s"] for l in f if l.strip()]
    except OSError:
        return []


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    cp = build()
    if a.trace and not untraced_p50s(a.workload):
        # the tracing overhead compares against untraced runs of the same
        # checkout; make one when there is none yet
        log("no untraced run of this workload yet; making one for the overhead")
        first = run_jvm(cp, a.workload, a.seed, a.seconds, 0)
        if first is None:
            sys.exit(1)
        remember(a.workload, a.seed, first)
    result = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace)
    if result is None:
        sys.exit(1)
    if a.trace:
        base = statistics.median(untraced_p50s(a.workload))
        result["metrics"]["trace.overhead_pct"]["value"] = (result["op_p50_s"] / base - 1) * 100
    else:
        remember(a.workload, a.seed, result)
    del result["op_p50_s"]
    print(json.dumps(result, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
