#!/usr/bin/env python3
"""Benchmark of the graft engine: batch queries, streamed folds, serving.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <batch_suite|stream_fold> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness in `perfbench/jvm` from source with sbt
(once per checkout; later runs reuse the build while neither the sources
nor the compiled classes changed),
then runs one workload in a single JVM on `local[4]`. The JVM prints a
detail record and, as the last line of standard output, one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. A
failed output check makes the exit code non-zero.

Everything the run writes stays under `.bench_build/perfbench` in the
checkout: the build stamp and classpath, per-run scratch space (removed
at the end), the JVM log, the detail record and the trace spans.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("batch_suite", "stream_fold")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the engine's build.sbt passes the same list).
ADD_OPENS = [
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


def source_stamp():
    """Hash of every input of the build, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "jvm")]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target"
                             and not (x == "project" and os.path.basename(d) == "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".tsv"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classes_stamp(cp):
    """Hash of the compiled classes on the classpath. The engine compiles
    into the checkout's shared `target/`, which another build can
    overwrite; a changed class directory forces a rebuild."""
    h = hashlib.sha256()
    for entry in cp.split(os.pathsep):
        if not os.path.isdir(entry):
            continue
        for d, dirs, names in os.walk(entry):
            dirs.sort()
            for n in sorted(names):
                f = os.path.join(d, n)
                h.update(os.path.relpath(f, entry).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine and harness; return the runtime classpath."""
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    sources = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(cp_file) as cf:
            cp = cf.read().strip()
        with open(stamp_file) as fh:
            if fh.read().strip() == sources + " " + classes_stamp(cp):
                return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false", "export Runtime/fullClasspath"]
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=os.path.join(HERE, "jvm"), env=env,
                               stdout=subprocess.PIPE, stderr=lf, text=True,
                               timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log})")
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed with code {p.returncode} (log: {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(sources + " " + classes_stamp(cp))
    return cp


def overhead(out, workload, rec):
    """Traced over untraced median operation latency, minus one: this
    traced run against the untraced runs of the workload recorded in the
    same checkout so far (0 while there are none)."""
    p50s = []
    for name in os.listdir(out):
        if name.startswith(f"{workload}-") and name.endswith(".json") and "-t0-" in name:
            try:
                with open(os.path.join(out, name)) as fh:
                    r = json.load(fh)
            except (OSError, ValueError):
                continue
            if r.get("correct") and r["end_to_end"].get("p50_ms", 0) > 0:
                p50s.append(r["end_to_end"]["p50_ms"])
    traced = rec["end_to_end"].get("p50_ms", 0)
    if not p50s or traced <= 0:
        return 0.0
    return traced / statistics.median(p50s) - 1.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to the benchmark (expected build.sbt and "
             f"src/main/scala/graft under {ROOT})")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    # a terminated run unwinds, so the JVM below is stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build()

    run = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(STATE, "work", run)
    out = os.path.join(STATE, "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    jvm = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out])
    log = os.path.join(out, f"{run}.log")
    code = 1
    lines = []
    try:
        with open(log, "w") as lf:
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            p = subprocess.Popen(jvm, cwd=work, env=env, stdout=subprocess.PIPE, stderr=lf,
                                 stdin=subprocess.DEVNULL, text=True)
            try:
                stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
                code = p.returncode
                lines = stdout.splitlines()
            except subprocess.TimeoutExpired:
                print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s (log: {log})",
                      file=sys.stderr)
                code = 3
            finally:
                # on a timeout, or when this script is interrupted or terminated
                if p.poll() is None:
                    p.kill()
                p.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    records = [l for l in lines if l.startswith('{"run"')]
    if code != 0 and not records:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        sys.exit(code or 1)
    if not records:
        fail(f"the run printed no record (log: {log})")
    print(records[-1])
    rec = json.loads(records[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    # the result line carries exactly the declared metrics of this kind;
    # a per-layer metric a workload does not exercise reads 0
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = rec["per_layer"] if a.trace else rec["end_to_end"]
    if a.trace:
        got["trace.overhead_frac"] = overhead(out, a.workload, rec)
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}
    for m in rec["mismatches"]:
        print(f"perfbench: output check failed: {m}", file=sys.stderr)
    print(json.dumps({"correct": rec["correct"], "attempted": max(1, rec["attempted"]),
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if rec["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
