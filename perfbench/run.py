#!/usr/bin/env python3
"""The benchmark for the Google Sheets connector and the engine: one
closed-loop workload per run, against a fake Sheets v4 API on loopback.

    python3 perfbench/run.py --workload sheet_read --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. The first run builds the program and
the harness from source with sbt (offline); later runs reuse the build
while the sources are unchanged. Each run starts the fake API in its own
process, then the system-under-test JVM (perfbench.Harness), and prints
every metric by name and unit; its last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`. `--workload all` runs
every workload in turn, each ending with its own JSON line. `--trace 1` prints the
per-layer metrics instead of the end-to-end ones and writes the run's
spans to .bench_build/perfbench/work-<workload>/trace-<workload>.json.

See perfbench/NOTES.md for what each workload and metric means and how
the noise is kept down.
"""
import argparse
import hashlib
import json
import os
import select
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

# Per workload: fixture rows (for engine_mix, the rows of each parquet
# table) and warm-up ops per set-up.
WORKLOADS = {
    "sheet_read": {"rows": 10000, "warmup": 12},
    "sheet_tail": {"rows": 5000, "warmup": 4},
    "engine_mix": {"rows": 1000, "warmup": 2},
}
SETUPS = 2  # set-ups per run; setup_s reports their median
TAIL_ROWS_PER_OP = 100
RUN_TIMEOUT_S = 170

# One fixed, pre-touched heap with fixed generation sizes and one GC.
JVM_OPTS = [
    "-Xms1g", "-Xmx1g", "-Xmn512m", "-XX:SurvivorRatio=2", "-XX:+UseParallelGC",
    "-XX:-UseAdaptiveSizePolicy", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
]
# What spark-submit adds for Spark 4 on JDK 17 (as the repository's build does).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base, "perfbench")


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built(out):
    """Builds with sbt when the sources changed; returns the classpath."""
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=%s/.sbt/repositories "
                   "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"
                   % os.path.expanduser("~"))
    log_path = os.path.join(out, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=700)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail("build failed, see %s" % log_path)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def stop(proc):
    if proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def start_fake_api(workload, seed, rows, work, log):
    proc = subprocess.Popen(
        [sys.executable, "-B", os.path.join(BENCH, "fakesheets.py"),
         "--workload", workload, "--seed", str(seed), "--rows", str(rows),
         "--workdir", work],
        stdout=subprocess.PIPE, stderr=log, text=True)
    ready, _, _ = select.select([proc.stdout], [], [], 60)
    line = proc.stdout.readline() if ready else ""
    if not line.startswith("PORT "):
        stop(proc)
        fail("fake API did not start, see %s" % log.name)
    return proc, int(line.split()[1])


def run(workload, seed, seconds, trace, classpath):
    cfg = WORKLOADS[workload]
    work = os.path.join(build_dir(), "work-" + workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    launch_ns = time.monotonic_ns()  # the clock System.nanoTime reads too
    out = os.path.join(work, "result.json")
    log = open(os.path.join(work, "run.log"), "w")
    api, port = start_fake_api(workload, seed, cfg["rows"], work, log)
    try:
        argfile = os.path.join(work, "java.args")
        with open(argfile, "w") as f:
            f.write("-cp\n%s\n" % classpath)
        cmd = (["java", "@" + argfile] + JVM_OPTS
               + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS]
               + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                  "perfbench.Harness",
                  "workload=" + workload, "api=http://127.0.0.1:%d" % port,
                  "seconds=%s" % seconds, "trace=%d" % trace, "workdir=" + work,
                  "out=" + out, "warmup=%d" % cfg["warmup"],
                  "setups=%d" % SETUPS, "tail_rows=%d" % TAIL_ROWS_PER_OP,
                  "launch_ns=%d" % launch_ns])
        jvm = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log)
        try:
            code = jvm.wait(RUN_TIMEOUT_S - seconds)
        except subprocess.TimeoutExpired:
            stop(jvm)
            fail("timed out, see %s" % log.name)
    finally:
        stop(api)
        log.close()
    if code != 0 or not os.path.exists(out):
        fail("the harness failed (exit %s), see %s" % (code, log.name))
    with open(out) as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser(description="Sheets connector benchmark")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"],
                   help="one workload, or all of them in turn")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources next to %s: run from a full checkout" % BENCH, 2)
    classpath = ensure_built(build_dir())
    for workload in sorted(WORKLOADS) if a.workload == "all" else [a.workload]:
        result = run(workload, a.seed, a.seconds, a.trace, classpath)
        print("== %s" % workload)
        for name, m in result["metrics"].items():
            print("%-30s %14.4f %s" % (name, m["value"], m["unit"]))
        print("ops attempted %d, failed %d, outputs %s" % (
            result["attempted"], result["failed"],
            "correct" if result["correct"] else "WRONG"))
        print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
