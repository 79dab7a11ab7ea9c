#!/usr/bin/env python3
"""Pipeline benchmark: one command that builds the program from source, runs one
workload in a Spark JVM, checks its outputs and prints every metric.

Run from the root of a checkout:

    python3 perfbench/run.py --workload extract_fresh --seed 1 --seconds 10 --trace 0

Workloads: extract_fresh, extract_resume, curate_dedup (see perfbench/README.md).
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones. The last
line of standard output is one JSON object with the keys correct, attempted,
failed and metrics. Build outputs, logs, traces and full results go to
.bench_build/ in the checkout; each run's inputs and outputs are deleted when
it ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("extract_fresh", "extract_resume", "curate_dedup")
RUN_DEADLINE_S = 175  # a run must end within 180 s, the build aside
BUILD_DEADLINE_S = 840

# The JVM flags `sbt run` forks with (build.sbt): JDK 17 module opens for
# Spark, UI off, UTC, the driver heap and ParallelGC.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    project = os.path.join(ROOT, "project")
    if os.path.isdir(project):
        files += [os.path.join(project, f) for f in sorted(os.listdir(project))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return files


def build():
    """Compiles the program and the benchmark with sbt (offline) unless the
    sources are unchanged since the last build; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, stdin=subprocess.DEVNULL,
                timeout=BUILD_DEADLINE_S, text=True)
        except subprocess.TimeoutExpired:
            fail("build timed out", 1)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (exit {p.returncode}); see {log}", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def kill_group(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def main():
    ap = argparse.ArgumentParser(description="graft pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala not found)")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    for d in ("logs", "results", "traces"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(BUILD, "results", tag + ".json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--result", result]
    log = os.path.join(BUILD, "logs", tag + ".log")
    # a SIGTERM unwinds through the except below, which kills the JVM first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open(log, "w") as out:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                rc = p.wait(timeout=RUN_DEADLINE_S)
            except subprocess.TimeoutExpired:
                kill_group(p)
                fail(f"run exceeded {RUN_DEADLINE_S} s; see {log}", 1)
            except BaseException:
                kill_group(p)
                raise
        if rc != 0 or not os.path.exists(result):
            fail(f"benchmark JVM exited {rc}; see {log}", 1)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(BUILD, "traces", tag + ".jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(result) as fh:
        r = json.load(fh)
    print(f"workload {r['workload']} seed {r['seed']} docs {r['docs']} nproc {r['nproc']} "
          f"jobs {r['attempted']} failed {r['failed']} failed_frac {r['failed_frac']}")
    for when in ("host_before", "host_after"):
        h = r[when]
        print(f"{when}: raw_1thr {h['raw_1thr_docs_per_s']:.0f} docs/s, "
              f"raw_{r['nproc']}thr {h['raw_par_docs_per_s']:.0f} docs/s")
    for j in r["jobs"]:
        print(f"job {j['tag']}{' (traced)' if j['traced'] else ''}: wall {j['wall_s']:.3f} s, "
              f"cpu {j['cpu_s']:.2f} s, out {j['out_bytes']} B, old-gen peak {j['peak_heap_mb']:.0f} MB"
              + ("" if j["ok"] else f", FAILED: {'; '.join(j['errors'])}"))
    for n in r["notes"]:
        print(f"check: {n}")
    print(f"wall_s {r['wall_s']} s (median of the untraced jobs; not gated)")
    print(f"docs_per_s {r['docs_per_s']} docs/s (not gated)")
    for name, m in r["metrics"].items():
        print(f"{name} {m['value']} {m['unit']}")
    print(f"full result: {os.path.relpath(result, ROOT)}")
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
