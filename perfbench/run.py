#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload full_scan --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source with sbt (once per source
state; the classpath is cached under .bench_build/), runs the workload in a
fresh JVM, and prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end set, with --trace 1 the per-layer set. The line before
it carries the run's detail: every other figure, the host-noise probe, and
(for a traced run) the tracing overhead against the latest untraced run
of the same workload and seed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("full_scan", "append_delta", "query_suite")
RUN_LIMIT_S = 170  # a run, build excluded, ends within this many seconds

ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of everything the build reads: both build definitions and all
    main sources of the engine and the benchmark."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted((ROOT / "src" / "main").rglob("*"))
    files += sorted((HERE / "src").rglob("*"))
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt, offline, and return the runtime classpath."""
    key = source_hash()
    cp_file, key_file = BUILD / "classpath.txt", BUILD / "source.sha256"
    if cp_file.exists() and key_file.exists() and key_file.read_text() == key:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    (BUILD / "build.log").write_text(p.stdout)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if not l.startswith("[") and "classes" in l and ":" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {p.returncode}); log in {BUILD / 'build.log'}", 3)
    cp_file.write_text(cps[-1].strip())
    key_file.write_text(key)
    return cps[-1].strip()


def check_tables():
    """The expected row counts hold only for the committed query tables:
    refuse to run on any other bytes."""
    sums = HERE / "data" / "SHA256SUMS"
    for line in sums.read_text().splitlines():
        digest, name = line.split()
        f = HERE / "data" / name
        if not f.is_file() or hashlib.sha256(f.read_bytes()).hexdigest() != digest:
            fail(f"{f} is missing or differs from {sums}", 2)


def run_jvm(args, classpath, deadline):
    work = ROOT / ".bench_build" / "perfbench-work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True)
    cmd = ["java", *ADD_OPENS, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           "-XX:G1HeapRegionSize=32m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--data", str(HERE)]
    # SPARK_LOCAL_DIRS overrides spark.local.dir; keep scratch in the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                             stderr=log, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"workload overran {RUN_LIMIT_S} s; log in {work / 'jvm.log'}", 4)
    # the generated tables are large and rebuilt by every run's set-up
    for d in ("full_scan", "append_delta", "query_suite", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(work / d, ignore_errors=True)
    result = work / "result.json"
    if p.returncode != 0 or not result.exists():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"workload exited {p.returncode}; log in {work / 'jvm.log'}", 5)
    return out, json.loads(result.read_text())


def tracing_overhead(detail):
    """Traced minus untraced end-to-end figures, against the latest untraced
    run of the same workload and seed recorded in this checkout."""
    runs = BUILD / "runs.jsonl"
    if not runs.exists():
        return None
    for line in reversed(runs.read_text().splitlines()):
        prev = json.loads(line)
        if (prev["workload"], prev["seed"], prev["trace"]) == \
                (detail["workload"], detail["seed"], False):
            return {k: {"value": v["value"] - prev["end_to_end"][k]["value"], "unit": v["unit"]}
                    for k, v in detail["end_to_end"].items() if k in prev["end_to_end"]}
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {ROOT} (expected build.sbt and src/main/scala/graft)", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH", 2)

    if args.workload == "query_suite":
        check_tables()
    classpath = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    out, result = run_jvm(args, classpath, deadline)
    lines = [l for l in out.splitlines() if l.strip()]
    detail = json.loads(lines[-1])
    if detail["trace"]:
        detail["tracing_overhead"] = tracing_overhead(detail)
    with open(BUILD / "runs.jsonl", "a") as f:
        f.write(json.dumps({**detail, "result": result}) + "\n")
    print(json.dumps(detail))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
