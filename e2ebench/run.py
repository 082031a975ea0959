#!/usr/bin/env python3
"""The benchmark of the graft engine: the paper's two jobs
(`adtech_e2e`) and the bench query suite (`query_suite`).

Run from the repository root:

  python3 e2ebench/run.py --workload adtech_e2e --seed 1 --seconds 15 --trace 0
  python3 e2ebench/run.py --selftest          # corpus generator checks

Builds the engine and the benchmark from source (build.py), generates
the workload's inputs from --seed, runs one JVM in a closed loop and
prints, as its last stdout line, {"correct", "attempted", "failed",
"metrics"}: the end-to-end metrics of BENCHMARK.json with --trace 0,
its per-layer metrics with --trace 1. Earlier lines carry the host
stamp and, with --trace 0, every end-to-end figure (workload-specific
ones included), with --trace 1 every per-layer figure; the ledger,
spans included, is also written as JSON under .bench_build/ledger/. Everything the run writes stays under
.bench_build/ in the repository root.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # the benchmark writes only under .bench_build/
sys.path.insert(0, HERE)
import build  # noqa: E402

# query_suite's tables: a copy of the engine's seed-42 reference tables
# at scale factor 0.01, the scale its DuckDB oracle checks run at.
# expect/query_suite.tsv holds the output checks for exactly these.
QUERY_TABLES = os.path.join(HERE, "tables", "sf0.01")
JVM_TIMEOUT_S = 170

# build.sbt's javaOptions for forked mains: Spark on JDK 17 outside
# spark-submit needs these opens; UI off, UTC session zone, ParallelGC.
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def heap() -> str:
    """Tier-1's SPARK_DRIVER_MEM rule: half the host's memory, 2g..8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def git_head(root: str) -> str:
    if not os.path.exists(os.path.join(root, ".git")):
        return "none"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "none"


def jvm(cp: str, work: str, args: list) -> subprocess.CompletedProcess:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{heap()}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "graftbench.Main"] + args
    return subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                          timeout=JVM_TIMEOUT_S)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    golden = os.path.join(root, "src", "test", "resources", "golden")
    spec_path = os.path.join(root, "BENCHMARK.json")
    for need in (os.path.join(root, "src", "main", "scala"), golden, spec_path):
        if not os.path.exists(need):
            print(f"e2ebench: '{os.path.relpath(need, root)}' is missing; run from the "
                  "root of a checkout of the engine", file=sys.stderr)
            return 2
    with open(spec_path, encoding="utf-8") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if not a.selftest and a.workload not in names:
        print(f"e2ebench: --workload must be one of {names}", file=sys.stderr)
        return 2

    cp, sources = build.build(root)
    nproc = len(os.sched_getaffinity(0))
    bench = os.path.join(root, ".bench_build")
    label = "selftest" if a.selftest else a.workload
    work = os.path.join(bench, "work", label)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    common = ["--work", work, "--golden", golden, "--cores", str(nproc), "--seed", str(a.seed)]
    try:
        if a.selftest:
            r = jvm(cp, work, ["--mode", "selftest"] + common)
            sys.stdout.write(r.stdout)
            return r.returncode

        t0 = time.monotonic()
        tables = os.path.join(work, "tables")
        if a.workload == "query_suite":  # a copy, so no run can change the shipped tables
            shutil.copytree(QUERY_TABLES, tables)
        pre = time.monotonic() - t0
        ledger = os.path.join(bench, "ledger", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        r = jvm(cp, work, ["--mode", "run", "--workload", a.workload,
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--tables", tables,
                           "--expect", os.path.join(HERE, "expect", "query_suite.tsv"),
                           "--pre-setup", repr(pre),
                           "--head", f"{git_head(root)} (sources {sources})",
                           "--ledger", ledger] + common)
    except subprocess.TimeoutExpired:
        print(f"e2ebench: the JVM ran past {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        print(f"e2ebench: the JVM exited with {r.returncode}", file=sys.stderr)
        return r.returncode or 4
    result = json.loads(lines[-1])
    declared = spec["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in result["metrics"]]
    if missing:
        print(f"e2ebench: the run measured no {missing}", file=sys.stderr)
        return 5
    result["metrics"] = {m["name"]: {"value": result["metrics"][m["name"]]["value"],
                                     "unit": m["unit"]} for m in declared}
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
