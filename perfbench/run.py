#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

  python3 perfbench/run.py --workload stream_matchday --seed 1 --seconds 25 --trace 0

Builds the library and the benchmark code with sbt on first use (the
classpath is cached under perfbench/target), makes the workload's inputs
from the seed, runs one JVM on local[4], checks the outputs and prints, as
the last line, {"correct", "attempted", "failed", "metrics"}. The line
before it carries the workload's own named figures and the host canary.
With --trace 1 the metrics are the per-layer ones of BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_matchday", "query_suite")
# Longer than a run's own caps added up (StreamMatchday waits at most 30 s to
# catch up and 30 s to drain), so a stalled stream is reported as a failed
# run with a result line instead of being killed; short enough that a run
# still ends within 180 s.
JVM_TIMEOUT_S = 165
# The query tables: a copy of the sf0.001 TPC-H-like test tables (seed 42)
# that the library's own query checks read.
QUERY_DATA = os.path.join(HERE, "testdata", "sf0.001")
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stop(proc):
    """Kill a child's whole process group if it is still running, and wait."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def sources_newest():
    newest = os.path.getmtime(os.path.join(HERE, "build.sbt"))
    for top in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, fs in os.walk(top):
            for f in fs:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile with sbt unless the cached classpath is newer than every
    source; returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if not os.path.isfile(cp_file) or os.path.getmtime(cp_file) < sources_newest():
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
        proc = subprocess.Popen(["sbt", "-batch", "compile", "writeClasspath"],
                                cwd=HERE, env=env, stdout=sys.stderr,
                                stderr=sys.stderr, start_new_session=True)
        try:
            proc.wait(timeout=800)
        finally:
            stop(proc)
        if proc.returncode != 0 or not os.path.isfile(cp_file):
            fail("sbt build failed")
    with open(cp_file) as f:
        return f.read().strip()


def run_jvm(cp, args, work):
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += ["-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"JVM did not finish within {JVM_TIMEOUT_S} s")
        finally:
            stop(proc)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {proc.returncode} and no result")
    return json.loads(lines[-1][len("PERFBENCH "):])


def check_queries(res, work, data_dir):
    """DuckDB oracle compare and rows-only digests of the query outputs."""
    import oracle
    out = os.path.join(work, "query_out")
    con = oracle.connect(data_dir)
    with open(os.path.join(HERE, "rows_only_digests.json")) as f:
        expected = json.load(f)
    sqls = {}
    with open(os.path.join(out, "oracle_sql.tsv")) as f:
        for line in f:
            name, sql = line.rstrip("\n").split("\t", 1)
            sqls[name] = sql
    checked = 0
    for name in sorted(os.listdir(out)):
        d = os.path.join(out, name)
        if not os.path.isdir(d):
            continue
        checked += 1
        try:
            if name in sqls:
                diff = oracle.compare(con, sqls[name], d)
            elif name in expected:
                got = oracle.digest(con, d)
                diff = None if got == expected[name] else \
                    f"digest {got} != recorded {expected[name]}"
            else:
                diff = "no oracle and no recorded digest"
        except Exception as e:  # a failing check is a failed operation
            diff = f"check raised {e!r}"[:300]
        if diff:
            res["failures"].append(f"{name}: {diff}")
    res["attempted"] += checked
    res["detail"]["query_checked"] = checked


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the smoke test")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found next to perfbench/")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = build()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, HERE)
    try:
        res = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds),
                           str(a.trace), work,
                           "smoke" if a.smoke else "full", QUERY_DATA], work)
        if a.workload == "query_suite":
            check_queries(res, work, QUERY_DATA)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = len(res["failures"])
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"] or got["value"] is None:
            fail(f"metric {m['name']} missing or without a value: {got}")
        metrics[m["name"]] = got
    detail = dict(res["detail"])
    detail["failed_share"] = failed / max(1, res["attempted"])
    if a.trace:
        # the layer ladder should add up to the end-to-end wall
        e2e = metrics["ladder.e2e_s"]["value"]
        gap = metrics["unattributed_s"]["value"]
        detail["ladder_gap_share"] = gap / e2e if e2e else None
        detail["ladder_gap_over_10pct"] = e2e > 0 and abs(gap) > 0.1 * e2e
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "failures": res["failures"], "detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
