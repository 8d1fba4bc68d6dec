#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload <pcap_scan|sql_pipeline>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness from
source (perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py; not timed), starts one JVM running Spark at
local[<cpus>] with one client thread in a closed loop
(perfbench/harness), checks every output, and prints one JSON object as
the last line of stdout: the end-to-end metrics with --trace 0, the
per-layer metrics of a traced run with --trace 1. Every run gets a fresh
warehouse, Spark local dir and temp dir, removed when it ends. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("pcap_scan", "sql_pipeline")
SQL_SCALE = "sf0.01"
JVM_TIMEOUT_S = 165
HEAP = "2g"
# module opens Spark needs on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sf_dir():
    """The sql_pipeline tables: $PERFBENCH_SF_DIR, else the sf0.01 directory
    TESTDATA.md names."""
    if os.environ.get("PERFBENCH_SF_DIR"):
        return os.environ["PERFBENCH_SF_DIR"]
    try:
        with open("TESTDATA.md", encoding="utf-8") as f:
            m = re.search(r"`([^`]*/" + re.escape(SQL_SCALE) + r")/?`", f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        fail(f"no {SQL_SCALE} table directory: set PERFBENCH_SF_DIR")
    return m.group(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join("src", "main", "scala")):
        fail("engine sources (src/main/scala) not found: run from the repository root")
    try:
        classpath = build.build(".")
    except build.BuildError as e:
        fail(str(e))

    run_dir = os.path.abspath(os.path.join(
        build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    for d in (work, os.path.join(work, "tmp")):
        os.makedirs(d)
    try:
        result, table = run(a, classpath, inputs, work)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.trace:
        for line in table:
            print(line)
    metrics = result["end_to_end"] if a.trace == 0 else dict(result["per_layer"], failed_frac={
        "value": result["failed"] / max(1, result["attempted"]), "unit": "ratio"})
    for f in result["failures"]:
        print(f"check failed: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))


def run(a, classpath, inputs, work):
    """Generate inputs, run the harness JVM, add the oracle checks; return
    (harness result, lines of the traced run's tables)."""
    extra = []
    if a.workload == "sql_pipeline":
        sf = sf_dir()
        extra += ["--sf", sf]
        if a.trace:  # the pcap layer passes need a capture of their own
            m = gen.generate("probe", a.seed, inputs)
            extra += ["--layer-file", os.path.join(inputs, m["layer_file"])]
        else:
            os.makedirs(inputs)
    else:
        m = gen.generate(a.workload, a.seed, inputs)
        extra += ["--layer-file", os.path.join(inputs, m["layer_file"])]

    t0 = time.time()
    out = os.path.join(work, "result.json")
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "graft.bench.Harness",
            "--workload", a.workload, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--inputs", inputs, "--work", work, "--out", out,
            "--launched-ns", str(time.time_ns())] + extra)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as lf:
            tail = lf.read()[-3000:]
        fail(f"harness JVM ended with {code}; log tail:\n{tail}")
    with open(out) as f:
        result = json.load(f)
    print(f"perfbench: harness JVM done after {time.time() - t0:.1f} s; quiesced "
          f"{result['quiesce_s']:.2f} s before the cold pass; timed pass walls "
          f"{[round(w, 3) for w in result['pass_walls_s']]} s", file=sys.stderr)
    if a.workload == "sql_pipeline":
        oracle_checks(sf, os.path.join(work, "oracle"), result)

    print(f"perfbench: checks done after {time.time() - t0:.1f} s", file=sys.stderr)
    table = []
    if a.trace:
        trace_dir = os.path.join(build.BUILD_DIR, "traces", f"{a.workload}-seed{a.seed}")
        shutil.rmtree(trace_dir, ignore_errors=True)
        shutil.copytree(os.path.join(work, "trace"), trace_dir)
        with open(os.path.join(trace_dir, "selftime.txt")) as f:
            table = [l.rstrip("\n") for l in f]
        table += [f"{n} {v['value']} {v['unit']}" for n, v in result["detail"].items()]
        table.append(f"spans: {os.path.join(trace_dir, 'spans.jsonl')}")
    return result, table


def oracle_checks(sf, dump_dir, result):
    """Hash-match every dumped sql_pipeline result against its DuckDB oracle
    with the repository's own compare (tools/compare_oracle.py), which prints
    one `ok` or `FAIL` line per query; a query without a line failed."""
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        names = set(json.load(f))
    p = subprocess.run([sys.executable, os.path.join("tools", "compare_oracle.py"), sf, dump_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    seen = set()
    for line in p.stdout.splitlines():
        m = re.match(r"(ok|FAIL) +([^:]+):", line)
        if m and m.group(2) in names:
            seen.add(m.group(2))
            if m.group(1) == "FAIL":
                result["failed"] += 1
                result["failures"].append(f"oracle {line}")
    result["attempted"] += len(names)
    for name in sorted(names - seen):
        result["failed"] += 1
        result["failures"].append(f"oracle {name}: not compared\n{p.stdout[-2000:]}")


if __name__ == "__main__":
    main()
