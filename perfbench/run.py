#!/usr/bin/env python3
"""graft benchmark: one workload, one local Spark JVM, one closed loop.

    python3 perfbench/run.py --workload kg_extract --seed 42 --seconds 8 --trace 0
    python3 perfbench/run.py --self-test

Builds the project from source (perfbench/build.py), makes the workload's
inputs from --seed, measures for --seconds, checks the outputs, and prints
every metric as "name value unit" lines followed by ONE JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones (spans
are written to perfbench/.work/<workload>/spans.jsonl).
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# Byte copies of the project's seed-42 tables (TESTDATA.md), limited to the
# tables the query panel reads: sweeps are timed on sf0.1, and the outputs
# are checked on sf0.01, the scale the DuckDB oracles and golden pins hold at.
TABLES = HERE / "tables" / "sf0.1"
ORACLE_TABLES = HERE / "tables" / "sf0.01"
WORKLOADS = ("kg_extract", "query_suite")
PAGES = {"kg_extract": 1000, "query_suite": 0}
JVM_TIMEOUT_S = 165
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def expected_metrics(trace):
    return {m["name"]: m["unit"] for m in spec()["per_layer" if trace else "end_to_end"]}


def cpus():
    return max(1, min(4, os.cpu_count() or 1))


def run_jvm(args, work, pages, plant_wrong):
    import build
    build.build()
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    cmd += ["-cp", build.classpath(), "perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--cpus", str(cpus()), "--pages", str(pages),
            "--tables", str(TABLES), "--oracle-tables", str(ORACLE_TABLES),
            "--plant-wrong", "1" if plant_wrong else "0"]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=work, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException as e:  # timeout, SIGTERM or ^C: stop the JVM before leaving
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; log in {work / 'jvm.log'}")
            raise
    if code != 0 or not (work / "result.json").exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"benchmark JVM exited with code {code}")
    return json.loads((work / "result.json").read_text())


def check_queries(work, result):
    """Compare each warm-up query output with its DuckDB oracle, with the
    project's own checker (tools/check_oracles.py). Golden-pin oracles name
    the pin files by absolute path; point them at this checkout."""
    qout = work / "qout"
    oracle_file = qout / "oracle_sql.json"
    oracle = json.loads(oracle_file.read_text())
    pin = re.compile(r"'[^']*?(/src/test/resources/golden/)")
    oracle = {k: pin.sub(lambda m: f"'{ROOT}{m.group(1)}", v) for k, v in oracle.items()}
    oracle_file.write_text(json.dumps(oracle))
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracles.py"), str(qout),
                        str(ORACLE_TABLES)], capture_output=True, text=True, timeout=120)
    (work / "oracle_check.log").write_text(r.stdout + r.stderr)
    seen = 0
    for line in r.stdout.splitlines():
        m = re.match(r"^(✓|✗)\s+(\S+)\s+(q\w+):?", line)
        if not m:
            continue
        seen += 1
        result["attempted"] += 1
        if m.group(1) == "✗":
            result["failed"] += 1
            result["failures"].append(line.strip())
    missing = len(oracle) - seen
    if missing > 0 or r.returncode not in (0, 1):
        result["attempted"] += max(1, missing)
        result["failed"] += max(1, missing)
        result["failures"].append(f"oracle check covered {seen} of {len(oracle)} queries")


def run(args, pages=None, plant_wrong=False):
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: run from a checkout of the project (src/main/scala missing)")
    work = HERE / ".work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result = run_jvm(args, work, PAGES[args.workload] if pages is None else pages, plant_wrong)
    if args.workload == "query_suite" and (work / "qout" / "oracle_sql.json").exists():
        check_queries(work, result)

    want = expected_metrics(args.trace)
    metrics = {k: v for k, v in result["metrics"].items() if k in want}
    for name in set(want) - set(metrics):
        result["attempted"] += 1
        result["failed"] += 1
        result["failures"].append(f"metric {name} was not measured")
    for name, m in list(metrics.items()) + list(result["report"].items()):
        print(f"{name} {m['value']} {m['unit']}")
    failed_ratio = result["failed"] / max(1, result["attempted"])
    print(f"failed_ratio {failed_ratio} ratio")
    for f in result["failures"]:
        print(f"FAILED: {f}", file=sys.stderr)
    out = {"correct": result["failed"] == 0,
           "attempted": max(1, result["attempted"]), "failed": result["failed"],
           "metrics": {k: metrics[k] for k in want if k in metrics}}
    return out


def self_test():
    """Small runs of every workload in both modes (query_suite at its full
    size): every metric of BENCHMARK.json is measured and prints with its
    unit, the checks pass, and a planted wrong result (one dropped triple)
    counts as failed."""
    small = {"kg_extract": 200, "query_suite": 0}
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            a = argparse.Namespace(workload=w, seed=7, seconds=1, trace=trace)
            out = run(a, pages=small[w])
            want = expected_metrics(trace)
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metrics {got} != {want}")
            if not out["correct"]:
                problems.append(f"{w} trace={trace}: checks failed ({out['failed']})")
    out = run(argparse.Namespace(workload="kg_extract", seed=7, seconds=1, trace=0),
              pages=small["kg_extract"], plant_wrong=True)
    if out["correct"] or out["failed"] < 1:
        problems.append("kg_extract: planted dropped triple not counted as failed")
    for p in problems:
        print("SELF-TEST FAIL:", p)
    print("self-test", "failed" if problems else "passed")
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, str(HERE))
    if a.self_test:
        sys.exit(self_test())
    if not a.workload:
        ap.error("--workload is required")
    out = run(a)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
