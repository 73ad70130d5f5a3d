#!/usr/bin/env python3
"""graft benchmark: runs one workload and prints one JSON result line last.

    python3 perfbench/run.py --workload book_mix --seed 1 --seconds 5 --trace 0

Builds the program from source first (see build.py), then runs the workload
in a single local-mode JVM. Every metric is printed on its own JSON line
(name, unit, workload, sample count); the last line is the result object.
With --trace 1 the run records spans and per-layer counters instead, and
writes the spans to .bench_build/traces/. book_mix outputs are then checked
against the DuckDB oracle (oracle.py). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("book_mix", "fold_stream")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    classes = build.build()
    work = build.OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = build.OUT / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    cmd = [build.java(), "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", f"{classes}:{build.spark_jars() / '*'}", "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", str(work)]
    try:
        lines, checks = [], []
        with open(log, "w") as err, ThreadPoolExecutor(1) as pool:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err, text=True)

            def read():
                # book_mix announces its oracle inputs before its last
                # checks: the oracle runs beside them
                for line in proc.stdout:
                    if line.startswith('{"oracle":'):
                        checks.append(pool.submit(oracle.check, Path(json.loads(line)["oracle"])))
                    elif line.strip():
                        lines.append(line.rstrip("\n"))

            reader = threading.Thread(target=read)
            reader.start()
            try:
                proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s; log in {log}", file=sys.stderr)
                return 1
            finally:
                reader.join()
        result = None
        if proc.returncode == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                pass
        spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
        wanted = [m["name"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]]
        if not isinstance(result, dict) or not set(wanted) <= set(result.get("metrics", {})):
            sys.stderr.write("".join(open(log).readlines()[-40:]))
            print(f"perfbench: the run failed (exit {proc.returncode}); log in {log}", file=sys.stderr)
            return 1
        failures = [f"self-test: {f}" for f in oracle.self_test()]
        verdicts = []
        for c in checks:
            try:
                verdicts += c.result()
            except Exception as e:  # a broken oracle run fails the check, not the benchmark
                failures.append(f"oracle: {e!r}")
        if a.workload == "book_mix" and not verdicts:
            failures.append("the oracle checks did not run")
        for name, runs, why in verdicts:
            if why:
                failures.append(f"{name}: {why}")
                result["failed"] += runs
        for f in failures:
            print(f"FAILED: {f}", file=sys.stderr)
        result["correct"] = result["correct"] and not failures
        result["metrics"] = {n: result["metrics"][n] for n in wanted}
        for line in lines[:-1]:
            print(line)
        print(json.dumps({"workload": a.workload, "metric": "failed_frac", "unit": "1",
                          "value": result["failed"] / result["attempted"], "samples": result["attempted"],
                          "stat": "failed or wrong-output operations / attempted"}))
        if a.trace == "1":
            traces = build.OUT / "traces"
            traces.mkdir(exist_ok=True)
            spans = traces / f"{a.workload}-seed{a.seed}.json"
            shutil.move(str(work / "spans.json"), spans)
            print(json.dumps({"workload": a.workload, "spans": str(spans.relative_to(build.ROOT))}))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
