#!/usr/bin/env python3
"""Benchmark command of the repo: NPM replay throughput and analytics query
time in one batch cycle, and open-loop stream latency, with a per-layer
trace. See README.md here.

    python3 perfbench/run.py --workload replay_analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program from source on first use
(perfbench/build.py), generates every input from --seed, measures for
--seconds, checks every output, and prints one JSON object as the last line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("replay_analytics", "stream_trickle")
TABLE_SCALE = 0.01
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170


def heap_size():
    """Heap size by the repo's tier-1 rule: half of RAM, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    # a run that builds may take longer; the limit is on the run itself
    t_start = time.time()

    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = ["java"]
        for p in JVM_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += [f"-Xmx{heap_size()}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
                f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "-cp", f"{classes}:{os.path.join(build.SPARK_JARS, '*')}",
                "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
        tables = None
        staging_s = 0.0
        if a.workload == "replay_analytics":
            import gen_tables
            tables = os.path.join(work, "tables")
            t0 = time.perf_counter()
            gen_tables.generate(tables, a.seed, TABLE_SCALE)
            staging_s = time.perf_counter() - t0
            cmd += ["--data", tables]
        log_path = os.path.join(work, "jvm.log")
        budget = max(30, RUN_LIMIT_S - (time.time() - t_start))
        with open(log_path, "w") as log:
            try:
                rc = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                    timeout=budget).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        result_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            os.makedirs(os.path.join(work_root, "results"), exist_ok=True)
            shutil.copyfile(log_path, os.path.join(
                work_root, "results", f"{a.workload}-s{a.seed}-t{a.trace}.failed.log"))
            with open(log_path) as f:
                tail = f.read()[-3000:]
            print(f"benchmark JVM failed ({rc}):\n{tail}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)

        # generating the tables is input staging, so part of set-up
        res["end_to_end"]["setup_s"]["value"] += staging_s
        failed = int(res["failed"])
        checks = list(res["checks"])
        if a.workload == "replay_analytics":
            import oracle
            extra = res["extra"]
            misses = oracle.check(tables, extra["outputs"], extra["oracle"])
            failed += len(misses)
            checks += misses
            res["per_layer"]["check.failed_frac"]["value"] = failed / max(1, res["attempted"])

        # the run's artifact: every metric, check and set-up repetition
        os.makedirs(os.path.join(work_root, "results"), exist_ok=True)
        res["failed"] = failed
        res["checks"] = checks
        name = f"{a.workload}-s{a.seed}-t{a.trace}"
        with open(os.path.join(work_root, "results", name + ".json"), "w") as f:
            json.dump(res, f, indent=1)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copyfile(spans, os.path.join(work_root, "results", name + ".spans.jsonl"))

        for c in checks:
            print(f"check: {c}")
        layer = res["per_layer"]
        print("health: " + ", ".join(f"{k}={layer[k]['value']}" for k in
                                     ("host.steal_pct", "gen.late_p95_ms", "check.failed_frac")))
        metrics = res["per_layer"] if a.trace else res["end_to_end"]
        bad = [k for k, v in metrics.items() if not isinstance(v["value"], (int, float))
               or not math.isfinite(v["value"])]
        if bad:
            print(f"metrics without a value: {bad}", file=sys.stderr)
            return 1
        print(json.dumps({"correct": failed == 0, "attempted": int(res["attempted"]),
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
