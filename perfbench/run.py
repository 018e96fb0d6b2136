#!/usr/bin/env python3
"""graft benchmark: one seeded run of one workload.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and the harness
(perfbench/build.py) if the sources changed, generates the inputs from
the seed, runs the workload in one JVM (perfbench/src), compares every
oracle-covered slot it called against DuckDB with tools/check.py, and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones (from a traced window that follows
an untraced one, plus traced/untraced overhead ratios). The per-slot
trace artifact and the full result land in .bench_out/.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

DEADLINE_S = 170

# Layers a workload does not exercise report 0 for their per-layer metrics.
BATCH_ONLY = ("operators.", "plan.", "exec.", "Tables.", "trace.")
STREAM_ONLY = ("streaming.", "sources.", "generator.")
KERNELS = ("functions.", "plans.")
NOT_EXERCISED = {
    "corpus_refresh": STREAM_ONLY,
    "alert_stream": BATCH_ONLY + KERNELS,
}

def oracle_check(pairs, log):
    """Runs the unchanged tools/check.py on every (data, dump) pair, all
    at once; returns (checked, failed)."""
    procs = [subprocess.Popen([sys.executable, os.path.join("tools", "check.py"), d, o],
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
             for d, o in pairs]
    checked = failed = 0
    for (_, dump_dir), proc in zip(pairs, procs):
        out = proc.communicate()[0]
        log.write(out)
        oks = len(re.findall(r"^OK ", out, re.M))
        want = json.load(open(os.path.join(dump_dir, "oracle_sql.json")))
        # a slot dumped but never compared (check.py crashed) is a failure
        checked += len(want)
        failed += len(want) - oks
    return checked, failed


def main(argv):
    p = argparse.ArgumentParser(description="graft benchmark run")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--plant-failure", action="store_true",
                   help="add a slot that always throws (tests the failure count)")
    a = p.parse_args(argv)

    spec = json.load(open("BENCHMARK.json"))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    build.build()
    start = time.time()
    cores = min(build.CORES, len(os.sched_getaffinity(0)))
    work = os.path.abspath(os.path.join(".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.abspath(".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    log_path = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    cmd = build.harness_cmd(work, f"-XX:SharedArchiveFile={build.CDS}", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", result_file,
        "--start-ms", str(int(start * 1000)), "--cores", str(cores),
        "--python", sys.executable, "--gen", os.path.abspath(os.path.join("perfbench", "gen.py")),
        "--plant-failure", "1" if a.plant_failure else "0"])
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                rc = proc.wait(timeout=DEADLINE_S - (time.time() - start))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit("perfbench: run exceeded its deadline")
            if rc != 0 or not os.path.exists(result_file):
                sys.exit(f"perfbench: harness exited {rc}; see {log_path}")
            res = json.load(open(result_file))
            checked, bad = oracle_check(res["oracle"], log)
            log.write(f"[perfbench] oracle checked at {time.time() - start:.2f} s\n")
            attempted, failed = res["attempted"] + checked, res["failed"] + bad
        for d in res["known_defects"]:
            print(f"perfbench: known library defect: {d}", file=sys.stderr)
        kind = "per_layer" if a.trace else "end_to_end"
        metrics, missing = {}, []
        for m in spec[kind]:
            got = res["metrics"].get(m["name"])
            if got is None and a.trace and m["name"].startswith(NOT_EXERCISED[a.workload]):
                got = {"value": 0.0}
            if got is None:
                missing.append(m["name"])
                continue
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
        if a.trace:
            slots = os.path.join(work, "slots.json")
            res["slots"] = json.load(open(slots)) if os.path.exists(slots) else {}
        res["missing_metrics"] = missing
        with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(res, f, indent=1)
        correct = failed == 0 and not missing
        print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
