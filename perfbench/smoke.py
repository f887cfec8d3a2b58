#!/usr/bin/env python3
"""Self-check of the benchmark: one traced pass of every workload at sf0.001.

Usage (from the root of a graft checkout):

    python3 perfbench/smoke.py [--data DIR] [--workloads a,b,...]

For each workload it runs `perfbench/run.py --seconds 0 --trace 1` (one
timed pass) on the small testdata (default ~/testdata/sf0.001) and asserts:
every end-to-end metric, peak_rss_mb and failed_frac is printed by name with
its unit;
the final JSON line carries every gated per-layer metric with its unit; no query
failed; the spans nest (each inside its parent); every job started during a
pass belongs to a construct or execute span of a query; and the queries
cover the pass wall time but the suite-state cleanup between them. Exits 1
on the first workload that fails an assertion.
"""
import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans as spanlib  # noqa: E402
from run import END_TO_END, PRINTED_ONLY  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MAX_PASS_SELF_FRAC = 0.05  # cleanup between queries, as a share of the pass


def check(workload, data):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "0", "--trace", "1", "--data", data]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        return [f"run.py exited {proc.returncode}: {proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    problems = []
    for name, unit in END_TO_END + PRINTED_ONLY:
        if not any(re.match(rf"\s+{re.escape(name)}\s+\S+ {re.escape(unit)}\b", l) for l in lines):
            problems.append(f"end-to-end metric {name} [{unit}] not printed")
    out = json.loads(lines[-1])
    if sorted(out) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(out)}")
    for name, unit in spanlib.LAYER_METRICS:
        if name in spanlib.NOT_GATED:
            continue
        m = out["metrics"].get(name)
        if not m or m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            problems.append(f"per-layer metric {name} [{unit}] missing: {m}")
    if not out["correct"] or out["failed"]:
        problems.append(f"{out['failed']} of {out['attempted']} query executions failed")

    results = os.path.join(HERE, "out", "results")
    newest = max((f for f in os.listdir(results) if f.startswith(f"{workload}-")
                  and f.endswith(".json")), key=lambda f: os.path.getmtime(os.path.join(results, f)))
    with open(os.path.join(results, newest)) as f:
        record = json.load(f)
    span_list = spanlib.load(os.path.join(results, record["spans_file"]))
    by_id = spanlib.resolve(span_list)
    problems += [f"span {e}" for e in spanlib.nesting_errors(by_id)]
    own = spanlib.self_times(by_id)
    queries = [s for s in span_list if s["name"] == "query"]
    if len(queries) != len(record["execs"]):
        problems.append(f"{len(queries)} query spans for {len(record['execs'])} executions")
    for job in (s for s in span_list if s["name"] == "job" and s["pass"] is not None):
        parent = by_id.get(job["parent"])
        if parent is None or parent["name"] not in ("construct", "execute"):
            problems.append(f"{job['id']} ({job.get('stage_name')}) ran in pass {job['pass']} "
                            "outside every construct and execute span")
    for p in (s for s in span_list if s["name"] == "pass"):
        frac = own[p["id"]] / (p["end_ms"] - p["start_ms"])
        if frac > MAX_PASS_SELF_FRAC:
            problems.append(f"{p['id']}: queries cover only {1 - frac:.1%} of the pass")
    return problems


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--data", default=os.path.expanduser("~/testdata/sf0.001"))
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    args = ap.parse_args(argv)
    for workload in args.workloads.split(","):
        problems = check(workload, os.path.abspath(args.data))
        print(f"{workload}: {'ok' if not problems else 'FAILED'}")
        for p in problems:
            print(f"  {p}")
        if problems:
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
