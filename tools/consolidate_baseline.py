#!/usr/bin/env python3
"""Fold a BENCH_FULL_c<cpus>.json sweep into BASELINE.md's per-query table.

Replaces the data rows of the '## Local baseline' table with one row per
query from the latest full-suite bench, making it the single authoritative
per-query reference point (the 2x envelope is then checkable for the whole
surface). The bench reports each query's in-suite median plus its jobs,
tasks, shuffle bytes and peak task memory (see Bench.scala), so the table
carries a telemetry column pair: host load shows up as inflated wall-clock
with UNCHANGED shuffle bytes, a real plan regression moves both.
Usage:
  python3 tools/consolidate_baseline.py [--cpus N]
      full refresh — every row's wall-clock AND telemetry from the sweep
      at N cores, BENCH_FULL_cN.json (in either mode --cpus may be left
      out when only one sweep exists)
  python3 tools/consolidate_baseline.py --telemetry-only [--update-times q1,q2]
      keep each existing row's wall-clock ms (a uniformly slower host must
      not loosen the table); only fill the telemetry columns from the
      latest sweep. A kept ms must have been taken at the sweep's core
      count: the script exits when a kept row's conf column names another
      local[N]. --update-times lists queries whose IMPLEMENTATION changed,
      so their old ms describes retired code and must be replaced.
      Queries absent from the table get full rows either way.
"""
import glob
import json
import re
import sys

telemetry_only = "--telemetry-only" in sys.argv
update_times = set()
if "--update-times" in sys.argv:
    update_times = set(
        sys.argv[sys.argv.index("--update-times") + 1].split(","))

if "--cpus" in sys.argv:
    artifact = f"BENCH_FULL_c{sys.argv[sys.argv.index('--cpus') + 1]}.json"
else:
    sweeps = sorted(glob.glob("BENCH_FULL_c*.json"))
    if len(sweeps) != 1:
        sys.exit(f"pass --cpus N to choose one of {sweeps or 'no'} BENCH_FULL_c*.json sweeps")
    artifact = sweeps[0]
cpus = re.search(r"_c(\d+)\.json$", artifact).group(1)
bench = json.load(open(artifact))
queries = bench["queries"]
detail = bench.get("detail", {})
if any(d and "in_suite" in d for d in detail.values()):
    sys.exit(f"{artifact} holds the retired in_suite/isolated detail records; "
             "fold a sweep taken since Bench reports flat records")
sf = bench["sf"].rstrip("/").split("sf")[-1]

HEADER = ("| query | sf | wall-clock ms (median of 3, noop sink, after warmup)"
          " | shuffle r+w MB | peak task mem MB | spark conf |\n")
SEP = "|---|---|---|---|---|---|\n"


def row(name, keep_ms=None):
    v = queries[name]
    ms = keep_ms if keep_ms is not None else (
        "-1" if v < 0 else str(int(round(v * 1000))))
    stats = detail.get(name) or {}
    if stats:
        mb = (stats["shuffle_read"] + stats["shuffle_write"]) / 1e6
        peak = stats["peak_task_mem"] / 1e6
        tele = f"| {mb:.1f} | {peak:.1f} "
    else:
        tele = "| — | — "
    conf = f"local[{cpus}], shuffle.partitions={cpus}, AQE on"
    return f"| {name} | {sf} | {ms} {tele}| {conf} |\n"


lines = open("BASELINE.md", encoding="utf-8").read().splitlines(keepends=True)
out = []
i = 0
n = len(lines)
replaced = False
while i < n:
    line = lines[i]
    if line.startswith("| query | sf | wall-clock ms") and not replaced:
        out.append(HEADER)
        if i + 1 >= n or not lines[i + 1].lstrip().startswith("|"):
            sys.exit("per-query table header has no separator row")
        out.append(SEP)
        i += 2
        # collect (and skip) old data rows, keeping their ms values and the
        # core count their conf column names
        old_ms, old_cpus = {}, {}
        while i < n and lines[i].startswith("| "):
            m = re.match(r"\|\s*(\w+)\s*\|\s*[\d.]+\s*\|\s*(-?\d+)\s*\|",
                         lines[i])
            if m:
                old_ms[m.group(1)] = m.group(2)
                c = re.search(r"local\[(\d+)\]", lines[i])
                old_cpus[m.group(1)] = c.group(1) if c else None
            i += 1
        for name in sorted(queries):
            keep = (old_ms.get(name)
                    if telemetry_only and name not in update_times else None)
            if keep is not None and old_cpus[name] != cpus:
                sys.exit(f"{name}: its row's ms was taken at local[{old_cpus[name]}], "
                         f"the sweep ran at local[{cpus}]; a kept ms would be "
                         "mislabelled. Refresh fully, or list the query in "
                         "--update-times.")
            out.append(row(name, keep_ms=keep))
        replaced = True
        continue
    out.append(line)
    i += 1

if not replaced:
    sys.exit("per-query table header not found in BASELINE.md")
open("BASELINE.md", "w", encoding="utf-8").writelines(out)
print(f"wrote {len(queries)} rows (sf{sf}) at local[{cpus}]")
