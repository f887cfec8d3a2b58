#!/usr/bin/env python3
"""Span reader: per-layer metrics of traced benchmark runs.

Usage: python3 perfbench/spans.py [RESULT.json ...]

With no arguments it reads every result under perfbench/out/results. Results
are pooled only when they share source digest (the engine and harness sources
the run built), workload, testdata and --seconds. For each such group it prints the
per-layer table of its traced runs: the median of each metric over runs,
whether it repeats exactly across runs or varies (and then its spread), each
span's self time, the construction/execution split with its base, and the
tracing overhead (traced minus untraced suite_s of the same group).

A traced run's span file holds one JSON object per line with id, name,
parent, qid (the query execution the span belongs to, `p<pass>.<query>`),
start_ms and end_ms. Spans nest: pass > query > construct | execute >
plan.<phase> | job > stage. A span's self time is its duration minus the part
of it its children cover.
"""
import bisect
import glob
import json
import os
import statistics
import sys
from collections import defaultdict

MB = 1e6

# (name, unit) of every per-layer metric, in the order they are printed.
LAYER_METRICS = [
    ("session.start_s", "s"),
    ("queries.construct_s", "s"), ("queries.execute_s", "s"),
    ("queries.construct_jobs", "count"), ("queries.construct_task_s", "s"),
    ("operators.checkpoint_jobs", "count"), ("operators.rdds_left", "count"),
    ("sources.schema_jobs", "count"), ("sources.input_mb", "MB"),
    ("sources.output_mb", "MB"), ("sources.output_records", "count"),
    ("plans.analysis_s", "s"), ("plans.optimize_s", "s"), ("plans.physical_s", "s"),
    ("plans.exchanges", "count"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.idle_s", "s"),
    ("exec.task_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"), ("exec.busy_frac", "frac"),
    ("exec.peak_task_mem_mb", "MB"), ("exec.spill_mb", "MB"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.fetch_wait_s", "s"),
    ("self.pass_s", "s"), ("self.query_s", "s"), ("self.construct_s", "s"),
    ("self.execute_s", "s"), ("self.plan_s", "s"), ("self.job_s", "s"), ("self.stage_s", "s"),
    ("trace.suite_s", "s"),
]
# Printed by the reader but left out of a run's result line: a query's self
# time is zero by construction (construct and execute tile it), and in local
# mode every shuffle block is local, so no fetch ever waits.
NOT_GATED = {"self.query_s", "shuffle.fetch_wait_s"}

TOLERANCE_MS = 5.0  # listener timestamps are whole milliseconds


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _pass_of(span):
    if span["name"] == "pass":
        return int(span["id"][4:])
    qid = span.get("qid") or ""
    return int(qid[1:qid.index(".")]) if qid.startswith("p") and "." in qid else None


def resolve(spans):
    """Gives every plan span, and every job the submitting thread did not mark,
    the construct or execute span it ran in (by time); gives stages their job's
    query. Returns {id: span}, each span with a `pass` (or None)."""
    by_id = {s["id"]: s for s in spans}
    windows = sorted((s["start_ms"], s["end_ms"], s["id"])
                     for s in spans if s["name"] in ("construct", "execute"))
    starts = [w[0] for w in windows]

    def enclosing(s):
        mid = (s["start_ms"] + s["end_ms"]) / 2
        i = bisect.bisect_right(starts, mid) - 1
        if i >= 0 and windows[i][1] >= mid:
            return windows[i][2]
        return None

    for s in spans:
        if s["name"].startswith("plan.") or (s["name"] == "job" and not s["parent"]):
            s["parent"] = enclosing(s)
            s["qid"] = by_id[s["parent"]]["qid"] if s["parent"] else ""
    for s in spans:
        if s["name"] == "stage":
            job = by_id.get(s["parent"])
            s["qid"] = job["qid"] if job else ""
    passes = sorted((s["start_ms"], s["end_ms"], _pass_of(s)) for s in spans if s["name"] == "pass")
    for s in spans:
        s["pass"] = _pass_of(s)
        if s["pass"] is None:  # not inside any query: place by time
            for start, end, p in passes:
                if start <= s["start_ms"] <= end:
                    s["pass"] = p
    return by_id


def union_length(intervals, lo=float("-inf"), hi=float("inf")):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(by_id):
    """{span id: self time in ms}."""
    children = defaultdict(list)
    for s in by_id.values():
        if s.get("parent") in by_id:
            children[s["parent"]].append(s)
    out = {}
    for sid, s in by_id.items():
        covered = union_length([(c["start_ms"], c["end_ms"]) for c in children[sid]],
                               s["start_ms"], s["end_ms"])
        out[sid] = s["end_ms"] - s["start_ms"] - covered
    return out


def nesting_errors(by_id):
    """Spans that stick out of their parent by more than the tolerance."""
    bad = []
    for s in by_id.values():
        p = by_id.get(s.get("parent"))
        if p and (s["start_ms"] < p["start_ms"] - TOLERANCE_MS
                  or s["end_ms"] > p["end_ms"] + TOLERANCE_MS):
            bad.append(f'{s["id"]} ({s["name"]}) outside {p["id"]} ({p["name"]})')
    return bad


def layer_metrics(spans, execs, cores):
    """{pass number: {metric: value}} for every timed pass of a traced run."""
    by_id = resolve(spans)
    own = self_times(by_id)
    per = {}
    session = [s for s in spans if s["name"] == "session"]
    for ps in (s for s in spans if s["name"] == "pass"):
        p = _pass_of(ps)
        inp = [s for s in spans if s["pass"] == p]
        named = defaultdict(list)
        for s in inp:
            named[s["name"]].append(s)
        dur = lambda ss: sum(s["end_ms"] - s["start_ms"] for s in ss) / 1000
        stages = named["stage"]
        attr = lambda key, ss=stages: sum(s.get(key, 0) for s in ss)
        construct_ids = {s["id"] for s in named["construct"]}
        construct_jobs = [j for j in named["job"] if j["parent"] in construct_ids]
        cjob_ids = {j["id"] for j in construct_jobs}
        plans = {}
        for s in inp:
            if s["name"].startswith("plan."):
                plans[s["id"].split(".")[0]] = s.get("exchanges", 0)
        pass_s = (ps["end_ms"] - ps["start_ms"]) / 1000
        task_s = attr("run_ms") / 1000
        busy = [tuple(iv) for st in stages for iv in st.get("busy", [])]
        busy_s = union_length(busy, ps["start_ms"], ps["end_ms"]) / 1000
        by_stage_name = lambda prefix: sum(1 for j in named["job"] if j.get("stage_name", "").startswith(prefix))
        m = {
            "session.start_s": dur(session),
            "queries.construct_s": dur(named["construct"]),
            "queries.execute_s": dur(named["execute"]),
            "queries.construct_jobs": len(construct_jobs),
            "queries.construct_task_s": attr("run_ms", [s for s in stages if s["parent"] in cjob_ids]) / 1000,
            "operators.checkpoint_jobs": by_stage_name("localCheckpoint"),
            "operators.rdds_left": sum(e["rdds_left"] for e in execs if e["pass"] == p),
            "sources.schema_jobs": by_stage_name("parquet at Tables.scala"),
            "sources.input_mb": attr("in_bytes") / MB,
            "sources.output_mb": attr("out_bytes") / MB,
            "sources.output_records": attr("out_records"),
            "plans.analysis_s": dur(named["plan.analysis"]),
            "plans.optimize_s": dur(named["plan.optimization"]),
            "plans.physical_s": dur(named["plan.planning"]),
            "plans.exchanges": sum(max(x, 0) for x in plans.values()),
            "sched.jobs": len(named["job"]),
            "sched.stages": len(stages),
            "sched.tasks": attr("tasks"),
            "sched.idle_s": pass_s - busy_s,
            "exec.task_s": task_s,
            "exec.cpu_s": attr("cpu_ns") / 1e9,
            "exec.gc_s": attr("gc_ms") / 1000,
            "exec.busy_frac": task_s / (cores * pass_s),
            "exec.peak_task_mem_mb": max([s.get("peak_mem", 0) for s in stages] or [0]) / MB,
            "exec.spill_mb": attr("spill_disk") / MB,
            "shuffle.write_mb": attr("sh_write") / MB,
            "shuffle.read_mb": attr("sh_read") / MB,
            "shuffle.fetch_wait_s": attr("fetch_wait_ms") / 1000,
            "trace.suite_s": pass_s,
        }
        for name in ("pass", "query", "construct", "execute", "job", "stage"):
            m[f"self.{name}_s"] = sum(own[s["id"]] for s in named[name]) / 1000
        m["self.plan_s"] = sum(own[s["id"]] for s in inp if s["name"].startswith("plan.")) / 1000
        per[p] = m
    return per


def medians(per_pass):
    """Median of each metric over passes."""
    names = [n for n, _ in LAYER_METRICS]
    return {n: statistics.median(m[n] for m in per_pass.values()) for n in names}


def spread(values):
    """(median, interquartile range as a share of the median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def report(workload, traced, untraced, out=sys.stdout):
    """Prints one workload's per-layer table from its traced results."""
    w = lambda line="": print(line, file=out)
    runs = [r["layer"] for r in traced]
    w(f"== {workload}: {len(traced)} traced run(s), seeds "
      f"{sorted({r['context']['seed'] for r in traced})}, cores {traced[0]['context']['cores']}")
    w(f"{'metric':28} {'unit':6} {'median':>12}  across runs")
    for name, unit in LAYER_METRICS:
        vals = [r[name] for r in runs]
        med, iqr = spread(vals)
        if len(vals) < 2:
            note = "one run"
        elif len(set(vals)) == 1:
            note = "repeats exactly"
        else:
            note = f"varies: {min(vals):.6g}..{max(vals):.6g}, IQR {iqr:.1%} of median"
        w(f"{name:28} {unit:6} {med:12.4f}  {note}")
    med = {n: statistics.median(r[n] for r in runs) for n, _ in LAYER_METRICS}
    wall = med["queries.construct_s"] + med["queries.execute_s"]
    if wall > 0:
        larger = "construction" if med["queries.construct_s"] > med["queries.execute_s"] else "execution"
        w(f"split: construction {med['queries.construct_s']:.3f} s "
          f"({med['queries.construct_s'] / wall:.1%}), execution {med['queries.execute_s']:.3f} s "
          f"({med['queries.execute_s'] / wall:.1%}) of {wall:.3f} s query wall time per pass; "
          f"{larger} is the larger share")
    n_queries = len(traced[0]["context"]["queries"])
    w(f"per query (base {n_queries} queries per pass): jobs {med['sched.jobs'] / n_queries:.2f}, "
      f"schema jobs {med['sources.schema_jobs'] / n_queries:.2f}, "
      f"checkpoint jobs {med['operators.checkpoint_jobs'] / n_queries:.2f}")
    w(f"executor busy share (base {traced[0]['context']['cores']} cores x pass wall time): "
      f"{med['exec.busy_frac']:.1%}")
    if untraced:
        plain = statistics.median(r["metrics"]["suite_s"]["value"] for r in untraced)
        w(f"tracing overhead: traced suite_s {med['trace.suite_s']:.3f} s - untraced suite_s "
          f"{plain:.3f} s = {med['trace.suite_s'] - plain:+.3f} s "
          f"({len(traced)} traced, {len(untraced)} untraced runs)")
    else:
        w("tracing overhead: no untraced run of this workload to compare with")
    w()


def group_key(result):
    """Results are pooled only within one program, input and run length: the
    source digest (engine and harness), the workload, the testdata and
    --seconds."""
    c = result["context"]
    return c["source_digest"], c["workload"], c["data"], c["seconds"]


def main(paths):
    if not paths:
        here = os.path.dirname(os.path.abspath(__file__))
        paths = sorted(glob.glob(os.path.join(here, "out", "results", "*.json")))
    groups = defaultdict(lambda: ([], []))
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        groups[group_key(r)][0 if r["context"]["trace"] else 1].append(r)
    shown = 0
    for (digest, workload, data, seconds), (traced, untraced) in sorted(groups.items()):
        if traced:
            commits = sorted({r["context"]["commit"] or "unknown" for r in traced + untraced})
            print(f"## source digest {digest} (commit {', '.join(commits)}), data {data}, "
                  f"--seconds {seconds:g}")
            report(workload, traced, untraced)
            shown += 1
    if not shown:
        print("no traced results found", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
