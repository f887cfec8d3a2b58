#!/usr/bin/env python3
"""Benchmark of the graft engine: one closed-loop client, registered queries.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload executor --seed 1 --seconds 24 --trace 0

One JVM runs the workload's queries back to back on `local[<cores>]`, with
`spark.sql.shuffle.partitions` = cores (the setting graft.Bench uses), over
the fixed sf0.1 testdata (SPARK_GRAFT_SF_DIR, default ~/testdata/sf0.1). It
runs one untimed warm-up pass, which writes every result for the check
against each query's DuckDB oracle SQL (with tools/check.py's rules), then
one timed pass per 6 s of --seconds (at least one); the JIT is still
warming in the first of them, and the median pass is reported. The seed
sets the query order of every pass.

--trace 0 prints the end-to-end metrics; --trace 1 records spans (see
perfbench/spans.py) and prints the per-layer metrics instead. The last
stdout line is one JSON object: correct, attempted, failed, metrics.

Every run leaves a self-describing result (and, traced, its span file) under
perfbench/out/results/, named by workload, seed, trace flag, time and pid, so
runs never overwrite each other. Everything the queries write (warehouse,
metastore, derby.log, temporary files, shuffle files) goes to a per-run
directory under perfbench/out/scratch/, deleted when the run ends.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans as spanlib  # noqa: E402
from workloads import GATED, WORKLOADS, orders  # noqa: E402

END_TO_END = [("suite_s", "s"), ("query_p50_s", "s"), ("query_tail_s", "s"),
              ("setup_s", "s"), ("peak_managed_mb", "MB"), ("nonheap_rss_mb", "MB")]
# Printed and recorded, not gated: VmHWM is the fixed heap plus nonheap_rss_mb,
# and failed_frac is the result line's failed / attempted (0 on a sound run).
PRINTED_ONLY = [("peak_rss_mb", "MB"), ("failed_frac", "frac")]
CORES = len(os.sched_getaffinity(0))
# Fixed and touched at start (-Xms = -Xmx, AlwaysPreTouch): VmHWM then moves
# with memory outside the heap (nonheap_rss_mb = VmHWM - heap), not with the
# heap's growth policy, under which identical runs varied by half. The
# program's use of the heap is peak_managed_mb.
HEAP = "3g"
GATED_LIMIT_S = 170  # a gated run must end within 180 s once built
FAMILY_LIMIT_S = 900  # a whole family runs for several minutes
# --seconds sets the number of timed passes at this nominal pass length (the
# gated mixes take about 6 s per pass on a 4-core host). A fixed count, not a
# deadline, keeps the work measured the same on a slow and a fast run: passes
# still speed up as the JIT warms, so a deadline would give a slow run fewer,
# colder passes and widen the spread.
NOMINAL_PASS_S = 6
JVM_OPTS = [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    # listener events of a traced pass must never be dropped
    "-Dspark.scheduler.listenerbus.eventqueue.capacity=200000",
] + [arg for pkg in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help=f"measured time: one timed pass per {NOMINAL_PASS_S} s, at least one")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                     os.path.expanduser("~/testdata/sf0.1")))
    return ap.parse_args(argv)


def source_digest(root):
    """Digest of everything the build reads: the engine and the harness."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main", "perfbench/harness"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else []
        for d, subdirs, fs in os.walk(path):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project")
                                or (s == "project" and d == path))
            files += [os.path.join(d, f) for f in sorted(fs)]
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root, out, digest):
    """Compiles engine and harness with sbt (once per source digest) and returns
    the runtime classpath.

    sbt compiles into the shared target/ directories, which any later compile
    (a test run, a build at another digest) overwrites. The class directories
    of a build are therefore copied to build/<digest>/, and the cached
    classpath points at those copies, so a digest always runs its own code."""
    cp_file = os.path.join(out, "build", f"classpath-{digest}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(out, "build", f"sbt-{digest}.log")
    print(f"perfbench: building (log: {os.path.relpath(log_path, root)})", file=sys.stderr)
    with open(log_path, "w") as log:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench", "harness"), env=env, stdout=log,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
    with open(log_path) as f:
        lines = f.read().splitlines()
    cp = next((l.strip() for l in reversed(lines)
               if "scala-2.13/classes" in l and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail(f"build failed (sbt exit {rc})")

    # Jars (the dependency cache) never change in place; class directories do.
    snapshot = os.path.join(out, "build", digest)
    staging = f"{snapshot}.tmp-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    entries = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            copy = os.path.join(staging, str(i))
            shutil.copytree(entry, copy)
            entry = os.path.join(snapshot, str(i))
        entries.append(entry)
    shutil.rmtree(snapshot, ignore_errors=True)
    os.replace(staging, snapshot)
    cp = os.pathsep.join(entries)
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    return cp


def commit_of(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, plan_path, scratch, deadline):
    """Runs the harness JVM; returns its exit code (None on timeout)."""
    log_path = os.path.join(scratch, "jvm.log")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={scratch}/tmp",
           f"-Dspark.local.dir={scratch}/local",
           f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
           f"-Dderby.system.home={scratch}",
           f"-Dderby.stream.error.file={scratch}/derby.log",
           *JVM_OPTS, "-cp", cp, "graftbench.Harness", plan_path, scratch]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=scratch, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def latency_stats(execs):
    """(p50, tail, how they were taken) of the timed executions' latencies.

    p50 is the median of the latencies pooled over queries and passes; the
    tail is the highest percentile of that pool with at least ten samples
    beyond it. Under 20 samples that percentile falls below the median and a
    pooled median jumps between the few queries, so each query is first
    summarized by its median over the passes: p50 is then the median of those
    and the tail the largest of them (the slowest query)."""
    lat = sorted(e["latency_s"] for e in execs)
    n = len(lat)
    if n >= 20:
        pct = 100.0 * (n - 10) / n
        return (statistics.median(lat), lat[n - 11],
                f"pooled over {n} per-query latencies; tail is p{pct:.1f}")
    by_query = {}
    for e in execs:
        by_query.setdefault(e["name"], []).append(e["latency_s"])
    medians = {name: statistics.median(v) for name, v in by_query.items()}
    slowest = max(medians, key=medians.get)
    return (statistics.median(medians.values()), medians[slowest],
            f"per-query medians of {n} latencies (fewer than 20); tail is {slowest}")


def main(argv):
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft missing)")
    data = os.path.abspath(args.data)
    if not os.path.isfile(os.path.join(data, "lineitem.parquet")):
        fail(f"no testdata at {data} (set SPARK_GRAFT_SF_DIR or --data)")

    out = os.path.join(root, "perfbench", "out")
    digest = source_digest(root)
    cp = build(root, out, digest)
    built = time.monotonic()

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    results_dir = os.path.join(out, "results")
    scratch = os.path.join(out, "scratch", run_id)
    os.makedirs(results_dir, exist_ok=True)
    for d in ("tmp", "local", "warehouse", "check"):
        os.makedirs(os.path.join(scratch, d))
    try:
        return measure(args, root, data, cp, digest, run_id, results_dir, scratch, built)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def measure(args, root, data, cp, digest, run_id, results_dir, scratch, built):
    queries = WORKLOADS[args.workload]
    n_passes = max(1, round(args.seconds / NOMINAL_PASS_S))
    warmup, *passes = orders(args.workload, args.seed, 1 + n_passes)
    plan_path = os.path.join(scratch, "plan.txt")
    with open(plan_path, "w") as f:
        f.write(f"data={data}\ncores={CORES}\ntrace={args.trace}\ncheck={scratch}/check\n")
        f.write(f"warmup={','.join(warmup)}\n")
        f.writelines(f"pass={','.join(p)}\n" for p in passes)

    # The limit counts from the end of the build; the JVM leaves 60 s of it
    # for the output check, which computes DuckDB's references on a
    # checkout's first run (42 s for the executor mix) and reads them from
    # cache after.
    limit = GATED_LIMIT_S if args.workload in GATED else FAMILY_LIMIT_S
    deadline = built + limit - 60
    rc = run_jvm(cp, plan_path, scratch, deadline)
    if rc != 0:
        with open(os.path.join(scratch, "jvm.log"), errors="replace") as f:
            print("".join(f.readlines()[-40:]), file=sys.stderr)
        fail("harness JVM timed out" if rc is None else f"harness JVM exited with {rc}", 3)
    with open(os.path.join(scratch, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(scratch, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)

    import oracle  # noqa: E402 - pandas/duckdb load only once the JVM is done
    ok_warm = [e["name"] for e in res["warmup"] if e["error"] is None]
    check_start = time.monotonic()
    refs = oracle.Oracle(root, data, os.path.join(os.path.dirname(results_dir), "oracle"), CORES)
    try:
        verdicts = refs.check_all(os.path.join(scratch, "check"), ok_warm, oracle_sql)
    finally:
        refs.close()
    check_s = time.monotonic() - check_start
    # The warm-up pass is numbered -1, timed passes 1, 2, ...
    failures = {f'pass {e["pass"]} {e["name"]}': e["error"]
                for e in res["warmup"] + res["execs"] if e["error"]}
    failures.update({f"check {n}": v for n, v in verdicts.items() if v})
    attempted = len(res["warmup"]) + len(res["execs"])
    failed = len(failures)

    pass_s = [(p["end_ms"] - p["start_ms"]) / 1000 for p in res["passes"]]
    ok = [dict(e, latency_s=(e["end_ms"] - e["start_ms"]) / 1000)
          for e in res["execs"] if e["error"] is None]
    p50, tail, latency_what = (latency_stats(ok) if ok
                               else (float("nan"), float("nan"), "no successful execution"))
    e2e = {
        "suite_s": statistics.median(pass_s),
        "query_p50_s": p50,
        "query_tail_s": tail,
        "setup_s": (res["setup_end_ms"] - res["session_start_ms"]) / 1000,
        "peak_managed_mb": statistics.median(p["peak_managed_mb"] for p in res["passes"]),
        "nonheap_rss_mb": res["peak_rss_kb"] / 1024 - res["committed_heap_mb"],
        "peak_rss_mb": res["peak_rss_kb"] / 1024,
        "failed_frac": failed / attempted,
    }
    layer = None
    spans_file = None
    if args.trace:
        span_list = spanlib.load(os.path.join(scratch, "spans.jsonl"))
        layer = spanlib.medians(spanlib.layer_metrics(span_list, res["execs"], CORES))
        spans_file = f"{run_id}.spans.jsonl"
        shutil.move(os.path.join(scratch, "spans.jsonl"), os.path.join(results_dir, spans_file))

    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "queries": queries, "cores": CORES,
        "shuffle_partitions": CORES, "heap_cap": HEAP,
        "max_heap_mb": res["max_heap_mb"], "spark_version": res["spark_version"],
        "java_version": res["java_version"], "commit": commit_of(root),
        "source_digest": digest, "data": data, "run_id": run_id,
        "passes": len(pass_s), "latency_stats": latency_what, "check_s": check_s,
    }
    shown = ([m for m in spanlib.LAYER_METRICS if m[0] not in spanlib.NOT_GATED]
             if args.trace else END_TO_END)
    values = layer if args.trace else e2e
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in shown}
    record = {
        "context": context, "correct": failed == 0, "attempted": attempted, "failed": failed,
        "failures": failures, "end_to_end": e2e, "passes": res["passes"],
        "layer": layer, "metrics": metrics, "pass_s": pass_s, "spans_file": spans_file,
        "execs": res["execs"], "warmup": res["warmup"],
        "session_start_s": (res["session_end_ms"] - res["session_start_ms"]) / 1000,
    }
    with open(os.path.join(results_dir, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: {len(pass_s)} timed "
          f"pass(es) of {len(queries)} queries, local[{CORES}], -Xmx{HEAP}, "
          f"Spark {res['spark_version']}, JDK {res['java_version']}")
    for name, unit in END_TO_END + PRINTED_ONLY:
        print(f"  {name:15} {e2e[name]:12.4f} {unit}")
    print(f"  failed: {failed} of {attempted} query executions")
    print(f"  query_p50_s and query_tail_s: {latency_what}")
    for name, why in sorted(failures.items()):
        print(f"  FAILED {name}: {why}")
    if args.trace:
        spanlib.report(args.workload, [record], [])
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
