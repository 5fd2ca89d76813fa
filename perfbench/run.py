#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (each one closed-loop client in one JVM, Spark `local[nproc]`):

  pipeline_daily  the medallion job: a backfill `Job.run`, then daily runs
                  with a 7-day lookback, fed by a seeded synthetic YouTube
                  Data API and Analytics API
  query_roster    a session of bench queries of `SparkEntry.registry`, one
                  per query family, over the vendored sf0.01 tables: one
                  untimed pass, then timed passes (`--roster all` runs
                  all 32)
  lake_writes     bulk rows through the bronze log: appends, small commits,
                  deletion-vector and copy-on-write deletes, scan,
                  compaction and vacuum
  all             the three in turn, printing every workload's metrics

Builds the program from source on first use (see build.py), runs the
workload in a fresh lake root and a fresh `java.io.tmpdir` (both removed
afterwards), checks its outputs, prints the workload's own metrics with
their units, and as the last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the workload runs once more under span tracing and the metrics are the
per-layer ones that BENCHMARK.json declares (the workload's other layer
metrics print above the JSON line; spans are kept in
`.bench_build/traces/`). Exits non-zero on any correctness miss.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402

WORKLOADS = ("pipeline_daily", "query_roster", "lake_writes")
ROSTER_DATA = os.path.join(HERE, "data", "sf0.01")
HEAP = "3g"
# one JVM run may take at most this long, as a run is allowed 180 s in all.
# On 4 cores the untraced runs take 50-75 s, so one up to 2.3x slower is
# still measured; the traced pipeline_daily takes about 100 s.
RUN_LIMIT_S = 170


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def declared_metrics(trace):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def cpus():
    return len(os.sched_getaffinity(0))


def run_workload(workload, seed, seconds, trace, roster, classes, deadline):
    """One JVM run; returns (result dict, list of failures)."""
    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work, tmp = os.path.join(run_dir, "work"), os.path.join(run_dir, "tmp")
    os.makedirs(work)
    os.makedirs(tmp)
    result_file = os.path.join(run_dir, "result.json")
    spans_file = os.path.join(run_dir, "spans.jsonl")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           f"-Dderby.system.home={run_dir}",
           "-cp", os.pathsep.join([os.path.join(build.spark_jars(), "*"), classes]),
           "perfbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--work", work, "--data", ROSTER_DATA,
           "--result", result_file, "--spans", spans_file, "--roster", roster]
    failures = []
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=max(1, deadline - time.time()))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        with open(log_path) as fh:
            log_text = fh.read()
        for line in log_text.splitlines():
            if line.startswith("[perfbench]"):
                print(f"[{workload}] {line[12:]}", file=sys.stderr)
        if code != 0 or not os.path.exists(result_file):
            sys.stderr.write(log_text[-6000:])
            failures.append(f"{workload}: JVM " +
                            ("timed out" if code is None else f"exited with code {code}"))
            return None, failures
        with open(result_file) as fh:
            result = json.load(fh)
        failures += result["errors"]
        checks = result.get("oracle_checks", {})
        if checks:
            import oracle
            failures += oracle.compare(ROSTER_DATA, {n: c["dir"] for n, c in checks.items()},
                                       {n: c["sql"] for n, c in checks.items()})
        if trace and os.path.exists(spans_file):
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans_file, os.path.join(traces, f"{workload}-seed{seed}.spans.jsonl"))
        return result, failures
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def summary(workload, result, failures, attempted, undeclared):
    """Human-readable lines: the workload's own metrics with units, and
    the layer metrics BENCHMARK.json does not declare."""
    lines = [f"[{workload}] conditions: " +
             ", ".join(f"{k}={v}" for k, v in result["conditions"].items())]
    for name, m in result["named"].items():
        lines.append(f"[{workload}] {name} = {m['value']:.6g} {m['unit']}")
    lines.append(f"[{workload}] setup_s = {result['end_to_end'].get('setup_s', float('nan')):.6g} s")
    for name in undeclared:
        lines.append(f"[{workload}] {name} = {result['per_layer'][name]:.6g}")
    lines.append(f"[{workload}] op_error_rate = {len(failures) / max(1, attempted):.6g} ratio "
                 f"({len(failures)} of {attempted} operations)")
    return lines


def main():
    # a terminated benchmark still stops its JVM and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--roster", choices=("session", "all"), default="session",
                    help="query_roster: the one-query-per-family session, or all 32 bench queries")
    args = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if not os.path.isdir(ROSTER_DATA):
        print(f"perfbench: roster data missing at {ROSTER_DATA}", file=sys.stderr)
        return 2

    declared = declared_metrics(bool(args.trace))
    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    attempted, failures, metrics = 0, [], {}
    for w in workloads:
        deadline = time.time() + RUN_LIMIT_S
        result, fails = run_workload(w, args.seed, args.seconds, bool(args.trace), args.roster,
                                     classes, deadline)
        failures += fails
        if result is None:
            continue
        n = result["attempted"] + len(result.get("oracle_checks", {}))
        attempted += n
        if args.trace:
            # a layer this workload does not run reads 0; the layer metrics
            # it measures beyond the declared ones are printed, not reported
            known = set(result["layer_names"])
            values = {name: result["per_layer"].get(name, 0.0) for name in declared}
            undeclared = sorted(set(result["per_layer"]) - set(declared))
            for line in summary(w, result, fails, n, undeclared):
                print(line)
        else:
            known = values = result["end_to_end"]
            for line in summary(w, result, fails, n, []):
                print(line)
        if set(declared) - set(known) or (set(values) - set(declared)):
            failures.append(f"{w}: measured metrics differ from BENCHMARK.json: "
                            f"missing {sorted(set(declared) - set(known))}, "
                            f"undeclared {sorted(set(values) - set(declared))}")
        prefix = f"{w}." if args.workload == "all" else ""
        for name, unit in declared.items():
            if name in values:
                metrics[prefix + name] = {"value": values[name], "unit": unit}
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": len(failures), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
