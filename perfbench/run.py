#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one JSON line.

Builds the engine and the harness (perfbench/build.sh), derives the query
catalog (perfbench/catalog.py), runs one JVM with one closed-loop client at
SPARK_GRAFT_CPUS = the usable core count (perfbench/scala/Runner.scala),
then checks every query's result against its DuckDB oracle with the row
comparison of tools/check_oracle.py. Inputs are the sf0.1 tables under
perfbench/data/sf0.1; the seed fixes the order of the queries in each pass.
Everything the run writes goes under .bench_build/ and .bench_run/.

Usage:
  python3 perfbench/run.py --workload mix.trading --seed 1 --seconds 16 --trace 0

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}; --trace 0 gives the end-to-end metrics, --trace 1 the
per-layer ones and writes the span file .bench_run/out/spans.jsonl.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data" / "sf0.1"
BUILD = ROOT / ".bench_build"
STATE = ROOT / ".bench_run"
OUT = STATE / "out"
# JVM time limit of a gated workload (BENCHMARK.json), and of a by-hand
# run of a cell or family: the whole corpus family takes about 6 minutes
GATED_TIMEOUT_S = 165
BY_HAND_TIMEOUT_S = 1500
HEAP = "4g"
CONFIRM_SEED_OFFSET = 1000  # the second seed named for confirming claims

def unit(metric):
    """Unit of a metric, from its name."""
    for suffix, u in (("_s", "s"), ("_mb", "MB"), ("_bytes", "bytes"),
                      ("task_skew", "ratio")):
        if metric.endswith(suffix):
            return u
    return "count"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java():
    """The JVM command up to the Runner's arguments: build.sbt's forked-run
    flags, scratch dirs inside the checkout, the harness on the classpath."""
    spark_jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    opens = [f"java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang java.lang.invoke java.lang.reflect java.io java.net "
        "java.nio java.util java.util.concurrent java.util.concurrent.atomic "
        "sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar").split()]
    tmp = STATE / "tmp"
    return ["java", *[a for p in opens for a in ("--add-opens", p)],
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:+UnlockDiagnosticVMOptions",
            "-XX:GCLockerRetryAllocationCount=100",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", f"{BUILD / 'classes'}:{spark_jars}/*",
            "graft.perfbench.Runner"]


def build():
    if run(["bash", str(BENCH / "build.sh")], ROOT, None, 840) != 0:
        fail("build failed")


def run(cmd, cwd, env, timeout):
    """Run a child to completion with its stdout sent to our stderr; kill
    it (and wait for it) if it overruns."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr,
                            stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{cmd[0]} overran {timeout} s")
    except BaseException:
        proc.kill()
        proc.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in (ROOT / "src/main/scala/graft", ROOT / "tools/check_oracle.py",
                 ROOT / "tools/gen_catalog.py", ROOT / "BENCHMARK.json",
                 DATA):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} is missing; run from a full "
                 "checkout of the repository")

    build()
    import catalog  # noqa: E402
    import oracle  # noqa: E402
    shutil.rmtree(STATE, ignore_errors=True)
    (STATE / "tmp").mkdir(parents=True)
    (STATE / "work").mkdir()
    modules_file = STATE / "modules.tsv"
    modules_file.write_text(catalog.lines())

    gated = {w["name"] for w in json.loads(
        (ROOT / "BENCHMARK.json").read_text())["workloads"]}
    timeout = GATED_TIMEOUT_S if args.workload in gated else BY_HAND_TIMEOUT_S
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_GRAFT_SF_DIR=str(DATA))
    cmd = java() + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", str(DATA), "--out", str(OUT),
        "--modules", str(modules_file),
        "--launch-ms", str(int(time.time() * 1000))]
    if run(cmd, STATE / "work", env, timeout) != 0:
        fail("benchmark JVM failed")
    res = json.loads((OUT / "result.json").read_text())
    verdict = oracle.check(DATA, OUT / "results", json.loads(
        (OUT / "results" / "oracle_sql.json").read_text()))
    mismatched = sorted(q for q, v in verdict.items() if v)
    # a query whose check-pass execution (pass -1) threw has no result: it
    # is already counted among the errors
    errors = res["errors"]
    threw_check = {e["query"] for e in errors if e["pass"] == -1}
    failed = len(errors) + len([q for q in mismatched if q not in threw_check])

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = res[kind]
    declared = [m["name"] for m in json.loads(
        (ROOT / "BENCHMARK.json").read_text())[kind]]
    missing = [m for m in declared if m not in metrics]
    if missing:
        fail(f"declared metrics not measured: {missing}")
    n = res["passes"]
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"(confirm with seed {args.seed + CONFIRM_SEED_OFFSET}) "
          f"queries={res['queries']} cores={env['SPARK_GRAFT_CPUS']} "
          f"catalog={res['catalog']}")
    print("phase wall times (s): " + ", ".join(
        f"{k} {v:.1f}" for k, v in res["phase_s"].items()))
    print(f"warm_passes={res['warm_passes']} passes={n} "
          f"pass_times_s={res['pass_times_s']} (pass_s is the median of the "
          f"untraced ones; max {res['pass_max_s']:.3f} s)")
    if res["batch_p50_s"] is not None:
        print(f"batch_p50_s {res['batch_p50_s']:.4f} s")
    if args.trace:
        oh = res["trace_overhead"]
        print("tracing overhead on pass_s: " + (
            f"{100 * oh:+.1f}% ({res['traced_passes']} traced vs "
            f"{n - res['traced_passes']} untraced passes)"
            if oh is not None else "n/a"))
        import report  # noqa: E402
        report.print_self_times(OUT / "spans.jsonl")
    print(f"error_rate {failed / max(res['attempted'], 1):.4f} "
          f"({failed} of {res['attempted']} executions)")
    for e in errors:
        print(f"  threw: {e['query']} (pass {e['pass']}): {e['error']}")
    for q in mismatched:
        print(f"  output check: {q}: {verdict[q]}")
    for k, v in metrics.items():
        if v or k in declared:
            print(f"{k} {v} {unit(k)}")
    print(json.dumps({
        "correct": failed == 0, "attempted": res["attempted"],
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": unit(k)}
                    for k in declared}}))


if __name__ == "__main__":
    main()
