#!/usr/bin/env python3
"""graft benchmark: run one workload once and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: metlink_feed, graph_fixpoint, corpus_curation (see
perfbench/README.md). The first run in a checkout builds the library
and the harness with sbt and generates the test tables; later runs
reuse both until a source file changes.

With --trace 0 the run reports the end-to-end metrics listed in
BENCHMARK.json; with --trace 1 it reports the per-layer metrics and
writes the span tree to perfbench/target/bench/runs/<workload>-trace1/.
The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import hashlib
import json
import math
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
WORK = BENCH / "target" / "bench"
WORKLOADS = ("metlink_feed", "graph_fixpoint", "corpus_curation")
QUERY_WORKLOADS = ("graph_fixpoint", "corpus_curation")
# The query tables: tools/regen_testdata.py at a fixed seed, so every
# run and every commit reads the same rows.
DATA_SEED = 42
DATA_SF = "0.1"
# local[N] and N shuffle partitions, N at most 4 so that runs on
# bigger machines stay comparable with runs on a 4-core box.
CORES = max(1, min(4, len(os.sched_getaffinity(0))))
# Together these keep a first run (build, tables, run, compare) under
# 15 minutes and every later run under 3.
BUILD_TIMEOUT_S = 600
DATA_TIMEOUT_S = 120
JVM_TIMEOUT_S = 150
CHECK_TIMEOUT_S = 20


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256(str(ROOT).encode())
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def files_under(*dirs):
    return [p for d in dirs for p in d.rglob("*") if p.is_file()]


def run_logged(cmd, cwd, log, timeout, env=None):
    """Run cmd with output to log; kill its process group on timeout."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out,
                                stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def tail(log, n=30):
    return "\n".join(pathlib.Path(log).read_text(errors="replace")
                     .splitlines()[-n:])


def build():
    """Compile the library and the harness; returns the java arguments."""
    sources = files_under(ROOT / "src" / "main", BENCH / "src") + [
        ROOT / "build.sbt", ROOT / "project" / "build.properties",
        BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    stamp = WORK / "build.stamp"
    launch = BENCH / "target" / "launch.txt"
    want = digest(sources)
    if not (stamp.exists() and stamp.read_text() == want and launch.exists()):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        log = WORK / "build.log"
        rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "launchFile"], BENCH, log, BUILD_TIMEOUT_S, env)
        if rc != 0 or not launch.exists():
            die(f"build failed (exit {rc}):\n{tail(log)}")
        stamp.write_text(want)
    return launch.read_text().splitlines()


def data():
    """Generate the query tables once per checkout."""
    gen = ROOT / "tools" / "regen_testdata.py"
    out = WORK / "data" / f"sf{DATA_SF}"
    marker = out / ".complete"
    want = digest([gen]) + f" seed={DATA_SEED} sf={DATA_SF}"
    if not (marker.exists() and marker.read_text() == want):
        shutil.rmtree(out, ignore_errors=True)
        log = WORK / "data.log"
        rc = run_logged([sys.executable, str(gen), "--seed", str(DATA_SEED),
                         "--sf", DATA_SF, "--out", str(out)],
                        ROOT, log, DATA_TIMEOUT_S)
        if rc != 0:
            die(f"test data generation failed (exit {rc}):\n{tail(log)}")
        marker.write_text(want)
    return out


def oracle_check(data_dir, dump_dir):
    """tools/check.py on the set-up pass's dump: failing query names."""
    oracle = json.loads((dump_dir / "oracle_sql.json").read_text())
    log = dump_dir.parent / "check.log"
    rc = run_logged([sys.executable, str(ROOT / "tools" / "check.py"),
                     str(data_dir), str(dump_dir)], ROOT, log, CHECK_TIMEOUT_S)
    if rc is None:
        die(f"tools/check.py timed out after {CHECK_TIMEOUT_S} s")
    lines = log.read_text().splitlines()
    passed = {l.split()[1] for l in lines if l.startswith("PASS ")}
    failed = {l.split()[1].rstrip(":") for l in lines if l.startswith("FAIL ")}
    # Every oracle must have been compared; anything else is a failure.
    failed |= set(oracle) - passed
    return failed, len(oracle), [l for l in lines if l.startswith("FAIL ")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        die("run from the repository root (BENCHMARK.json not found)")
    for need in ("build.sbt", "src/main/scala", "tools/check.py",
                 "tools/regen_testdata.py"):
        if not (ROOT / need).exists():
            die(f"{need} is missing: the benchmark builds the repository "
                "from source and must run from its root")
    spec = json.loads(spec_file.read_text())
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    WORK.mkdir(parents=True, exist_ok=True)
    java_args = build()
    data_dir = data()

    run_dir = WORK / "runs" / f"{a.workload}-trace{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"))
    java = str(pathlib.Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    spawn_ms = time.time() * 1000
    rc = run_logged(
        [java, f"-Djava.io.tmpdir={run_dir / 'tmp'}", *java_args,
         "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--trace", str(a.trace),
         "--cores", str(CORES), "--data", str(data_dir),
         "--work", str(run_dir), "--spawn-ms", repr(spawn_ms)],
        ROOT, run_dir / "jvm.log", JVM_TIMEOUT_S, env)
    result_file = run_dir / "result.json"
    if rc != 0 or not result_file.exists():
        die(f"benchmark JVM failed (exit {rc}):\n{tail(run_dir / 'jvm.log')}")
    res = json.loads(result_file.read_text())

    failures = res["failures"]
    failed = len(failures)
    if a.workload in QUERY_WORKLOADS:
        # A query red in the compare, or one that threw while dumping,
        # is one failed operation of the set-up pass.
        dump_failed = {f.split(":")[0][len("dump "):] for f in failures
                       if f.startswith("dump ")}
        red, n_oracle, fail_lines = oracle_check(data_dir, run_dir / "dump")
        failed += len(red - dump_failed)
        failures = failures + fail_lines
        print(f"oracle: {n_oracle - len(red)}/{n_oracle} queries match "
              "DuckDB (tools/check.py)")
    attempted = res["attempted"]

    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None or not math.isfinite(v):
            die(f"metric {m['name']} missing or not finite: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    print(f"workload {a.workload}, seed {a.seed}, local[{res['cores']}], "
          f"{res['passes']} passes x {res['ops_per_pass']} ops, "
          f"{res['samples']} timed ops, trace {a.trace}")
    print(f"error_rate {failed / attempted:.6g} = {failed} failed / "
          f"{attempted} attempted")
    for f in failures[:10]:
        print(f"  failure: {f}")
    for k, v in metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    if a.trace == 0:
        # Too few samples per run for a gated tail percentile.
        print(f"  invocation_p95_ms = {res['metrics']['invocation_p95_ms']:.6g}"
              f" ms (not gated; {res['samples']} samples)")
        print(f"host CPU steal: {res['steal_share_setup']:.1%} of busy time "
              f"in set-up, {res['steal_share_run']:.1%} in the timed passes; "
              "times above are net of it. Raw: " +
              ", ".join(f"{k} {v:.6g}" for k, v in res["raw_metrics"].items()))

    last_untraced = WORK / f"last_untraced_{a.workload}.json"
    if a.trace == 0:
        last_untraced.write_text(json.dumps(res["metrics"]))
    else:
        print(f"spans: {run_dir / 'spans.json'}")
        if last_untraced.exists():
            base = json.loads(last_untraced.read_text())
            over = {k: res["metrics"][f"traced.{k}"] - v
                    for k, v in base.items() if f"traced.{k}" in res["metrics"]}
            (run_dir / "overhead.json").write_text(json.dumps(over, indent=1))
            print("tracing overhead (traced minus last untraced run): " +
                  ", ".join(f"{k} {v:+.4g}" for k, v in over.items()))

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
