#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload dbt_build|thrift_dbt|query_keys \\
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and
the harness from source with sbt (perfbench/build.sbt); later runs reuse
the build. Each run generates its seeded inputs into its own directory
under .bench_build/, runs the JVM harness (perfbench.Main) over them,
checks the outputs against DuckDB, deletes the directory and prints, as
its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a separate traced pass; the trace itself (spans, self
times, overhead) is written to .bench_build/perfbench/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

# Fixed sizes. `pass_s` is one pass's nominal length on a 4-core host:
# a run makes round(seconds / pass_s) passes (at least one), so the op
# list depends only on --seconds, never on how fast this run goes.
# `warm_setup`: set-up already runs every op once, so a traced run needs
# no separate warm-up pass.
WORKLOADS = {
    "dbt_build": {"cycles": 2, "pass_s": 20.0},
    "thrift_dbt": {"cycles": 2, "pass_s": 20.0, "conns": 2},
    "query_keys": {"cycles": 1, "pass_s": 20.0, "warm_setup": True},
}
QUERY_SF = 0.1
DBT_BATCH = {"customers0": 3000, "orders_per": 20000, "events_per": 20000}
THRIFT_BATCH = {"customers0": 2000, "orders_per": 5000, "events_per": 100}
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def read(path):
    with open(path) as f:
        return f.read()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build(root):
    """Compile graft and the harness with sbt once per checkout (again
    when a source is newer than the last build); return the classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    sources = [os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
               os.path.join(root, "src", "main"), os.path.join(root, "build.sbt")]
    if (os.path.exists(cp_file)
            and os.path.getmtime(cp_file) >= newest_mtime(sources)):
        return read(cp_file).strip()
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    # sbt's own scratch files stay in the checkout too
    tmp = os.path.join(root, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=(os.environ.get("SBT_OPTS") or " ".join(opts))
               + f" -Djava.io.tmpdir={tmp}")
    log("building graft and the harness with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "perfbenchClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.0f} s")
    return read(cp_file).strip()


def make_inputs(workload, seed, inputs):
    """Generate the run's seeded inputs; return the seconds it took."""
    t0 = time.time()
    cycles = WORKLOADS[workload]["cycles"]
    if workload == "query_keys":
        datagen.tables(os.path.join(inputs, "tables"), seed, QUERY_SF)
    elif workload == "dbt_build":
        datagen.batches(os.path.join(inputs, "dbt_batches"), seed, cycles,
                        **DBT_BATCH)
        shutil.copytree(os.path.join(HERE, "dbt_project"),
                        os.path.join(inputs, "dbt_project"))
    else:
        datagen.batches(os.path.join(inputs, "thrift_batches"), seed, cycles,
                        **THRIFT_BATCH)
    return time.time() - t0


def run_jvm(cp, args, run_dir, deadline):
    cmd = ["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        "-Xmx3g", "-Xms3g", "-Xmn512m",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        tail = read(os.path.join(run_dir, "jvm.log"))[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: harness JVM failed ({rc})")


def measure(root, cp, a):
    spec = WORKLOADS[a.workload]
    cpus = min(4, os.cpu_count() or 1)
    # a traced run: a warm-up pass (unless set-up warms), an untraced
    # reference pass, then the traced pass (overhead = traced - reference,
    # both warm)
    if a.trace:
        passes = 2 if spec.get("warm_setup") else 3
    else:
        passes = max(1, round(a.seconds / spec["pass_s"]))
    run_dir = os.path.join(root, ".bench_build", "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        inputs = os.path.join(run_dir, "inputs")
        inputs_s = make_inputs(a.workload, a.seed, inputs)
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--passes", str(passes), "--cycles", str(spec["cycles"]),
                     "--cpus", str(cpus), "--conns",
                     str(min(spec.get("conns", 1), cpus)),
                     "--trace", "1" if a.trace else "0",
                     "--run-dir", run_dir, "--inputs", inputs,
                     "--inject-fault", "1" if a.inject_faults else "0"],
                run_dir, a.started + JVM_TIMEOUT_S)
        log(f"harness done after {time.time() - a.started:.1f} s")
        run = oracle._load(os.path.join(run_dir, "out", "run.json"))
        if a.inject_faults:
            corrupt_one_result(run_dir, run)
        verdicts = oracle.check(run_dir, run)
        log(f"checked after {time.time() - a.started:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return run, verdicts, inputs_s


def failed_op_ids(run, verdicts):
    """Ops whose output failed its check (thrown ops are already
    recorded as failed by the harness)."""
    return {i for c, why in verdicts.items() if why
            for i in run["checks"].get(c, [])}


def corrupt_one_result(run_dir, run):
    """Fault injection for the self-test: drop the last row of the first
    checked output, so its check must fail."""
    base = os.path.join(run_dir, "out", "checks", sorted(run["checks"])[0])
    if os.path.exists(base + ".json"):
        rows = oracle._load(base + ".json")
        with open(base + ".json", "w") as f:
            json.dump(rows[:-1], f)
        return
    con = oracle.duckdb.connect()
    n = con.sql(f"SELECT count(*) FROM '{base}/*.parquet'").fetchone()[0]
    con.sql(f"COPY (SELECT * FROM '{base}/*.parquet' LIMIT {n - 1}) "
            f"TO '{base}.parquet' (FORMAT PARQUET)")
    shutil.rmtree(base)
    os.makedirs(base)
    os.rename(base + ".parquet", os.path.join(base, "part-0.parquet"))


def report(a, run, verdicts, inputs_s):
    bad_checks = {c: why for c, why in verdicts.items() if why}
    failed_ids = failed_op_ids(run, verdicts)
    e2e = metrics.end_to_end(run, failed_ids, inputs_s)
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "metrics": {n: {"value": e2e[n], "unit": u} for n, u in
                    metrics.END_TO_END + [("op_p90_ms", "ms"),
                                          ("failed_frac", "fraction")]},
        "live_heap_mb": e2e["live_heap_mb"],
        "ops": e2e["ops"], "passes": len(run["passes"]),
        "op_p50_ms_by_kind": metrics.p50_by_kind(run["ops"]),
        "oracle": {"checks": len(verdicts), "failed": bad_checks},
        "op_errors": sorted({o["error"] for o in run["ops"] if not o["ok"]})[:5],
        "provenance": run["provenance"],
    }
    if a.trace:
        layer, spans = metrics.per_layer(run)
        summary["self_ms"] = {k: v for k, v in layer.items()
                              if k.startswith("self.")}
        summary["trace_overhead_s"] = layer["trace.overhead_s"]
        out_dir = os.path.join(a.root, ".bench_build", "perfbench")
        os.makedirs(out_dir, exist_ok=True)
        trace_file = os.path.join(out_dir, f"trace-{a.workload}-{a.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"summary": summary, "per_layer": layer,
                       "spans": spans,
                       "spark": run.get("spark", {}), "ops": run["ops"]}, f)
        summary["trace_file"] = os.path.relpath(trace_file, a.root)
        values = {n: {"value": layer[n], "unit": u} for n, u in metrics.PER_LAYER}
    else:
        values = {n: {"value": e2e[n], "unit": u} for n, u in metrics.END_TO_END}
    print("perfbench summary: " + json.dumps(summary), flush=True)
    # correct only when every output matched its oracle and no op of
    # any pass threw
    correct = (not bad_checks and bool(verdicts)
               and all(o["ok"] for o in run["ops"]))
    print(json.dumps({"correct": correct,
                      "attempted": e2e["attempted"], "failed": e2e["failed"],
                      "metrics": values}), flush=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--inject-faults", action="store_true",
                   help="self-test: add one op that throws and corrupt one "
                        "checked result; both must count as failed")
    a = p.parse_args()
    a.started = time.time()
    a.root = os.path.dirname(HERE)
    cp = build(a.root)
    a.started = time.time()
    run, verdicts, inputs_s = measure(a.root, cp, a)
    report(a, run, verdicts, inputs_s)


if __name__ == "__main__":
    main()
