#!/usr/bin/env python3
"""Benchmark of the engine: python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>, from the root of a checkout.

It builds the engine and the harness (perfbench/harness) once per checkout,
writes the workload's inputs from the seed, runs the harness in one JVM,
checks every output against DuckDB (perfbench/oracle.py), and prints the
result as one JSON object on the last line of standard output: with
--trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics. Everything it writes stays under .bench_build/ (the
build) and .bench_out/ (inputs, outputs, traces). See perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
# Spark's task slots. Most of a pass is driver-side work (building and
# planning DataFrames, starting jobs) and the JIT compiler and collector
# run beside it, so two slots keep the JVM's demand below the machine's
# cores; the untimed warm-up runs ops side by side on up to four threads.
CORES = min(2, os.cpu_count() or 1)
WARM_THREADS = min(4, os.cpu_count() or 1)
HEAP = "3g"
RUN_LIMIT_S = 170

# One of the heavy family's verify joins (candidate pairs, then a verify
# kernel): run beside the registry sample, left out of the sample's draw,
# and the op whose row counts give exec.verify_yield. d20's verify filter
# sits above its join, so its yield reads below 1.
HEAVY = ["d20_edit_distance"]
ETL_OPS = ["collector", "transform", "marts_summary", "marts_athena", "corpus_prep",
           "maintenance"]
# The reference collector's per-run fetch: 10 tickers x one month of
# trading days (period "1mo", b3_collector.py:128-139,143, as BASELINE.md
# and SURVEY.md record it). One ticker's fetch fails, and the orders come
# in 12 files, as in the engine's own collector and maintenance tests
# (src/test/scala/graft/JobsSpec.scala).
TICKERS, FETCH_DAYS, FAILING_TICKERS, ORDER_FILES = 10, 21, 1, 12

# Timed passes a run makes at the least: each op's time is its fastest
# over these passes, so a slow spell of the machine or a late JIT compile
# in one pass does not decide it.
MIN_PASSES = 2

# name -> (harness workload, fixture scale factor)
WORKLOADS = {
    "registry_sf0.01": ("registry", 0.01),
    "etl_sf0.0005": ("etl", 0.0005),
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """The files whose change calls for a rebuild."""
    harness = os.path.join(HERE, "harness")
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(harness, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(harness, "project")):
        files += [os.path.join(d, n) for n in os.listdir(d) if n.endswith((".sbt", ".properties"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(harness, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def ensure_build():
    """Compile the engine and the harness unless this checkout already has
    a build of the same sources; return (classpath, JVM options, built)."""
    launch = os.path.join(BUILD, "launch.txt")
    stamp = os.path.join(BUILD, "sources.sha256")
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    built = not (os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest)
    if built:
        os.makedirs(BUILD, exist_ok=True)
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                    "-Dsbt.offline=true"]
        env = dict(os.environ, PERFBENCH_LAUNCH=launch)
        env.setdefault("COURSIER_MODE", "offline")
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            r = subprocess.run(cmd + ["writeLaunch"], cwd=os.path.join(HERE, "harness"),
                               env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=850)
        if r.returncode != 0 or not os.path.exists(launch):
            fail(f"build failed, see {os.path.join(BUILD, 'build.log')}")
        with open(stamp, "w") as fh:
            fh.write(digest)
    lines = open(launch).read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith(("-Xmx", "-Xms"))], built


def prepare(kind, sf, seed, fixture_dir):
    """Write the workload's inputs from the seed; return its ops in order."""
    fixture.make_fixture(fixture_dir, sf, seed)
    if kind == "registry":
        d = os.path.join(ROOT, "src", "main", "scala", "graft", "registry")
        sources = {n[:-len(".scala")]: open(os.path.join(d, n)).read()
                   for n in sorted(os.listdir(d)) if n.startswith("Registry") and n.endswith(".scala")}
        return metrics.registry_ops(metrics.registry_strata(sources), HEAVY, seed)
    stage_etl(fixture_dir, seed)
    # the warm-up pass's inputs: the same fetch and file layout, a tenth of
    # the fixture's rows, so the warm-up costs less than a timed pass
    warm = os.path.join(fixture_dir, "warmup")
    fixture.make_fixture(warm, sf / 10, seed, min_corpus=50)
    stage_etl(warm, seed)
    return ETL_OPS


def stage_etl(fixture_dir, seed):
    fixture.stage_raw_events(fixture_dir)
    fixture.split_orders(fixture_dir, ORDER_FILES)
    names = fixture.tickers(TICKERS)
    fixture.fetch_rows(os.path.join(fixture_dir, "fetch.tsv"), seed, names, FETCH_DAYS)
    with open(os.path.join(fixture_dir, "fetch_tickers.txt"), "w") as f:
        f.write("\n".join(names) + "\n")
    with open(os.path.join(fixture_dir, "fetch_failing.txt"), "w") as f:
        f.write("\n".join(fixture.failing_tickers(seed, names, FAILING_TICKERS)) + "\n")


def run_harness(launch, kind, ops, args, work, fixture_dir, deadline):
    classpath, jvm_opts = launch
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Harness", "--workload", kind, "--fixture", fixture_dir,
            "--work", work, "--ops", ",".join(ops), "--seconds", str(args.seconds),
            "--min-passes", str(MIN_PASSES),
            "--trace", str(args.trace), "--cores", str(CORES),
            "--warm-threads", str(WARM_THREADS)])
    with open(os.path.join(work, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness ran past {RUN_LIMIT_S} s, see {log.name}", 1)
    if code != 0:
        fail(f"harness exited with {code}, see {os.path.join(work, 'harness.log')}", 1)
    with open(os.path.join(work, "harness.out")) as f:
        return metrics.parse_records(f)


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; known: {', '.join(WORKLOADS)}")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no engine sources beside perfbench/ (src/main/scala/graft)")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    classpath, jvm_opts, built = ensure_build()
    # a run that builds gets its full time limit after the build
    deadline = (time.time() if built else start) + RUN_LIMIT_S

    kind, sf = WORKLOADS[args.workload]
    work = os.path.join(OUT, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    fixture_dir = os.path.join(work, "fixture")
    os.makedirs(fixture_dir)
    t0 = time.time()
    ops = prepare(kind, sf, args.seed, fixture_dir)
    print(f"inputs written in {time.time() - t0:.2f} s")
    records = run_harness((classpath, jvm_opts), kind, ops, args, work, fixture_dir, deadline)
    print(f"harness done at {time.time() - t0:.2f} s")

    failed_ops = {(int(p), op) for p, op, _, ok in records["op"] if ok != "1"}
    for p, op, msg in records.get("fail", []):
        print(f"failed: pass {p} {op}: {msg}")
    if kind == "etl":
        # the oracle reads the last timed pass's output trees
        checked = max(int(p) for p, *_ in records["op"])
        results = {}
        for p, op, key, value in records.get("result", []):
            if p != "0":  # pass 0 warms up on other inputs
                results.setdefault(op, {}).setdefault(key, []).append(value)
        wrong = oracle.check_etl(work, fixture_dir, results, CORES)
    else:
        # the oracle reads the warm-up pass's results
        checked = 0
        ok_ops = [op for p, op, _, ok in records["op"] if p == "0" and ok == "1"]
        wrong = oracle.check_queries(work, ok_ops, CORES)
    print(f"checks done at {time.time() - t0:.2f} s")
    for op, why in sorted(wrong.items()):
        print(f"wrong: {op}: {why}")
    attempted = len(records["op"])
    # an op that threw in the checked pass and so left no output is
    # counted once
    failed = len(failed_ops) + len({op for op in wrong if (checked, op) not in failed_ops})

    if args.trace:
        whole, per_op = metrics.per_layer(records, HEAVY)
        with open(os.path.join(work, "trace_summary.json"), "w") as f:
            json.dump({"workload": whole, "ops": per_op}, f, indent=1, sort_keys=True)
        for op in ops:
            m = per_op.get(op, {})
            print(f"op {op}: " + " ".join(f"{k}={m[k]:.4g}" for k in sorted(m)))
        walls = [float(w) for p, w, _ in records["pass"]]
        print(f"traced wall_s {metrics.median(walls):.4f}")
        e2e = metrics.end_to_end(records, t0)
        for m in ("wall_s", "op_geomean_s", "op_cpu_geomean_s"):
            whole[f"pass.{m}"] = e2e[m][0]
        values = {m["name"]: (whole.get(m["name"], 0.0), m["unit"]) for m in bench["per_layer"]}
    else:
        e2e = metrics.end_to_end(records, t0)
        print(" ".join(f"{m} {e2e[m][0]:.4f}" for m in ("wall_s", "op_geomean_s", "op_cpu_geomean_s")))
        values = {m["name"]: e2e[m["name"]] for m in bench["end_to_end"]}
    # an op that throws counts in `failed`; `correct` speaks of the outputs
    # of the ops that did not
    print(json.dumps(metrics.result_line(not wrong, attempted, failed, values)))
    if wrong:
        sys.exit(1)


if __name__ == "__main__":
    main()
