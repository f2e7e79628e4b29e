#!/usr/bin/env python3
"""The engine's end-to-end benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One invocation:

1. builds the engine and the benchmark's JVM side if the sources changed
   (perfbench/build.py);
2. generates the seeded inputs (perfbench/gen.py) into
   .bench_build/work/, and hands the JVM only that directory;
3. starts one JVM with a local Spark session on every available core,
   runs the workload's set-up passes, then times units of work for
   --seconds (at least `min_units` of them);
4. checks the outputs, untimed: every checked result against its DuckDB
   twin, every timed unit's results against the first set-up pass, and
   for the ClearVue batch the JSONL collections and the XLSX report read
   back from disk;
5. prints an environment line, one line per metric with its sample
   count, and as the last line one JSON object with `correct`,
   `attempted`, `failed` and `metrics`.

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 every other unit is traced (spans around each public
call into the engine plus a SparkListener for counts) and the metrics
are BENCHMARK.json's per-layer ones, averaged over the traced units.
Spans are written to the work directory's spans.jsonl, which is kept
with the rest of the run's files when PERFBENCH_KEEP=1.

The exit code is 0 when every check passed, 1 when a check failed or an
operation threw, 2 when the benchmark could not run at all.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build   # noqa: E402
import gen     # noqa: E402
import oracle  # noqa: E402

# passes: set-up passes before timing, one untimed unit each (the first
# carries JIT and codegen warm-up); min_units: timed units even when
# --seconds is already used up (a traced run takes at least two: one
# traced, one not). A ClearVue unit keeps getting faster for about two
# units after its second pass, which the median of six absorbs; an
# iterative round takes ~10 s on 4 cores, so it gets a single pass.
WORKLOADS = {
    "clearvue_batch": {"passes": 2, "min_units": 6},
    "iterative_analytics": {"passes": 1, "min_units": 2},
}
# only the heap's ceiling is fixed, so the peak resident set follows the
# memory the engine touches; two malloc arenas keep allocator timing out
# of it
JVM_HEAP = "1g"
DEADLINE_S = 170
PERCENTILES = [75, 90, 95, 99, 99.9]


def fail_setup(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tail_percentile(xs):
    """The highest of PERCENTILES with at least ten samples beyond it."""
    ok = [p for p in PERCENTILES if len(xs) * (100 - p) / 100 >= 10]
    if not ok:
        return None
    p = ok[-1]
    qs = statistics.quantiles(xs, n=1000, method="inclusive")
    return p, qs[int(p * 10) - 1]


def describe(name, unit, xs):
    line = f"{name}: median {statistics.median(xs):.4f} {unit}"
    tp = tail_percentile(xs) if len(xs) > 1 else None
    if tp:
        line += f", p{tp[0]:g} {tp[1]:.4f} {unit}"
    return line + f" (n={len(xs)})"


def git_sha():
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", ref[5:])).read().strip()
        return ref
    except OSError:
        return None


def run_jvm(args, work, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java_cmd(tmp) + [
        f"-Xmx{JVM_HEAP}",
        "-cp", build.classpath(), "perfbench.PerfBench"] + args
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["MALLOC_ARENA_MAX"] = "2"
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        launched = time.time()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, env=env)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
    return code, launched


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    started = time.time()
    cfg = WORKLOADS[a.workload]
    traced = a.trace == "1"

    try:
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        build.ensure()
    except (OSError, ValueError, RuntimeError) as e:
        fail_setup(str(e))
    built_s = time.time() - started

    work = os.path.join(build.OUT, "work",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir)
    t0 = time.perf_counter()
    sizes = gen.write(input_dir, a.seed)
    gen_s = time.perf_counter() - t0

    cpus = len(os.sched_getaffinity(0))
    args = ["--workload", a.workload, "--input", input_dir, "--out", out_dir,
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--passes", str(cfg["passes"]),
            "--min-units", str(cfg["min_units"]),
            "--cpus", str(cpus), "--seed", str(a.seed)]
    budget = DEADLINE_S - (time.time() - started - built_s)
    code, launched = run_jvm(args, work, budget)
    result_path = os.path.join(out_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        fail_setup(f"JVM exited with {code}; log in {work}/jvm.log")
    res = json.load(open(result_path))
    rss_mb = res["peak_rss_kb"] / 1024.0

    # ---- output check (untimed) ----
    units = res["units"]
    ops = [o for u in units for o in u["ops"]]
    attempted = max(1, len(ops))
    failed = sum(1 for o in ops if o["error"]) + \
        sum(len(u["mismatched"]) for u in units)
    problems = []
    if res["setup_error"]:
        problems.append(f"set-up: {res['setup_error']}")
    for u in units:
        for o in u["ops"]:
            if o["error"]:
                problems.append(f"unit {u['i']} {o['name']}: {o['error']}")
        for name in u["mismatched"]:
            problems.append(f"unit {u['i']} {name}: rows differ from set-up")
    check_dir = os.path.join(out_dir, "check")
    keys = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    last = res["last_unit"]
    collections = last.get("collections", {})
    checked = sorted(k for k in keys if k not in collections.values())
    reasons, ties = oracle.compare(check_dir, input_dir, checked)
    for key, why in reasons.items():
        if why:
            problems.append(f"oracle {key}: {why}")
            failed += sum(1 for o in ops if o["key"] == key)
    if collections and units:
        for name, why in oracle.check_collections(
                last["dir"], collections, check_dir, input_dir).items():
            if why:
                problems.append(f"collection {name}: {why}")
                failed += 1
        n_sheets = sum(1 for o in units[-1]["ops"]
                       if o["name"].startswith("bi.") and not o["error"])
        why = oracle.check_xlsx(os.path.join(last["dir"], "report.xlsx"),
                                n_sheets)
        if why:
            problems.append(f"xlsx: {why}")
            failed += 1
    if not units:
        failed = max(failed, 1)
    failed = min(failed, attempted)
    correct = not problems and failed == 0

    # ---- metrics ----
    jvm_start_s = res["ready_epoch_ms"] / 1000.0 - launched
    env = {
        "workload": a.workload, "seed": a.seed, "trace": traced,
        "nproc": cpus, "shuffle_partitions": res["shuffle_partitions"],
        "driver_max_heap_mb": res["driver_max_heap_mb"],
        "materialize_mode": res["materialize_mode"],
        "spark_version": res["spark_version"],
        "git_sha": git_sha(), "source_sha256": build.source_sha(),
        "storage_capacity_mb": round(res["storage_capacity_mb"], 1),
        "input": {t: {"rows": r, "bytes": b} for t, (r, b) in sizes.items()},
        "build_s": round(built_s, 3), "window_s": round(res["window_s"], 3),
    }
    print("env " + json.dumps(env, sort_keys=True))
    for p in problems:
        print(f"check failed: {p}")
    for key, rows in sorted(ties.items()):
        print(f"check: oracle {key} agrees up to rounding ties: {rows}")

    untimed = [u for u in units if not u["traced"]]
    run_xs = [u["seconds"] for u in untimed] or [u["seconds"] for u in units]
    passes = res["setup_pass_s"]
    setup_s = gen_s + jvm_start_s + sum(passes)
    print(f"setup_s: {setup_s:.4f} s = inputs {gen_s:.3f} + JVM and session "
          f"{jvm_start_s:.3f} + set-up passes "
          f"{[round(x, 3) for x in passes]}")
    if run_xs:
        print(describe("run_s", "s", run_xs))
    print(f"peak_rss_mb: {rss_mb:.1f} MB")

    if traced:
        values = dict(res["layers"], **{"jvm.peak_rss_mb": rss_mb})
    else:
        values = {"run_s": statistics.median(run_xs) if run_xs else None,
                  "setup_s": setup_s}
    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is not None:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if traced:
        for name in ("trace.run_s", "untraced_s", "trace.overhead_s"):
            print(f"{name}: {values.get(name, float('nan')):.4f} s")
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing and correct:
        print(f"check failed: metrics missing: {missing}")
        correct = False

    if os.environ.get("PERFBENCH_KEEP") != "1":
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
