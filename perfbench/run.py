#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload query_sweep --seed 1 --seconds 20 --trace 0

Run it from the repository root. It builds the harness
(`perfbench/build.sbt`, which compiles the engine from source as a
dependency) when a source is newer than the cached launch line in
`perfbench/target/launch.txt`. Inputs, Spark scratch space and the
harness's record live under `perfbench/.work/` and are deleted when the
run ends.

The harness JVM (`graft.perfbench.Main`) calls the engine; this script
makes the inputs from the seed, knows the expected outputs, checks every
operation and turns the records into the metrics named in
`BENCHMARK.json`: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. The last line of stdout is the result; the exit
code is 0 only when every output was correct.

    python3 perfbench/run.py --record-fingerprints

re-records `expected/query_fingerprints.json` from a full pass over the
inventory. Do that only on a commit whose `scripts/check.py` passes on
`perfbench/data/sf0.01`, the exact DuckDB oracle.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import cricsheet  # noqa: E402
import metrics  # noqa: E402

DATA = os.path.join(BENCH, "data", "sf0.01")
FINGERPRINTS = os.path.join(BENCH, "expected", "query_fingerprints.json")
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
JVM_TIMEOUT_S = 165

# Sizes per workload. `min_iters`: loop iterations every run makes, so a
# run's medians always cover warm iterations of the same count; the
# traced run's per-layer metrics come from exactly these, so their counts
# repeat for a seed. The sweep takes every `stride`-th cache-free query by
# name and the first `family_head` queries of the memoized family, and
# makes `warm_passes` untimed passes over them in set-up; the daily loop
# runs `warm_days` untimed days in set-up.
WORKLOADS = {
    "query_sweep": {"min_iters": 2, "stride": 60, "family_head": 3, "warm_passes": 1},
    "etl_daily": {"min_iters": 5, "history": 20, "per_zip": 10, "days": 20, "warm_days": 5},
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def heap():
    """The heap the repository's test command gives the engine: half of MemTotal in
    GiB, within 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def _newest_source():
    """Modification time of the newest build input of the harness."""
    files = []
    for base in (ROOT, BENCH):
        files.append(os.path.join(base, "build.sbt"))
        files += glob.glob(os.path.join(base, "project", "*.*"))
        for d, _, names in os.walk(os.path.join(base, "src", "main")):
            files += [os.path.join(d, n) for n in names]
    return max(os.path.getmtime(f) for f in files if os.path.isfile(f))


def build():
    """Classpath and JVM flags of the harness, building it if a source
    changed since the last build."""
    if not os.path.exists(LAUNCH) or os.path.getmtime(LAUNCH) < _newest_source():
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                           " -Dsbt.override.build.repos=true -Xmx2g").strip()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/launchFile"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0 or not os.path.exists(LAUNCH):
            sys.stderr.write(r.stdout[-4000:])
            fail("building the harness failed")
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


# ---- inputs ---------------------------------------------------------------

def make_inputs(workload, seed, work):
    """The workload's spec fields and what the runner expects back."""
    cfg = WORKLOADS[workload]
    if workload == "query_sweep":
        return {k: cfg[k] for k in ("stride", "family_head", "warm_passes")}, {}
    landing = os.path.join(work, "landing")
    plan, history, days = cricsheet.daily_plan(seed, cfg["history"], cfg["per_zip"], cfg["days"])
    hist_zips = [n for n in sorted(plan.archives) if n.startswith("hist_")]
    cricsheet.write_archives(plan, hist_zips, landing)
    day_dir = os.path.join(work, "days")
    cricsheet.write_archives(plan, [d["zip"] for d in days], day_dir)
    return ({"landing": landing, "days": [os.path.join(day_dir, d["zip"]) for d in days],
             "warm_days": cfg["warm_days"]},
            {"history": history, "days": days})


# ---- checks ---------------------------------------------------------------

def check(workload, rec, expect):
    """(attempted, failed) and the list of failure messages."""
    problems = []
    ops = rec["ops"]
    attempted = len(ops) + len(rec["warm_ops"])

    def bad(op, why):
        problems.append(f"{op['kind']} {op['name']} (iteration {op['iter']}): {why}")

    if workload == "query_sweep":
        with open(FINGERPRINTS) as f:
            fps = json.load(f)
        for op in rec["warm_ops"] + ops:
            if not op["ok"]:
                bad(op, op.get("error", "failed"))
            elif [op["rows"], op["hash"]] != fps[op["name"]]:
                bad(op, f"fingerprint {[op['rows'], op['hash']]} != {fps[op['name']]}")
    else:
        warm = WORKLOADS["etl_daily"]["warm_days"]
        wants = [expect["history"]] + [d[k] for d in expect["days"][:warm] for k in ("new", "noop")]
        for i, (res, want) in enumerate(zip(rec["setup_results"], wants)):
            attempted += 1
            if res["result"] != want:
                problems.append(f"set-up call {i}: {res['result']} != {want}")
        for op in ops:
            want = expect["days"][warm + op["iter"]][op["kind"]]
            if not op["ok"]:
                bad(op, op.get("error", "failed"))
            elif op["result"] != want:
                bad(op, f"{op['result']} != {want}")
        last = warm + max(op["iter"] for op in ops)
        attempted += 1
        ins = rec["inspect"]
        if [ins["ledger_size"], ins["ledger_sha256"]] != expect["days"][last]["ledger"]:
            problems.append(f"ledger after day {last}: {ins['ledger_size']} keys, wrong set")
    return attempted, len(problems), problems


# ---- metrics --------------------------------------------------------------

PRIMARY = {"query_sweep": "query", "etl_daily": "new"}


def end_to_end(workload, rec, gen_s, jvm_launch_ms):
    primary = [op["cpu_s"] for op in rec["ops"] if op["kind"] == PRIMARY[workload]]
    # input generation and everything the JVM did before the first timed
    # call, except the reference job
    setup = gen_s + (rec["loop_start_ms"] - jvm_launch_ms) / 1000 - rec["ref_job_s"][0]
    return {
        "setup_s": (setup, "s"),
        "op_cpu_gmean_s": (math.exp(statistics.fmean(map(math.log, primary))), "s"),
        "iter_cpu_s": (statistics.median(it["cpu_s"] for it in rec["iters"]), "s"),
        "heap_retained_mb": (min(rec["retained_heap_mb"]), "MB"),
    }


def per_layer(workload, rec, spec, expect):
    cfg = WORKLOADS[workload]
    n_iter = cfg["min_iters"]
    ops = [op for op in rec["ops"] if op["iter"] < n_iter]
    op_ids = {op["id"]: op for op in ops}
    tr = rec["trace"]
    jobs = [j for j in tr["jobs"] if j["op"] in op_ids]
    execs = {x["id"]: x for x in tr["executions"]}
    phases = [p for p in tr["phases"] if p["op"] in op_ids]
    wall = sum(op["wall_s"] for op in ops)
    cpus = rec["cpus"]

    def per_iter(x):
        return x / n_iter

    def jsum(key, scale=1.0):
        return per_iter(sum(j[key] for j in jobs) * scale)

    MB = 1.0 / (1 << 20)
    out = {
        "queries.build_s": (per_iter(sum(op.get("build_s", 0.0) for op in ops)), "s"),
        "queries.build_jobs": (per_iter(sum(1 for j in jobs if j["phase"] == "build")), "count"),
        "queries.action_s": (per_iter(sum(op["wall_s"] - op.get("build_s", 0.0) for op in ops
                                          if op["kind"] == "query")), "s"),
        "queries.memo_builds": (per_iter(sum(len(op.get("memo_built", [])) for op in ops)), "count"),
        "queries.memo_rebuilds": (per_iter(_rebuilds(ops)), "count"),
        "catalyst.analyze_ms": (per_iter(sum(p["analysis_ms"] for p in phases)), "ms"),
        "catalyst.optimize_ms": (per_iter(sum(p["optimization_ms"] for p in phases)), "ms"),
        "catalyst.plan_ms": (per_iter(sum(p["planning_ms"] for p in phases)), "ms"),
        "codegen.compiles": (per_iter(sum(op["codegen_compiles"] for op in ops)), "count"),
        "codegen.compile_ms": (per_iter(sum(op["codegen_ms"] for op in ops)), "ms"),
        "scheduler.jobs": (per_iter(len(jobs)), "count"),
        "scheduler.stages": (jsum("stages"), "count"),
        "scheduler.tasks": (jsum("tasks"), "count"),
        "scheduler.delay_s": (jsum("delay_ms", 1e-3), "s"),
        "executor.run_s": (jsum("run_ms", 1e-3), "s"),
        "executor.cpu_s": (jsum("cpu_ns", 1e-9), "s"),
        "executor.gc_s": (per_iter(sum(op["gc_ms"] for op in ops) / 1000), "s"),
        "executor.slot_busy_frac": (sum(j["run_ms"] for j in jobs) / 1000 / (wall * cpus), "ratio"),
        "shuffle.write_mb": (jsum("shuffle_write", MB), "MB"),
        "shuffle.read_mb": (jsum("shuffle_read", MB), "MB"),
        "shuffle.fetch_wait_s": (jsum("fetch_wait_ms", 1e-3), "s"),
        "shuffle.spill_mb": (jsum("spill", MB), "MB"),
        "io.input_mb": (jsum("input", MB), "MB"),
        "io.output_mb": (jsum("output", MB), "MB"),
        "io.files_written": (per_iter(sum(op.get("files_written", 0) for op in ops)), "count"),
    }
    out.update(pipeline_layers(rec, ops, jobs, execs, spec, expect) if workload == "etl_daily"
               else {name: (0.0, unit) for name, unit in PIPELINE_LAYERS})
    primary = [op["wall_s"] for op in rec["ops"] if op["kind"] == PRIMARY[workload]]
    out["wall.op_p50_s"] = (statistics.median(primary), "s")
    out["wall.iter_s"] = (statistics.median(it["wall_s"] for it in rec["iters"]), "s")
    out["jvm.compiler_gc_cpu_s"] = (statistics.median(
        it["process_cpu_s"] - it["cpu_s"] for it in rec["iters"]), "s")
    out["machine.ref_job_s"] = (statistics.mean(rec["ref_job_s"]), "s")
    loop_ms = rec["loop_end_ms"] - rec["loop_start_ms"]
    out["trace.overhead_frac"] = (rec["trace_overhead_ms"] / loop_ms, "ratio")
    return out


PIPELINE_LAYERS = ([(f"pipeline.{s}_s", "s") for s in metrics.PIPELINE_STAGES] + [
    ("pipeline.driver_s", "s"), ("pipeline.driver_frac", "ratio"), ("pipeline.noop_run_s", "s"),
    ("sources.zip_mb_read", "MB"), ("operators.flatten_rows_per_match", "rows"),
    ("sinks.files_per_match", "ratio"), ("sinks.staged_bytes_per_input_byte", "ratio")])


def pipeline_layers(rec, ops, jobs, execs, spec, expect):
    """Per-layer metrics of the ETL calls: stage self times per call that
    lands new matches, and what the sources, operators and sinks did."""
    warm = WORKLOADS["etl_daily"]["warm_days"]
    work_dir = f"{spec['work_dir']}/history"
    dirs = {"landing": spec["landing"], "extracted": f"{work_dir}/extracted",
            "staging": f"{work_dir}/staging", "state": f"{work_dir}/state",
            "schema_log": f"{work_dir}/schema_log"}

    def exec_stage(xid):
        x = execs[xid]
        return metrics.pipeline_stage(x["description"], x["paths"], x["writes"], dirs)

    stage_s = {s: 0.0 for s in metrics.PIPELINE_STAGES + [None]}
    new, noop, zip_mb, rows_per_match = [], [], [], []
    for op in (op for op in ops if op["ok"]):
        op_jobs = [j for j in jobs if j["op"] == op["id"]]
        if op["kind"] == "noop":
            # a call with nothing new only unzips and selects, so all the
            # input it reads is the landing archives
            noop.append(op["wall_s"])
            zip_mb.append(sum(j["input"] for j in op_jobs) / (1 << 20))
            continue
        new.append(op["wall_s"])
        labels = metrics.job_stages(op_jobs, exec_stage)
        spans = [(exec_stage(xid), execs[xid]["start_ms"], execs[xid]["end_ms"])
                 for xid in {j["execution"] for j in op_jobs if j["execution"] >= 0}]
        spans += [(label, j["start_ms"], j["end_ms"])
                  for j, label in zip(op_jobs, labels) if j["execution"] < 0]
        for label, ms in metrics.self_times((op["start_ms"], op["end_ms"]), spans).items():
            stage_s[label] += ms / 1000
        day = expect["days"][warm + op["iter"]]
        rows_per_match.append(day["rows_added"] / day["matches"])
    runs = max(len(new), 1)
    out = {f"pipeline.{s}_s": stage_s[s] / runs for s in metrics.PIPELINE_STAGES}
    out["pipeline.driver_s"] = stage_s[None] / runs
    out["pipeline.driver_frac"] = stage_s[None] / sum(new) if new else 0.0
    out["pipeline.noop_run_s"] = statistics.median(noop) if noop else 0.0
    out["sources.zip_mb_read"] = statistics.median(zip_mb) if zip_mb else 0.0
    out["operators.flatten_rows_per_match"] = (statistics.mean(rows_per_match)
                                               if rows_per_match else 0.0)
    # staging as it stands after the run's last day
    last = expect["days"][warm + max(op["iter"] for op in rec["ops"])]
    ins = rec["inspect"]
    out["sinks.files_per_match"] = ins["staged_files"] / last["staged_matches"]
    out["sinks.staged_bytes_per_input_byte"] = ins["staged_bytes"] / last["json_bytes"]
    return {name: (out[name], unit) for name, unit in PIPELINE_LAYERS}


def _rebuilds(ops):
    """Memoized tables built more than once within one sweep pass."""
    n = 0
    for it in {op["iter"] for op in ops}:
        built = [t for op in ops if op["iter"] == it for t in op.get("memo_built", [])]
        n += len(built) - len(set(built))
    return n


# ---- running ----------------------------------------------------------------

def run_jvm(launch, spec, work, timeout=JVM_TIMEOUT_S):
    cp, opts = launch
    spec_path = os.path.join(work, "spec.json")
    out_path = os.path.join(work, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opts + [f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                              "graft.perfbench.Main", spec_path, out_path])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    launch_ms = time.time() * 1000
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the harness did not finish within {timeout} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or not os.path.exists(out_path):
        fail(f"the harness exited with code {rc}")
    with open(out_path) as f:
        return json.load(f), launch_ms


def main():
    # a terminated runner still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-fingerprints", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run this from the repository root: the engine's build.sbt and sources are missing")
    if not args.record_fingerprints and not args.workload:
        fail("--workload is required")
    launch = build()
    work = os.path.join(BENCH, ".work", f"{args.workload or 'record'}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.record_fingerprints:
            record_fingerprints(launch, work)
            return 0
        t0 = time.time()
        fields, expect = make_inputs(args.workload, args.seed, work)
        gen_s = time.time() - t0
        cfg = WORKLOADS[args.workload]
        spec = dict(fields, workload=args.workload, seed=args.seed, seconds=args.seconds,
                    trace=bool(args.trace), cpus=nproc(), data_dir=DATA, work_dir=work,
                    min_iters=cfg["min_iters"])
        rec, launch_ms = run_jvm(launch, spec, work)
        attempted, failed, problems = check(args.workload, rec, expect)
        for p in problems[:20]:
            print(f"perfbench: wrong output: {p}", file=sys.stderr)
        print(f"perfbench: machine.ref_job_s before/after {rec['ref_job_s']}", file=sys.stderr)
        values = (per_layer(args.workload, rec, spec, expect) if args.trace
                  else end_to_end(args.workload, rec, gen_s, launch_ms))
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}
        print(json.dumps(result))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def record_fingerprints(launch, work):
    spec = {"workload": "query_sweep", "seed": 0, "seconds": 0, "trace": False, "cpus": nproc(),
            "data_dir": DATA, "work_dir": work, "min_iters": 1, "warm_passes": 0}
    rec, _ = run_jvm(launch, spec, work, timeout=None)
    for op in sorted(rec["ops"], key=lambda op: op["wall_s"]):
        print(f"perfbench: {op['wall_s']:8.3f} s  {op['name']}", file=sys.stderr)
    failed = [op["name"] for op in rec["ops"] if not op["ok"]]
    if failed:
        fail(f"queries failed, nothing recorded: {failed}")
    fps = {op["name"]: [op["rows"], op["hash"]] for op in rec["ops"]}
    os.makedirs(os.path.dirname(FINGERPRINTS), exist_ok=True)
    with open(FINGERPRINTS, "w") as f:
        f.write("{\n" + ",\n".join(f"{json.dumps(k)}: {json.dumps(v)}"
                                   for k, v in sorted(fps.items())) + "\n}\n")
    print(f"perfbench: recorded {len(fps)} fingerprints", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
