"""CDC-sink benchmark: one run of one workload.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the library and the JVM program
from source (``build.py``), generates the workload's inputs from the seed,
runs the JVM program (``src/CdcBench.scala``) at ``local[4]``, checks the
tables and query results against an independent model (``oracle.py``),
prints a readable report and, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``, with ``--trace 1``
the per-layer ones. Exits 1 when a check fails, 2 when the run cannot be
made at all. See NOTES.md for the workloads and metrics.
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

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# Width of the key-range count of the read mix.
RANGE_SPAN = 5000

# Workload sizing; each dict goes into the JVM program's plan as it is.
CONFIG = {
    "bulk_catchup": {
        "dests": ["bench.inventory.t%d" % i for i in range(4)], "key_space": 400_000,
        "initial_live": 100_000, "files": 12, "events_per_file": 4096,
        "setup_reps": 3,
        "readback_rounds": 10, "readback_seams": ["catalog"]},
    "trickle_commit": {
        "dests": ["bench.inventory.t0", "bench.inventory.t1"], "key_space": 400_000,
        "initial_live": 100_000, "events_per_file": 2048, "warm_files": 1, "jit_warm_files": 8,
        "evolve_at": 15, "setup_reps": 3, "windows": 3,
        "readback_rounds": 5, "readback_seams": ["catalog", "plans"]},
}

# Timed operations per second of --seconds: bulk drains, trickle
# micro-batches. A run measures a fixed count of them, so its work does not
# depend on the speed of the code under test; at the seed commit on 4 cores
# the count takes about --seconds. At 18 s: 5 drains, 30 batches.
OPS_PER_SECOND = {"bulk_catchup": 0.28, "trickle_commit": 1.67}


def table_name(prefix, dest):
    """The library's default destination-to-table mapping."""
    return (prefix + dest.replace(".", "_").replace("-", "_")).lower()


def generate(workload, seed, inputs, plan):
    """Writes the workload's inputs and completes the plan; returns the
    batches the oracle folds."""
    ops = plan["timed_ops"]
    c = CONFIG[workload]
    plan.update(c)
    if workload == "bulk_catchup":
        plan.update(backlog_dir=os.path.join(inputs, "backlog"),
                    backlog_events=c["files"] * c["events_per_file"])
        record = gen.envelope_files(plan["backlog_dir"], seed, c["dests"], c["key_space"],
                                    c["initial_live"], c["files"], c["events_per_file"])
        # one AvailableNow trigger drains the backlog as one micro-batch
        return [[e for f in record for e in f]]
    plan.update(stage_dir=os.path.join(inputs, "stage"))
    # one file per micro-batch; the first timed file is number `warm`
    warm = c["warm_files"]
    return gen.envelope_files(plan["stage_dir"], seed, c["dests"], c["key_space"], c["initial_live"],
                              warm + ops, c["events_per_file"], added_from_file=warm + c["evolve_at"])


def check_tables(result, batches, n_batches):
    """Folds the first `n_batches` generated batches and compares each
    destination's expected state with the JVM side's digest of the table."""
    state = oracle.fold_all(batches[:n_batches])
    problems = []
    tables = result.get("tables", {})
    for dest in sorted({e[0] for b in batches for e in b}):
        name = table_name(result["verify_prefix"], dest)
        got = tables.get(name)
        if got is None:
            problems.append("%s: no digest from the JVM side" % name)
            continue
        cols = got["columns"]
        if cols != gen.COLUMNS[:len(cols)]:
            problems.append("%s: unexpected columns %s" % (name, cols))
            continue
        rows = [tuple(r) + (None,) * (len(cols) - len(r)) for r in state.get(dest, {}).values()]
        want = oracle.table_hash(rows, cols)
        if (got["rows"], int(got["hash"])) != want:
            problems.append("%s: table has %d rows / digest %s, the model %d rows / digest %d"
                            % (name, got["rows"], got["hash"], want[0], want[1]))
    return problems


def host_probe_s():
    """Seconds a fixed pure-Python loop takes: a record of how fast the host
    ran this run, printed to explain run-to-run drift. Not a metric."""
    t0 = time.perf_counter()
    s = 0
    for i in range(3_000_000):
        s += i
    return time.perf_counter() - t0


def run_jvm(classpath, plan_file, result_file, log_file, timeout):
    # A fixed heap, touched in full at start: VmHWM then measures the heap
    # plus native memory, not G1's adaptive heap sizing (which moved peak
    # RSS by 15-25% between runs) or how many heap regions a run happened
    # to touch (about 300 MB).
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages",
           "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(os.path.dirname(plan_file), "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "cdcbench.CdcBench", plan_file, result_file]
    os.makedirs(os.path.join(os.path.dirname(plan_file), "tmp"), exist_ok=True)
    with open(log_file, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    try:
        classpath = build.build(root)
    except SystemExit as e:
        print("[cdcbench] %s" % e, file=sys.stderr)
        return 2
    t_start = time.time()
    probe = host_probe_s()

    work = os.path.join(root, ".bench_work", "%s-%d-%d" % (args.workload, args.seed, args.trace))
    out_dir = os.path.join(root, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    plan = dict(range_span=RANGE_SPAN, workload=args.workload, seed=args.seed, trace=args.trace,
                timed_ops=max(1, round(args.seconds * OPS_PER_SECOND[args.workload])), work=work,
                spans_file=os.path.join(out_dir, "spans-%s.jsonl" % tag))
    batches = generate(args.workload, args.seed, os.path.join(work, "in"), plan)
    plan_file = os.path.join(work, "plan.json")
    result_file = os.path.join(out_dir, "result-%s.json" % tag)
    log_file = os.path.join(out_dir, "jvm-%s.log" % tag)
    with open(plan_file, "w") as f:
        json.dump(plan, f, indent=1)
    if os.path.exists(result_file):
        os.remove(result_file)

    budget = JVM_TIMEOUT_S - (time.time() - t_start)
    rc = run_jvm(classpath, plan_file, result_file, log_file, budget)
    if rc is None or not os.path.exists(result_file):
        print("[cdcbench] the JVM program %s; log: %s" % (
            "timed out" if rc is None else "exited %s without a result" % rc, log_file), file=sys.stderr)
        return 2
    with open(result_file) as f:
        result = json.load(f)

    problems = list(result.get("failures", []))
    if not problems:
        n = 1 if args.workload == "bulk_catchup" else result["files_consumed"]
        problems += check_tables(result, batches, n)
    m = result["metrics"]

    # Operations of the measured phase: commit units plus queries.
    attempted = int(result.get("batch_samples", 0)) + int(result.get("query_samples", 0))
    failed = attempted if problems else 0
    shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for d in wanted:
        metrics[d["name"]] = {"value": m.get(d["name"], 0.0), "unit": d["unit"]}

    print("[cdcbench] %s seed=%d seconds=%g trace=%d  (%s)" % (
        args.workload, args.seed, args.seconds, args.trace, result_file))
    alias = {"bulk_catchup": {"events_per_s": "bulk_eps"},
             "trickle_commit": {"events_per_s": "trickle_eps"}}[args.workload]
    for name, v in metrics.items():
        print("  %-34s %14.4f %s" % (alias.get(name, name), v["value"], v["unit"]))
    print("  %-34s %14.4f ratio" % ("failed_share", failed / max(1, attempted)))
    print("  %-34s %.3f" % ("host_probe_s", probe))
    for k in ("session_s", "setup_reps_s", "warm_up_s", "read_warm_up_s", "drains", "files_consumed",
              "batch_samples", "query_samples", "engine_num_input_rows"):
        if k in result:
            print("  %-34s %s" % (k, result[k]))
    if args.trace:
        print("  spans: %s" % plan["spans_file"])
    for p in problems:
        print("  CHECK FAILED: %s" % p)
    print(json.dumps({"correct": not problems, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
