#!/usr/bin/env python3
"""A/B of the CDC-sink benchmark: a base commit against the working tree.

    python3 tools/ab.py --workload trickle_commit [--pairs 10] [--base HEAD]
                        [--seed-base 1000] [--seconds <BENCHMARK.json run_seconds>]
                        [--json out.json]

Run from the root of a checkout. The base commit's files are exported with
`git archive` into a temporary directory; the working tree is the other
side. Both sides are built before any run, then `cdcbench/run.py` runs the
workload once per side per pair, untraced, each side in its own checkout.
Pair i uses seed `seed-base + i` on both sides and alternates which side
runs first. The benchmark itself is only called, never changed.

For each end-to-end metric of BENCHMARK.json it prints both sides' median
and quartiles, the change of the median, the share of pairs the working
tree won (ties count for neither side) and a no-regression verdict against
the metric's `bound` from BENCHMARK.json:

  REGRESSION  the working tree's median is worse than the base's by more
              than the bound (as a fraction of the base median);
  UNRESOLVED  the base's own spread (interquartile range / median) exceeds
              the bound, so a move of that size cannot be told from noise,
              unless every working-tree run beats every base run;
  ok          neither.

A metric is also marked GAIN when the working tree won at least 9/10 of the
pairs and its median is better than the base's by more than the base's
interquartile range. Exits 1 when any run failed or reported
`correct: false`, or any metric is a REGRESSION.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def export_commit(rev, dest):
    """Writes the committed files of `rev` into `dest`."""
    archive = subprocess.run(["git", "archive", "--format=tar", rev],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def build(root):
    r = subprocess.run([sys.executable, "cdcbench/build.py"], cwd=root,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.exit("ab: building %s failed:\n%s" % (root, r.stdout[-4000:]))


def run_once(root, workload, seed, seconds):
    """One untraced benchmark run; returns its final JSON object, or None."""
    r = subprocess.run([sys.executable, "cdcbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = r.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(r.stdout[-2000:])
        return None


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(spec, runs):
    """Per-metric medians, quartiles, win share and verdict."""
    rows = []
    for d in spec["end_to_end"]:
        name, lower = d["name"], d["better"] == "lower"
        pairs = [(b["metrics"][name]["value"], c["metrics"][name]["value"])
                 for b, c in runs if b and c]
        if len(pairs) < 2:
            continue
        base = [b for b, _ in pairs]
        change = [c for _, c in pairs]
        bq, cq = quartiles(base), quartiles(change)
        wins = sum(1 for b, c in pairs if (c < b if lower else c > b))
        gain = (bq[1] - cq[1]) if lower else (cq[1] - bq[1])
        worse = -gain / bq[1] if bq[1] else 0.0
        spread = (bq[2] - bq[0]) / bq[1] if bq[1] else 0.0
        dominates = (max(change) < min(base)) if lower else (min(change) > max(base))
        if spread > d["bound"] and not dominates:
            verdict = "UNRESOLVED"
        elif worse > d["bound"]:
            verdict = "REGRESSION"
        else:
            verdict = "ok"
        rows.append({
            "metric": name, "unit": d["unit"], "better": d["better"],
            "base": {"q1": bq[0], "median": bq[1], "q3": bq[2]},
            "change": {"q1": cq[0], "median": cq[1], "q3": cq[2]},
            "median_change": (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0,
            "wins": wins, "pairs": len(pairs),
            "bound": d["bound"], "base_spread": spread, "verdict": verdict,
            "gain": wins >= 0.9 * len(pairs) and gain > bq[2] - bq[0],
        })
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--base", default="HEAD",
                    help="commit to compare the working tree against (default HEAD)")
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--json", help="also write the summary and every run here")
    args = ap.parse_args()
    here = os.getcwd()
    with open(os.path.join(here, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]

    tmp = tempfile.mkdtemp(prefix="cdcbench-ab-")
    try:
        base_root = os.path.join(tmp, "base")
        os.makedirs(base_root)
        export_commit(args.base, base_root)
        for root in (base_root, here):
            build(root)
        runs = []
        for i in range(args.pairs):
            seed = args.seed_base + i
            order = [("base", base_root), ("change", here)]
            if i % 2:
                order.reverse()
            got = {}
            for side, root in order:
                got[side] = run_once(root, args.workload, seed, seconds)
            runs.append((got["base"], got["change"]))
            print("[ab] pair %d seed %d (%s first): %s" % (
                i, seed, order[0][0], "  ".join(
                    "%s=%s" % (s, "%.1f" % r["metrics"]["events_per_s"]["value"]
                               if r and "events_per_s" in r["metrics"] else "FAILED")
                    for s, r in (("base", got["base"]), ("change", got["change"])))),
                flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    bad = sum(1 for pair in runs for r in pair
              if r is None or not r.get("correct") or r.get("failed", 0))
    rows = summarize(spec, runs)
    print("\n%s, %d pairs, %g s, base %s vs working tree; %d run(s) failed or incorrect"
          % (args.workload, len(runs), seconds, args.base, bad))
    print("%-22s %-9s %30s %30s %8s %6s %6s %6s  %s" % (
        "metric", "unit", "base q1 / median / q3", "change q1 / median / q3", "median",
        "wins", "bound", "spread", "verdict"))
    for r in rows:
        b, c = r["base"], r["change"]
        print("%-22s %-9s %30s %30s %+7.1f%% %2d/%-3d %6.2f %6.3f  %s%s" % (
            r["metric"], r["unit"],
            "%.4g / %.4g / %.4g" % (b["q1"], b["median"], b["q3"]),
            "%.4g / %.4g / %.4g" % (c["q1"], c["median"], c["q3"]),
            100 * r["median_change"], r["wins"], r["pairs"], r["bound"],
            r["base_spread"], r["verdict"], "  GAIN" if r["gain"] else ""))
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "seconds": seconds, "base": args.base,
                       "seed_base": args.seed_base, "summary": rows,
                       "runs": [{"base": b, "change": c} for b, c in runs]}, f, indent=1)
    return 1 if bad or any(r["verdict"] == "REGRESSION" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
