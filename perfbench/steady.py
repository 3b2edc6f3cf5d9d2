#!/usr/bin/env python3
"""Run one workload on several seeds and report how steady each metric is.

    python3 perfbench/steady.py --workload flow_chain --seeds 1-10
    python3 perfbench/steady.py --workload flow_chain --seeds "" \
        --overhead-pairs 2 --out perfbench/results/flow_chain.overhead.json

For every end-to-end metric of BENCHMARK.json it prints the median, the
quartiles (statistics.quantiles, n=4) and the spread: the distance between
the quartiles as a share of the median, next to a third of the metric's
bound. Each run's hypervisor steal is read from its artifact.

--overhead-pairs N measures the cost of tracing: N pairs of runs on one
seed each, one traced and one untraced, back to back, with the traced run
first in every other pair. It reports each pair's relative difference
(traced - untraced) / untraced and their median, per end-to-end metric.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OVERHEAD_SEED = 1000


def seeds(spec):
    out = []
    for part in filter(None, spec.split(",")):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(workload, seed, seconds, trace):
    """One run; its end-to-end figures (from the artifact) and steal %."""
    build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    artifact = os.path.join(build, "runs", f"{workload}-seed{seed}-trace{trace}.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--artifact", artifact]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace} failed:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(artifact) as fh:
        art = json.load(fh)
    values = {k: v["value"] for k, v in art["end_to_end"].items()}
    return {"seed": seed, "trace": trace, "correct": result["correct"],
            "attempted": result["attempted"], "failed": result["failed"],
            "steal_pct": art["header"]["steal_pct"], "metrics": values}


def show(r):
    print(f"seed {r['seed']} trace {r['trace']}: correct={r['correct']} "
          f"steal={r['steal_pct']:.1f}% "
          + " ".join(f"{k}={v:.4g}" for k, v in r["metrics"].items()), flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,4,7; empty for none")
    ap.add_argument("--overhead-pairs", type=int, default=0)
    ap.add_argument("--out", help="where to write the summary (JSON)")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    runs = []
    for seed in seeds(a.seeds):
        runs.append(run(a.workload, seed, seconds, 0))
        show(runs[-1])

    summary = {}
    if len(runs) >= 2:
        print(f"\n{'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound/3':>9}")
        for name, m in metrics.items():
            xs = [r["metrics"][name] for r in runs]
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                             "bound": m["bound"], "steady": spread < m["bound"] / 3}
            flag = "" if name == "setup_s" or spread < m["bound"] / 3 else "  UNSTEADY"
            print(f"{name:<18}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}"
                  f"{m['bound'] / 3:>9.3f}{flag}")
    out = {"workload": a.workload, "run_seconds": seconds, "runs": runs, "summary": summary}

    if a.overhead_pairs:
        pairs = []
        for i in range(a.overhead_pairs):
            seed = OVERHEAD_SEED + i
            order = (1, 0) if i % 2 == 0 else (0, 1)
            done = {t: run(a.workload, seed, seconds, t) for t in order}
            for t in order:
                show(done[t])
            rel = {n: (done[1]["metrics"][n] - done[0]["metrics"][n]) / done[0]["metrics"][n]
                   for n in metrics}
            pairs.append({"seed": seed, "first": "traced" if order[0] else "untraced",
                          "traced": done[1], "untraced": done[0], "relative": rel})
        overhead = {n: statistics.median(p["relative"][n] for p in pairs) for n in metrics}
        out["tracing_overhead"] = {"pairs": pairs, "median_relative": overhead}
        print("\ntracing overhead, median over pairs of (traced - untraced) / untraced:")
        for n, v in overhead.items():
            each = " ".join(f"{p['relative'][n]:+.1%}" for p in pairs)
            print(f"  {n:<18}{v:>+8.1%}   pairs: {each}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
