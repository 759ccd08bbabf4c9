#!/usr/bin/env python3
"""Paired perfbench runs over two checkouts: is B faster than A?

    python3 tools/perf_pairs.py --base ../graft-parent --change . \\
        --workload cdc_trickle --pairs 10

Runs `perfbench/run.py` alternately in the two source checkouts, one
pair per seed (seeds `--seed0`, `--seed0 + 1`, ...; by default taken
from the clock, so they are fresh), with the order inside a pair
alternating so that drift falls on both sides alike. Then prints, per
workload and metric, each side's median and quartiles and how many
pairs each side won, and each run's `steal_frac` (CPU time the
hypervisor gave to other guests during the run), flagging runs above
0.05: their timings are slow for reasons outside the program.

A checkout is benchmarked from its own classes only. A copy of a built
checkout (`cp -a`) keeps a `.bench_build/classpath.txt` that names the
original's `perfbench/target`, and would silently run the original's
classes; such a classpath is deleted here, so `run.py` rebuilds it.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

STEAL_FLAG = 0.05


def log(msg):
    print(f"[perf_pairs] {msg}", file=sys.stderr, flush=True)


def check_classpath(checkout):
    """Delete a bench classpath that points into another checkout."""
    cp_file = os.path.join(checkout, ".bench_build", "classpath.txt")
    if not os.path.exists(cp_file):
        return
    own = os.path.realpath(os.path.join(checkout, "perfbench", "target"))
    entries = open(cp_file).read().strip().split(os.pathsep)
    foreign = [e for e in entries if os.sep + os.path.join("perfbench", "target") in e
               and not os.path.realpath(e).startswith(own + os.sep)]
    if foreign:
        log(f"{checkout}: its bench classpath names {foreign[0]}; deleted, run.py rebuilds it")
        os.remove(cp_file)


def run_once(checkout, workload, seed, seconds, trace, logs):
    """One perfbench run; returns (metrics, info) or None if it failed."""
    tag = f"{os.path.basename(os.path.realpath(checkout))}-{workload}-{seed}"
    err = os.path.join(logs, f"{tag}.err")
    with open(err, "w") as fh:
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                           cwd=checkout, stdout=subprocess.PIPE, stderr=fh, text=True,
                           stdin=subprocess.DEVNULL)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    try:
        res, info = json.loads(lines[-1]), json.loads(lines[-2])["info"]
    except (IndexError, ValueError, KeyError):
        log(f"{tag}: no result (exit {r.returncode}); see {err}")
        return None
    if not res.get("correct"):
        log(f"{tag}: run not correct (exit {r.returncode}); see {err}")
        return None
    return {k: v["value"] for k, v in res["metrics"].items()}, info


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def report(workload, pairs, better, names):
    print(f"\n== {workload}: {len(pairs)} pairs "
          f"(A = {names[0]}, B = {names[1]}) ==")
    metrics = sorted({k for a, b in pairs for k in a[0]} & {k for a, b in pairs for k in b[0]})
    print(f"{'metric':34} {'A median [q1, q3]':>28} {'B median [q1, q3]':>28} {'B/A':>6} {'wins A:B':>9}")
    for m in metrics:
        both = [(a[0][m], b[0][m]) for a, b in pairs if m in a[0] and m in b[0]]
        if not both:
            continue
        xa, xb = [x for x, _ in both], [y for _, y in both]
        lower = better.get(m, "lower") == "lower"
        wins_b = sum(1 for x, y in both if (y < x if lower else y > x))
        wins_a = sum(1 for x, y in both if (x < y if lower else x > y))
        qa, qb = quartiles(xa), quartiles(xb)
        ratio = qb[1] / qa[1] if qa[1] else float("nan")
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
        print(f"{m:34} {fmt(qa):>28} {fmt(qb):>28} {ratio:6.3f} {wins_a:>4}:{wins_b:<4}")
    print("steal_frac per run (A, B); * marks a run above", STEAL_FLAG)
    for i, (a, b) in enumerate(pairs):
        sa, sb = (x[1].get("wall", {}).get("steal_frac", float("nan")) for x in (a, b))
        mark = lambda s: "*" if s > STEAL_FLAG else " "
        print(f"  pair {i:2d} seed {a[2]}: {sa:.3f}{mark(sa)} {sb:.3f}{mark(sb)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout A (e.g. the parent commit)")
    ap.add_argument("--change", required=True, help="checkout B")
    ap.add_argument("--workload", action="append", choices=("cdc_trickle", "curation"),
                    help="repeatable; default: every workload of BENCHMARK.json")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=None, help="first seed (default: from the clock)")
    ap.add_argument("--seconds", type=float, default=None,
                    help="per run (default: BENCHMARK.json's run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--logs", default=None, help="dir for each run's stderr (default: a temp dir)")
    a = ap.parse_args()

    checkouts = [os.path.abspath(a.base), os.path.abspath(a.change)]
    spec = json.load(open(os.path.join(checkouts[1], "BENCHMARK.json")))
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    seconds = a.seconds if a.seconds is not None else spec.get("run_seconds", 12)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec.get("per_layer", [])}
    seed0 = a.seed0 if a.seed0 is not None else int(time.time()) % 1000000 * 10
    logs = a.logs or tempfile.mkdtemp(prefix="perf_pairs-")
    os.makedirs(logs, exist_ok=True)
    for c in checkouts:
        check_classpath(c)
    log(f"seeds {seed0}..{seed0 + a.pairs - 1}; logs in {logs}")

    for w in workloads:
        pairs = []
        for i in range(a.pairs):
            seed = seed0 + i
            order = (0, 1) if i % 2 == 0 else (1, 0)
            got = {}
            for side in order:
                r = run_once(checkouts[side], w, seed, seconds, a.trace, logs)
                if r is not None:
                    got[side] = (r[0], r[1], seed)
            if len(got) == 2:
                pairs.append((got[0], got[1]))
            log(f"{w} pair {i + 1}/{a.pairs} (seed {seed}) done")
        if pairs:
            report(w, pairs, better, checkouts)
        else:
            print(f"\n== {w}: no complete pair ==")
    return 0


if __name__ == "__main__":
    sys.exit(main())
