"""Steadiness check: run the workloads in alternation and compare two sets.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--seed0 1000]
        [--workloads backfill,tail] [--trace-pairs 0]

Each run is a fresh ``perfbench/run.py`` process with its own seed
(set k, run i uses seed ``seed0 + k*runs + i``), workloads interleaved
run by run, each for ``run_seconds`` of ``BENCHMARK.json``. For every
end-to-end metric of every workload it prints the median, the quartiles
(``statistics.quantiles(n=4)``) and the spread (q3 - q1) / median per
set, then checks against ``BENCHMARK.json``: each spread within its
bound, each later set's median no worse than the first set's by more
than the bound, and the failed share of operations identical in every
set.

``--trace-pairs N`` then runs N untraced/traced pairs per workload and
prints the traced run's end-to-end figures and latencies against the
untraced ones (the tracing overhead).
Run from the root of a checkout; exits 1 if a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}\n{p.stderr[-3000:]}")
    res = json.loads(lines[-1])
    res["summary"] = lines[:-1]
    return res


def summary_e2e(res: dict) -> dict:
    """The ``e2e {...}`` summary line: end-to-end figures and latencies,
    printed by traced and untraced runs alike."""
    line = next(x for x in res["summary"] if x.startswith("e2e "))
    return json.loads(line[4:])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def steal_share(res: dict) -> str:
    """The hypervisor's CPU steal share during the run, from the summary."""
    line = next((x for x in res["summary"] if "cpu_steal_share:" in x), "")
    return line.split(":", 1)[-1].strip() or "?"


def compare(name: str, sets: list[list[float]], better: str, bound: float | None) -> bool:
    """Print a metric's median, quartiles and spread per set and each later
    set's change against set 0; False if a bound is broken."""
    ok = True
    meds = []
    for k, xs in enumerate(sets):
        q1, q2, q3 = quartiles(xs)
        spread = (q3 - q1) / q2
        meds.append(q2)
        if bound is None:
            flag = "  (no bound)"
        elif spread > bound:
            flag, ok = "  OVER BOUND", False
        else:
            flag = "" if spread <= bound / 3 else "  (over a third of bound)"
        print(f"  {name:30s} set {k}: median {q2:12.4f} q1 {q1:12.4f} q3 {q3:12.4f} "
              f"spread {spread:6.3f} / bound {bound}{flag}")
    for k in range(1, len(sets)):
        worse = better_worse(better, meds[0], meds[k])
        bad = bound is not None and worse > bound
        ok &= not bad
        print(f"  {name:30s} set {k} vs set 0: {worse:+.3f} worse{'  OVER BOUND' if bad else ''}")
    return ok


def better_worse(better: str, first: float, later: float) -> float:
    """How much worse ``later`` is than ``first``, as a share of ``first``."""
    return (later - first) / first if better == "lower" else (first - later) / first


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--trace-pairs", type=int, default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    e2e = {m["name"]: m for m in bench["end_to_end"]}

    results: dict[str, list[list[dict]]] = {w: [[] for _ in range(args.sets)] for w in workloads}
    for k in range(args.sets):
        for i in range(args.runs):
            seed = args.seed0 + k * args.runs + i
            order = workloads if (k * args.runs + i) % 2 == 0 else workloads[::-1]
            for w in order:
                r = run_once(w, seed, seconds, 0)
                r["seed"] = seed
                results[w][k].append(r)
                figs = summary_e2e(r)
                vals = " ".join(f"{n}={v:.4g}" for n, v in figs.items())
                print(f"set {k} run {i} {w} seed={seed} correct={r['correct']} "
                      f"attempted={r['attempted']} failed={r['failed']} {vals} "
                      f"steal={steal_share(r)}", flush=True)

    ok = True
    print()
    for w in workloads:
        print(f"== {w}")
        shares = set()
        for k in range(args.sets):
            runs = results[w][k]
            if not all(r["correct"] for r in runs):
                print(f"  set {k}: some runs report correct=false")
                ok = False
            shares.add(tuple(sorted({(r["failed"], r["attempted"]) for r in runs})))
        fshare = {tuple(f / a for f, a in s) for s in shares}
        same = len({x for s in fshare for x in s}) == 1
        print(f"  failed share per run: {sorted({x for s in fshare for x in s})} "
              f"{'same in every run' if same else 'DIFFERS'}")
        ok &= same
        for name, m in e2e.items():
            ok &= compare(name, [[r["metrics"][name]["value"] for r in runs]
                                 for runs in results[w]], m["better"], m["bound"])
        # the latencies every summary prints, for reference: no bound
        for name in summary_e2e(results[w][0][0]):
            if name not in e2e:
                compare(name, [[summary_e2e(r)[name] for r in runs] for runs in results[w]],
                        "lower", None)

    if args.trace_pairs:
        print("\n== tracing overhead (traced end-to-end / untraced - 1)")
        for w in workloads:
            diffs: dict[str, list[float]] = {}
            for i in range(args.trace_pairs):
                seed = args.seed0 + 10_000 + i
                plain, traced = (summary_e2e(run_once(w, seed, seconds, t)) for t in (0, 1))
                for n, v in plain.items():
                    diffs.setdefault(n, []).append(traced[n] / v - 1)
            for n, d in diffs.items():
                print(f"  {w:9s} {n:30s} median {statistics.median(d):+.3f} over {len(d)} pairs")
    print("\nall checks hold" if ok else "\nSOME CHECKS FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
