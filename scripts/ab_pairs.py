#!/usr/bin/env python3
"""Paired A/B benchmark runs of two checkouts of this repository.

    python3 scripts/ab_pairs.py PARENT CHANGE --workload table_mixed \\
        --seeds 11-20 [--seconds 5] [--trace 0] [--json out.json]

PARENT and CHANGE are two checkout directories (each with its own
`perfbench/`, built from its own sources on first use). For every seed the
script runs `perfbench/run.py` once in each checkout, one after the other;
which side runs first alternates from seed to seed, so a drift of the
machine over the session lands on both sides alike. It then prints, for
every metric the result lines carry (the `end_to_end` metrics of
`BENCHMARK.json` with `--trace 0`, its `per_layer` ones with `--trace 1`):
the parent's and the change's medians, the change's median relative to the
parent's, the parent's interquartile range, how many pairs the change won
(by the metric's `better` direction), each side's quartiles and every
seed's two values.

A run that fails, or prints no result line, is reported and its pair is
left out of the summary. The script only reads the two checkouts'
`BENCHMARK.json` and runs their `perfbench/run.py`; it writes nothing into
either checkout beyond what `run.py` itself writes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds, trace):
    """One `perfbench/run.py` run in `checkout`: its result dict, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", trace]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL,
                       text=True)
    lines = r.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if r.returncode != 0 or not isinstance(result, dict):
        print(f"  {checkout} seed {seed}: run failed (exit {r.returncode})",
              file=sys.stderr)
        return None
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True,
                    help="seed list: ranges and singles, e.g. 11-20,31")
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--json", help="also write every pair's results here")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"]
              for m in spec["per_layer" if a.trace == "1" else "end_to_end"]}

    pairs = []  # (seed, parent result, change result)
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        got = {}
        for side, checkout in order:
            got[side] = run(checkout, a.workload, seed, a.seconds, a.trace)
        ok = all(r is not None and r.get("correct") for r in got.values())
        print(f"seed {seed} ({order[0][0]} first): "
              + ("ok" if ok else "left out (a run failed or was incorrect)"),
              file=sys.stderr)
        if ok:
            pairs.append((seed, got["parent"], got["change"]))
    if not pairs:
        sys.exit("no complete pair")

    print(f"{a.workload}: {len(pairs)} pairs, seeds "
          f"{' '.join(str(s) for s, _, _ in pairs)}, trace {a.trace}")
    print(f"{'metric':<28} {'parent':>12} {'change':>12} {'delta':>8} "
          f"{'parent IQR':>12} {'wins':>6}")
    summary = {}
    for name, direction in better.items():
        ps = [p["metrics"][name]["value"] for _, p, c in pairs
              if name in p["metrics"] and name in c["metrics"]]
        cs = [c["metrics"][name]["value"] for _, p, c in pairs
              if name in p["metrics"] and name in c["metrics"]]
        if not ps:
            continue
        mp, mc = statistics.median(ps), statistics.median(cs)
        q1, q3 = quartiles(ps)
        lower = direction == "lower"
        wins = sum(1 for p, c in zip(ps, cs) if (c < p if lower else c > p))
        delta = (mc - mp) / mp * 100 if mp else float("nan")
        print(f"{name:<28} {mp:>12.4g} {mc:>12.4g} {delta:>+7.1f}% "
              f"{q3 - q1:>12.4g} {wins:>3}/{len(ps)}")
        summary[name] = {"parent_median": mp, "change_median": mc,
                         "delta_pct": delta, "parent_iqr": q3 - q1,
                         "change_wins": wins, "pairs": len(ps),
                         "parent": ps, "change": cs}
    print()
    for name, s in summary.items():
        (p1, p3), (c1, c3) = quartiles(s["parent"]), quartiles(s["change"])
        print(f"{name}: quartiles parent {p1:.4g}-{p3:.4g}, change {c1:.4g}-{c3:.4g}")
        print(f"{' ' * len(name)}  parent " + " ".join(f"{v:.4g}" for v in s["parent"]))
        print(f"{' ' * len(name)}  change " + " ".join(f"{v:.4g}" for v in s["change"]))
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "trace": a.trace,
                       "seeds": [s for s, _, _ in pairs], "metrics": summary},
                      f, indent=1)


if __name__ == "__main__":
    main()
