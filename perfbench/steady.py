#!/usr/bin/env python3
"""Steadiness of the benchmark on one commit.

Runs every workload once per seed (untraced), then prints, per workload and
end-to-end metric, the median, the quartiles and the spread: the distance
between the first and third quartile as a share of the median, computed as
`statistics.quantiles(values, n=4)` gives them. A spread above a third of the
metric's bound in BENCHMARK.json is flagged. With `--traced` it also runs each
workload traced once per seed and reports the tracing overhead: traced minus
untraced median `wall_s`. With `--compare <earlier result file>` it also
prints, per workload and metric, how far this set's median moved from the
earlier set's in the metric's worse direction, and flags a move beyond the
bound: two sets of the same code should not show one.

    python3 perfbench/steady.py --seeds 1-10 [--workloads table_mixed] [--traced]
        [--out perfbench/out/steady.json] [--compare perfbench/out/set1.json]

Run from the repository root. Results go to the `--out` file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out.extend(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.monotonic()
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    took = time.monotonic() - t
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if r.returncode == 0 and lines else None
    if result is None:
        sys.stderr.write(r.stderr[-4000:])
    return result, took


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out", default=os.path.join(BENCH, "out", "steady.json"))
    ap.add_argument("--compare")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"]}
    earlier = {}
    if a.compare:
        with open(a.compare) as f:
            earlier = json.load(f)
    report = {}
    ok = True
    for w in a.workloads.split(","):
        values, took, walls_traced = {}, [], []
        for s in seeds(a.seeds):
            res, t = run(w, s, a.seconds, 0)
            took.append(t)
            if res is None or not res["correct"]:
                print(f"{w} seed {s}: FAILED")
                ok = False
                continue
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{w} seed {s}: {t:.0f} s " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
            if a.traced:
                res, t = run(w, s, a.seconds, 1)
                took.append(t)
                path = os.path.join(BENCH, "out", f"{w}-seed{s}-trace1.json")
                if res is None or not res["correct"]:
                    print(f"{w} seed {s} traced: FAILED")
                    ok = False
                else:
                    with open(path) as f:
                        walls_traced.append(json.load(f)["end_to_end"]["wall_s"]["value"])
        rows = {}
        print(f"\n{w}: {len(took)} runs, {statistics.mean(took):.0f} s per run")
        print(f"  {'metric':22} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
        for k, v in values.items():
            if len(v) < 2:
                continue
            med, q1, q3, sp = spread(v)
            b = bounds.get(k)
            flag = ""
            if b is not None and k != "setup_s" and sp > b / 3:
                flag = "  > bound/3"
            before = earlier.get(w, {}).get("metrics", {}).get(k)
            if before and b is not None:
                # relative move of the median in the metric's worse direction
                worse = (med - before["median"]) / before["median"]
                worse = worse if lower[k] else -worse
                flag += f"  vs earlier {worse:+.3f}" + (" > bound" if worse > b else "")
                ok = ok and worse <= b
            print(f"  {k:22} {med:12.5g} {q1:12.5g} {q3:12.5g} {sp:7.3f} {b if b else '-':>6}{flag}")
            rows[k] = {"median": med, "q1": q1, "q3": q3, "spread": sp, "n": len(v)}
        if walls_traced and "wall_s" in values:
            over = statistics.median(walls_traced) - statistics.median(values["wall_s"])
            print(f"  tracing overhead: traced - untraced median wall_s = {over:+.3f} s")
            rows["trace_overhead_wall_s"] = over
        report[w] = {"metrics": rows, "seconds_per_run": statistics.mean(took)}
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
