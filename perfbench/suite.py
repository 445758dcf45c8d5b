"""Multi-run front ends over ``run.py``.

``report``: each gated workload (``BENCHMARK.json``; others by name)
once untraced and once traced, on one seed.
Prints the six end-to-end metrics of each workload by name and unit
(``failed_frac`` from the run's ``attempted``/``failed``), every
per-layer metric, and the tracing overhead: each traced end-to-end
metric minus its untraced value.

``aa``: the same-code A/A check.  Two sets of runs per workload, their
runs interleaved (A, B, A, B, ...) and each on its own seed; prints each
end-to-end metric's median and quartiles per set, the spread
(interquartile range over median) and how far set B's median is from
set A's, against the bound in ``BENCHMARK.json``.

Usage::

    python3 perfbench/suite.py report [--seed 1] [--workloads ts_batch ...]
    python3 perfbench/suite.py aa [--runs 5] [--seed 100] [--workloads ...]

Raw results go to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    """One ``run.py`` process; its result line, plus failed_frac."""
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        if "FAILED" in line:
            print(f"    {workload} seed {seed}: {line.strip()}")
    result["failed_frac"] = result["failed"] / result["attempted"]
    if not trace:  # printed by run.py but kept out of its result line
        rss = next(line.split() for line in lines
                   if line.split()[:1] == ["peak_rss_mb"])
        result["metrics"]["peak_rss_mb"] = {"value": float(rss[1]),
                                            "unit": rss[2]}
    return result


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def report(spec: dict, args) -> None:
    results = {}
    for w in args.workloads:
        plain = run_once(spec, w, args.seed, 0)
        traced = run_once(spec, w, args.seed, 1)
        results[w] = {"untraced": plain, "traced": traced}
        print(f"\n== {w}  seed {args.seed}  ops {plain['attempted']}"
              f"  correct {plain['correct'] and traced['correct']}")
        print("  end to end:")
        for name, m in plain["metrics"].items():
            print(f"    {name:32s} {m['value']:14.6g} {m['unit']}")
        print(f"    {'failed_frac':32s} {plain['failed_frac']:14.6g} 1")
        print("  per layer (traced run, mean per op):")
        for name, m in traced["metrics"].items():
            if not name.startswith("traced."):
                print(f"    {name:32s} {m['value']:14.6g} {m['unit']}")
        print("  tracing overhead (traced - untraced):")
        for name, m in plain["metrics"].items():
            t = traced["metrics"][f"traced.{name}"]["value"]
            print(f"    {name:32s} {t - m['value']:+14.6g} {m['unit']}"
                  f"  ({(t - m['value']) / m['value']:+.1%})")
    save(results, "report")


def aa(spec: dict, args) -> None:
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    bounds["peak_rss_mb"] = {"unit": "MB", "better": "lower", "bound": None}
    results = {}
    for w in args.workloads:
        sets: dict[str, list[dict]] = {"A": [], "B": []}
        for i in range(args.runs):
            for k, name in enumerate("AB"):
                seed = args.seed + 2 * i + k
                sets[name].append(run_once(spec, w, seed, 0))
        results[w] = sets
        print(f"\n== {w}: {args.runs} runs per set; set medians "
              f"[q1, q3], spread = (q3 - q1) / median")
        for name, m in bounds.items():
            row = []
            meds = {}
            for s in "AB":
                vals = [r["metrics"][name]["value"] for r in sets[s]]
                q1, med, q3 = quartiles(vals)
                meds[s] = med
                row.append(f"{s} {med:10.5g} [{q1:.5g}, {q3:.5g}] "
                           f"spread {(q3 - q1) / med:6.1%}")
            worse = (meds["B"] - meds["A"]) / meds["A"]
            if m["better"] == "higher":
                worse = -worse
            bound = (f"bound {m['bound']:.0%}" if m["bound"] is not None
                     else "not gated")
            print(f"  {name:22s} {m['unit']:7s} " + "  ".join(row)
                  + f"  B worse by {worse:+6.1%} ({bound})")
        failed = sum(r["failed"] for s in sets.values() for r in s)
        print(f"  failed ops over both sets: {failed}")
    save(results, "aa")


def save(results: dict, kind: str) -> None:
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    stamp = time.strftime("%Y%m%d-%H%M%S")
    path = os.path.join(HERE, "out", f"{kind}-{stamp}.json")
    with open(path, "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"\nraw results: {os.path.relpath(path, ROOT)}")


def main() -> None:
    from workloads import WORKLOADS
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    every = sorted(WORKLOADS)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    rep = sub.add_parser("report")
    rep.add_argument("--seed", type=int, default=1)
    rep.add_argument("--workloads", nargs="+", default=names, choices=every)
    a = sub.add_parser("aa")
    a.add_argument("--runs", type=int, default=5)
    a.add_argument("--seed", type=int, default=100)
    a.add_argument("--workloads", nargs="+", default=names, choices=every)
    args = ap.parse_args()
    (report if args.mode == "report" else aa)(spec, args)


if __name__ == "__main__":
    main()
