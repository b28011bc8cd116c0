"""Repeat the benchmark over seeds and judge its steadiness.

    python3 perfbench/check.py --workloads bulk_score tenants --seeds 1-10 --second 11-20

For each workload, runs ``BENCHMARK.json``'s command once per seed (one
after another, never concurrently), then prints for every end-to-end
metric its median, quartile spread (as a share of the median) and bound.
With ``--second``, a second set of seeds, unseen by the first, is run too,
and each metric's second median must not be worse than the first by more
than its bound. With ``--trace-overhead``, one traced run per seed is
added, and the difference between its traced end-to-end figures and the
untraced medians is printed as the tracing overhead.

Exits 1 when a spread (other than ``setup_s``'s) exceeds its bound, when a
second median is worse than the first by more than the bound, or when a
run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"] or result["failed"]:
        raise RuntimeError(f"{workload} seed {seed}: incorrect run\n{proc.stdout[-2000:]}")
    return result


def worse_by(metric: dict, first: float, second: float) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    change = (second - first) / abs(first)
    return change if metric["better"] == "lower" else -change


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", nargs="+")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--second", default="")
    p.add_argument("--trace-overhead", action="store_true")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    ok = True
    for w in workloads:
        sets = [("first", seeds(args.seeds))] + ([("second", seeds(args.second))] if args.second else [])
        medians = {}
        for label, seed_list in sets:
            values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
            for s in seed_list:
                r = run_once(bench, w, s, 0)
                for name in values:
                    values[name].append(r["metrics"][name]["value"])
                print(f"{w} {label} seed {s}: " + " ".join(
                    f"{k}={r['metrics'][k]['value']:.5g}" for k in values), flush=True)
            print(f"\n{w} ({label} seeds {seed_list[0]}-{seed_list[-1]})")
            print(f"  {'metric':<24} {'median':>12} {'spread':>8} {'bound':>6}")
            for m in bench["end_to_end"]:
                xs = values[m["name"]]
                sp = stats.spread(xs)
                med = stats.median(xs)
                medians.setdefault(m["name"], []).append(med)
                flag = ""
                if sp > m["bound"] and m["name"] != "setup_s":
                    flag, ok = "  SPREAD OVER BOUND", False
                elif sp > m["bound"] / 3:
                    flag = "  (over a third of the bound)"
                print(f"  {m['name']:<24} {med:>12.5g} {sp:>8.4f} {m['bound']:>6}{flag}")
        if args.second:
            print(f"\n{w}: second seeds against first")
            for m in bench["end_to_end"]:
                first, second = medians[m["name"]]
                wb = worse_by(m, first, second)
                flag = ""
                if wb > m["bound"]:
                    flag, ok = "  WORSE THAN BOUND", False
                print(f"  {m['name']:<24} {first:>12.5g} -> {second:<12.5g} worse by {wb:+.4f}{flag}")
        if args.trace_overhead:
            print(f"\n{w}: tracing overhead (traced run minus untraced median)")
            traced: dict[str, list[float]] = {}
            for s in seeds(args.seeds):
                run_once(bench, w, s, 1)
                with open(os.path.join(ROOT, ".perfbench", f"trace-{w}-{s}.json")) as f:
                    for k, v in json.load(f)["end_to_end_traced"].items():
                        traced.setdefault(k, []).append(v)
            for m in bench["end_to_end"]:
                t = stats.median(traced[m["name"]])
                u = medians[m["name"]][0]
                print(f"  {m['name']:<24} {u:>12.5g} -> {t:<12.5g} ({(t - u) / abs(u):+.4f})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
