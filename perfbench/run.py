"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_score --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Prints one line per metric (name, value,
unit, sample count) and, as the last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the spans go to ``.perfbench/trace-<workload>-<seed>.json``.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# a run that cannot finish is cut off before the caller's limit
HARD_LIMIT_S = 170


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    faulthandler.dump_traceback_later(HARD_LIMIT_S, exit=True)
    sys.path.insert(0, ROOT)
    try:
        import spark_iforest_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import stats
    from perfbench.harness import Harness, RssSampler, Tracer
    from perfbench.workloads import WORKLOADS, make_run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work_dir = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    # Python workers import the library and the generator from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    # a SPARK_LOCAL_DIRS set by the caller would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark")
    # spark-submit's launcher JVM would leave a perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""), "-XX:-UsePerfData"]
    ).strip()
    cores = len(os.sched_getaffinity(0))

    tracer = Tracer(bool(args.trace))
    t_session = time.perf_counter()
    h = None
    try:
        with RssSampler() as rss:
            h = Harness(work_dir, cores, tracer)
            session_s = time.perf_counter() - t_session
            run = make_run(h, args.workload, args.seed, args.seconds, cores)
            run.setup()
            t_measure = time.perf_counter()
            run.measure()
            measure_s = time.perf_counter() - t_measure
            if args.trace:
                run.kernels()
                metrics = run.per_layer()
            else:
                metrics = run.end_to_end(rss.peak)
            e2e_traced = run.end_to_end(rss.peak) if args.trace else None
    finally:
        if h is not None:
            h.stop()
        shutil.rmtree(work_dir, ignore_errors=True)

    attempted = len(h.ops)
    failed = sum(not o.ok for o in h.ops)
    print(f"workload {args.workload}  seed {args.seed}  cores {cores}  trace {args.trace}")
    print(f"  session_start_s  {session_s:.3f} s   (once)")
    print(f"  warmup_s         {run.info['warmup_s']:.3f} s   (once)")
    print("  setup reps       " + " ".join(f"{x:.3f}" for x in run.info["setup_s"]) + " s")
    print(f"  measured_s       {measure_s:.3f} s   (timed operations and checks)")
    print(f"  total_s          {time.perf_counter() - t_session:.3f} s")
    kinds, warm = {}, {}
    for o in h.ops:
        if o.ok and o.seconds:
            (warm if o.warm else kinds).setdefault(o.kind, []).append(o.seconds)
    for kind, xs in sorted(kinds.items()):
        tail = stats.tail_percentile(len(xs))
        extra = f", p{tail} {stats.percentile(xs, tail):.4f}" if tail and tail > 50 else ""
        print(
            f"  op {kind:<8} n={len(xs):<3} median {stats.median(xs):.4f} s{extra}"
            f"  (warm-up: {' '.join(f'{x:.3f}' for x in warm.get(kind, []))};"
            f" timed: {' '.join(f'{x:.3f}' for x in xs)})"
        )
    for name, (value, unit) in metrics.items():
        print(f"  {name:<32} {value:.6g} {unit}")
    print(f"  failed_frac                      {failed / attempted:.6g}   ({failed}/{attempted})")
    for err in h.errors:
        print(f"  FAILED {err}")
    print(f"  correct                          {str(failed == 0).lower()}")
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        tracer.write(
            path,
            {
                "workload": args.workload,
                "seed": args.seed,
                "per_layer": {k: v for k, (v, _) in metrics.items()},
                "end_to_end_traced": {k: v for k, (v, _) in e2e_traced.items()},
            },
        )
        print(f"  spans written to {os.path.relpath(path, ROOT)}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
