#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload uniform --seeds 1-5
    python3 perfbench/spread.py --workload uniform text_heavy --seeds 1-10 \\
        --traced-seed 1 --out perfbench/results/set1_4core.json
    python3 perfbench/spread.py --workload uniform text_heavy --seeds 1-10 \
        --traced-seed 1 --compare perfbench/results/set1_4core.json \
        --out perfbench/results/set2_4core.json

Each run is a fresh ``run.py`` process, as the benchmark is driven.  For
every end-to-end metric it prints the median over seeds, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread -- the
inter-quartile distance as a share of the median -- next to the metric's
bound from BENCHMARK.json.  ``--traced-seed`` adds one ``--trace 1`` run
per workload; its tracing overhead is the traced wall time minus the
untraced median of the same seed.  ``--compare`` takes an earlier record of
the same code and reports, per metric, how much worse each set's median is
than the other's, against the metric's bound.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, list[str], float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1], time.perf_counter() - t0


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def worse(parent: float, child: float, better: str) -> float:
    """How much worse ``child`` is than ``parent``, as a share of ``parent``."""
    change = (child - parent) / parent
    return change if better == "lower" else -change


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--traced-seed", type=int, default=None)
    ap.add_argument("--out", default=None, help="write the record as JSON here")
    ap.add_argument("--compare", default=None,
                    help="an earlier record of the same code: check both directions")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    record = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for workload in args.workload:
        runs, host = [], None
        for seed in seeds(args.seeds):
            result, lines, elapsed = run_once(workload, seed, bench["run_seconds"], 0)
            host = next(json.loads(ln[5:]) for ln in lines if ln.startswith("host "))
            runs.append({"seed": seed, "elapsed_s": elapsed, "host": host, **result})
            print(f"{workload} seed {seed}: correct={result['correct']} "
                  f"failed={result['failed']} {elapsed:.1f} s"
                  f" wall_s {result['metrics']['wall_s']['value']:.4f}", flush=True)
        metrics = {}
        for name in bounds:
            s = summarize([r["metrics"][name]["value"] for r in runs])
            s["bound"] = bounds[name]
            metrics[name] = s
            flag = ("ok" if s["spread"] < bounds[name] / 3
                    else "within bound" if s["spread"] <= bounds[name] else "OVER BOUND")
            print(f"  {name:<18} median {s['median']:12.4f} q1 {s['q1']:.4f} q3 {s['q3']:.4f}"
                  f" spread {s['spread']:.4f} bound {bounds[name]} {flag}")
        entry = {
            "host": host,
            "seeds": seeds(args.seeds),
            "all_correct": all(r["correct"] for r in runs),
            "elapsed_s": summarize([r["elapsed_s"] for r in runs]),
            "metrics": metrics,
            "runs": runs,
        }
        if args.traced_seed is not None:
            result, lines, elapsed = run_once(workload, args.traced_seed, bench["run_seconds"], 1)
            base = next(r for r in runs if r["seed"] == args.traced_seed)
            trace_file = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed{args.traced_seed}.json")
            with open(trace_file) as fh:
                overhead = json.load(fh)["overhead"]
            # against the --trace 0 run of the same seed: event log + spans
            overhead["untraced_run_wall_s"] = base["metrics"]["wall_s"]["value"]
            overhead["overhead_vs_untraced_run_s"] = (
                overhead["traced_wall_s"] - overhead["untraced_run_wall_s"]
            )
            entry["traced"] = {
                "seed": args.traced_seed,
                "elapsed_s": elapsed,
                "correct": result["correct"],
                "overhead": overhead,
                "metrics": result["metrics"],
                "report": lines,
            }
            print(f"  traced seed {args.traced_seed}: overhead {json.dumps(overhead)} ({elapsed:.1f} s)")
        record["workloads"][workload] = entry
        if args.compare:
            with open(args.compare) as fh:
                earlier = json.load(fh)["workloads"][workload]["metrics"]
            entry["compare"] = {"against": args.compare, "metrics": {}}
            for name in bounds:
                a, b = earlier[name]["median"], metrics[name]["median"]
                c = {"earlier": a, "this": b,
                     "this_worse": worse(a, b, better[name]), "earlier_worse": worse(b, a, better[name])}
                entry["compare"]["metrics"][name] = c
                flag = "ok" if max(c["this_worse"], c["earlier_worse"]) <= bounds[name] else "DISAGREE"
                print(f"  {name:<18} earlier {a:12.4f} this {b:12.4f} this worse by {c['this_worse']:+.4f}"
                      f" earlier worse by {c['earlier_worse']:+.4f} bound {bounds[name]} {flag}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
