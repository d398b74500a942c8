"""Steadiness mode: run one workload several times and show whether its
end-to-end metrics are steady enough for their bounds.

    python3 enginebench/steady.py --workload serve_live --runs 10 [--sets 2]
        [--first-seed 1]

For each set, runs ``run.py`` for BENCHMARK.json's ``run_seconds`` once
per seed (seeds ``first-seed`` and up, tracing off) and prints, per
end-to-end metric, the median, the quartiles
(``statistics.quantiles(n=4)``) and the spread ``(q3 - q1) / median``
against the metric's bound (``ok`` when the spread is under a third of
the bound, ``within_bound`` when it is under the bound), the cycles
each run timed and the share of host CPU other guests took in each run.  With ``--sets 2`` the second set reuses the same seeds
and the output compares the two medians against the bound.  It then runs
the first seed twice with tracing on, checks that every count-type
per-layer metric repeats exactly, and reports tracing overhead as traced
minus untraced end-to-end values of that seed.  Each report is one JSON
line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from layers import COUNT_UNITS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} exit {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def summarize(values: list[float], bound: float) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med
    return {"median": med, "q1": q1, "q3": q3, "spread": round(spread, 4), "bound": bound,
            "ok": spread < bound / 3, "within_bound": spread <= bound, "n": len(values),
            "values": values}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=1, choices=(1, 2))
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seeds = list(range(args.first_seed, args.first_seed + args.runs))

    medians = []
    first_untraced = None
    for set_no in range(args.sets):
        per_metric: dict[str, list[float]] = {}
        correct = True
        cycles, steal = [], []
        for seed in seeds:
            ctx, res = run_once(args.workload, seed, seconds, 0)
            if first_untraced is None:
                first_untraced = res
            correct &= res["correct"]
            cycles.append(ctx["context"]["cycles"])
            steal.append(ctx["context"]["host_steal_share"])
            for name, m in res["metrics"].items():
                per_metric.setdefault(name, []).append(m["value"])
        summary = {name: summarize(vals, bounds[name]) for name, vals in per_metric.items()}
        medians.append({n: s["median"] for n, s in summary.items()})
        print(json.dumps({"workload": args.workload, "set": set_no + 1, "seeds": seeds,
                          "correct": correct, "cycles": cycles, "host_steal_share": steal,
                          "metrics": summary}),
              flush=True)
    if args.sets == 2:
        drift = {}
        for name, first in medians[0].items():
            better = next(m["better"] for m in spec["end_to_end"] if m["name"] == name)
            worse = medians[1][name] / first - 1 if better == "lower" else 1 - medians[1][name] / first
            drift[name] = {"first": first, "second": medians[1][name],
                           "worse_by": round(worse, 4), "bound": bounds[name],
                           "ok": worse <= bounds[name]}
        print(json.dumps({"workload": args.workload, "two_sets": drift}), flush=True)

    counts = [m["name"] for m in spec["per_layer"] if m["unit"] in COUNT_UNITS]
    ctx_a, a = run_once(args.workload, seeds[0], seconds, 1)
    ctx_b, b = run_once(args.workload, seeds[0], seconds, 1)
    differ = {n: [a["metrics"][n]["value"], b["metrics"][n]["value"]] for n in counts
              if a["metrics"][n]["value"] != b["metrics"][n]["value"]}
    traced = ctx_a["trace"]["end_to_end_traced"]
    storage = [traced["storage_bytes_per_cell"],
               ctx_b["trace"]["end_to_end_traced"]["storage_bytes_per_cell"]]
    if storage[0] != storage[1]:
        differ["storage_bytes_per_cell"] = storage
    overhead = {n: {"untraced": m["value"], "traced": traced[n],
                    "traced_minus_untraced": traced[n] - m["value"]}
                for n, m in first_untraced["metrics"].items()}
    print(json.dumps({
        "workload": args.workload, "seed": seeds[0],
        "counts_repeat_exactly": not differ, "differing_counts": differ,
        "op_sequence_repeats":
            ctx_a["context"]["op_sequence_sha1"] == ctx_b["context"]["op_sequence_sha1"],
        "trace_accounting": {k: ctx_a["trace"][k] for k in ctx_a["trace"]
                             if k != "end_to_end_traced"},
        "tracing_overhead": overhead,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
