#!/usr/bin/env python3
"""A/B the end-to-end benchmark metrics of two checkouts in alternating pairs.

    python3 tools/ab_pairs.py <parentDir> <changeDir> --workload W --pairs N \
        [--seconds S]

Pair i runs `perfbench/run.py --workload W --seed 1+3i --seconds S
--trace 0` once in each checkout, one after the other; the side that
runs first switches every pair, so slow drift on the host lands on both
sides alike. Each run uses its own checkout's benchmark code and build.

Prints one JSON line: for each end-to-end metric that BENCHMARK.json (in
<changeDir>) declares, each side's median, q1 and q3 over the pairs, and
how many pairs the change side won (ties count for neither side), plus
the seeds and the raw per-pair values. Under "layers" it also gives each
side's median of the report line's per-layer timings (REPORT_KEYS, those
the workload prints), so a speed claim can name the layer it moved.
Progress goes to stderr.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

# report-line keys whose per-side medians are printed: serve request
# latency per kind, handle (cache) build and warm-up time
REPORT_KEYS = ("term_p50_ms", "phrase_p50_ms", "expand_p50_ms", "handle_init_s", "warmup_s")


def run(checkout, workload, seed, seconds):
    """One --trace 0 run; returns its metric values by name, and the
    REPORT_KEYS values its report line holds."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.exit(f"ab_pairs: run failed in {checkout} (seed {seed}):\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    if not result.get("correct", False):
        sys.exit(f"ab_pairs: incorrect responses in {checkout} (seed {seed}): {result}")
    report = json.loads(lines[-2]).get("report", {}) if len(lines) > 1 else {}
    layers = {k: float(report[k]) for k in REPORT_KEYS if k in report}
    return {k: v["value"] for k, v in result["metrics"].items()}, layers


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=18)
    args = ap.parse_args()
    spec = json.loads((Path(args.change) / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}

    seeds = [1 + 3 * i for i in range(args.pairs)]
    runs = {"parent": [], "change": []}
    layers = {"parent": [], "change": []}
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            metrics, layer = run(getattr(args, side), args.workload, seed, args.seconds)
            runs[side].append(metrics)
            layers[side].append(layer)
            print(f"ab_pairs: pair {i + 1}/{args.pairs} seed {seed} {side}: {metrics} {layer}",
                  file=sys.stderr)

    out = {"workload": args.workload, "pairs": args.pairs, "seeds": seeds, "metrics": {}}
    for name, direction in better.items():
        p = [r[name] for r in runs["parent"]]
        c = [r[name] for r in runs["change"]]
        wins = sum(1 for a, b in zip(p, c) if (b > a if direction == "higher" else b < a))
        m = {"better": direction, "change_wins": wins, "parent": p, "change": c}
        for side, xs in (("parent", p), ("change", c)):
            q1, med, q3 = quartiles(xs)
            m[side + "_median"], m[side + "_q1"], m[side + "_q3"] = med, q1, q3
        out["metrics"][name] = m
    out["layers"] = {}
    for key in REPORT_KEYS:
        sides = {side: [l[key] for l in layers[side] if key in l] for side in layers}
        if all(sides.values()):
            out["layers"][key] = {side + "_median": statistics.median(xs)
                                  for side, xs in sides.items()}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
