"""Compare two sets of benchmark runs, metric by metric and workload by
workload, and give each pair one verdict.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR
    python3 perfbench/compare.py --trace-check DIR

Each directory holds run records as ``perfbench/run.py`` writes them under
``.perfbench/results/`` (one JSON file per run). Runs are paired by
(workload, trace, seed); run both sides on the same seeds, alternating
which side runs first. For every (metric, workload) the report gives each
side's median and quartiles, the pairs each side won (ties count for
neither), and a verdict:

- ``improved``: the change won at least 9 in 10 of all pairs run and its
  median is better by more than the base's own quartile distance;
- ``unresolved``: either side's quartile distance, as a share of its
  median, is wider than the metric's bound, and not every change run reads
  better than every base run (a skewed base can have every run beaten yet
  a quartile distance wider than the gain, so not ``improved``);
- ``worse``: the change's median is worse than the base's by more than the
  bound (share of the base median) set in ``BENCHMARK.json``;
- ``unchanged``: none of the above.

Per-layer metrics have no bound: they are ``worse`` by the mirror of the
``improved`` rule, otherwise ``unchanged``.

``--trace-check`` reads traced and untraced runs of one commit and reports,
per workload and over the seeds run both ways, the tracing overhead
(traced minus untraced median round wall time) and whether the spans'
self times account for the untraced round within ``TRACE_TOLERANCE``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

from stats import quartiles, spread

WIN_SHARE = 0.9
#: Span self times must account for the untraced round within this share.
TRACE_TOLERANCE = 0.15


def load_runs(directory: str) -> dict[tuple[str, int], dict[int, dict]]:
    """(workload, trace) -> seed -> run record."""
    out: dict[tuple[str, int], dict[int, dict]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        if path.endswith(".spans.json"):
            continue
        with open(path) as f:
            rec = json.load(f)
        out.setdefault((rec["workload"], rec["trace"]), {})[rec["seed"]] = rec
    return out


def verdict(base: list[float], change: list[float], better: str,
            bound: float | None) -> dict:
    """The comparison of one (metric, workload) over paired runs."""
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (b - c) > 0 for b, c in zip(base, change))
    losses = sum(sign * (c - b) > 0 for b, c in zip(base, change))
    bq1, bmed, bq3 = quartiles(base)
    cq1, cmed, cq3 = quartiles(change)
    gain = sign * (bmed - cmed)
    pairs = len(base)
    if wins >= WIN_SHARE * pairs and gain > bq3 - bq1:
        v = "improved"
    elif bound is None:
        v = "worse" if losses >= WIN_SHARE * pairs and -gain > bq3 - bq1 else "unchanged"
    elif max(spread(base), spread(change)) > bound and not (
            all(sign * (b - c) > 0 for b in base for c in change)):
        v = "unresolved"
    elif -gain > bound * abs(bmed):
        v = "worse"
    else:
        v = "unchanged"
    return {"pairs": pairs, "base": [bq1, bmed, bq3], "change": [cq1, cmed, cq3],
            "change_wins": wins, "base_wins": losses, "bound": bound, "verdict": v}


def compare(base_runs, change_runs, spec: dict) -> list[dict]:
    metrics = {0: spec["end_to_end"], 1: spec["per_layer"]}
    rows = []
    for key in sorted(set(base_runs) & set(change_runs)):
        workload, trace = key
        seeds = sorted(set(base_runs[key]) & set(change_runs[key]))
        if not seeds:
            continue
        for m in metrics[trace]:
            name = m["name"]
            base = [base_runs[key][s]["metrics"][name]["value"] for s in seeds]
            change = [change_runs[key][s]["metrics"][name]["value"] for s in seeds]
            rows.append({"workload": workload, "metric": name, "unit": m["unit"],
                         **verdict(base, change, m["better"], m.get("bound"))})
    return rows


def trace_accounting(runs) -> list[dict]:
    """Per workload: tracing overhead and the share of the untraced round
    that the traced run's span self times account for, over the seeds run
    both traced and untraced (run each such pair back to back, so that a
    change in host speed stays out of the comparison)."""
    rows = []
    for (workload, trace), traced in sorted(runs.items()):
        seeds = sorted(set(traced) & set(runs.get((workload, 0), {})))
        if trace != 1 or not seeds:
            continue
        untraced = statistics.median(
            runs[(workload, 0)][s]["metrics"]["round_s"]["value"] for s in seeds)
        wall = statistics.median(
            statistics.median(traced[s]["round_walls_s"]) for s in seeds)
        layer = statistics.median(
            traced[s]["metrics"]["trace.layer_s"]["value"] for s in seeds)
        rows.append({"workload": workload, "untraced_round_s": untraced,
                     "traced_round_s": wall, "overhead_s": wall - untraced,
                     "span_self_s": layer, "accounted": layer / untraced,
                     "within_tolerance": abs(layer / untraced - 1) <= TRACE_TOLERANCE})
    return rows


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("base", nargs="?")
    p.add_argument("change", nargs="?")
    p.add_argument("--spec", default="BENCHMARK.json")
    p.add_argument("--trace-check", metavar="DIR")
    args = p.parse_args(argv)
    if args.trace_check:
        for row in trace_accounting(load_runs(args.trace_check)):
            print(json.dumps(row))
        return 0
    if not (args.base and args.change):
        p.error("give BASE_DIR and CHANGE_DIR, or --trace-check DIR")
    with open(args.spec) as f:
        spec = json.load(f)
    rows = compare(load_runs(args.base), load_runs(args.change), spec)
    print(f"{'workload':18} {'metric':40} {'n':>3} {'base q1/med/q3':>32} "
          f"{'change q1/med/q3':>32} {'wins c:b':>8}  verdict")
    for r in rows:
        b = "/".join(f"{x:.4g}" for x in r["base"])
        c = "/".join(f"{x:.4g}" for x in r["change"])
        print(f"{r['workload']:18} {r['metric']:40} {r['pairs']:>3} {b:>32} {c:>32} "
              f"{r['change_wins']:>3}:{r['base_wins']:<4}  {r['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
