#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 finbench/compare.py RUNS_A [RUNS_B]

Each argument is a directory of files, one per run, holding what
``finbench/run.py`` printed on standard output. For every workload x
metric pair it prints the median and quartiles of each set, the spread
(interquartile distance over the median) and, given two sets, whether the
medians agree within the metric's bound from ``BENCHMARK.json``.

Exit status 1 when a spread exceeds its metric's bound or two medians
disagree by more than the bound.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(directory: str) -> dict[tuple[str, str], list[float]]:
    """(workload, metric) -> values, over every run file in ``directory``."""
    values: dict[tuple[str, str], list[float]] = {}
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if not os.path.isfile(path):
            continue
        with open(path, errors="replace") as fh:
            lines = fh.read().splitlines()
        if len(lines) < 2 or not lines[-2].startswith('{"provenance"'):
            continue  # not a finished run's output
        workload = json.loads(lines[-2])["provenance"]["workload"]
        for metric, m in json.loads(lines[-1])["metrics"].items():
            values.setdefault((workload, metric), []).append(m["value"])
    return values


def summary(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, spread) as ``statistics.quantiles(n=4)`` gives them."""
    median = statistics.median(values)
    if len(values) < 2:
        return median, median, median, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return median, q1, q3, (q3 - q1) / median if median else 0.0


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    sets = [load_runs(d) for d in argv]
    ok = True
    header = f"{'workload':10} {'metric':12} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7}"
    if len(sets) == 2:
        header += f" | {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'diff':>7}  verdict"
    print(header)
    for key in sorted(sets[0]):
        workload, metric = key
        if metric not in bounds:
            continue
        bound = bounds[metric]["bound"]
        row = f"{workload:10} {metric:12}"
        meds, verdicts = [], []
        for values in sets:
            if key not in values:
                row += " (missing)"
                ok = False
                continue
            median, q1, q3, spread = summary(values[key])
            meds.append(median)
            row += f" {len(values[key]):>3} {median:>12.4f} {q1:>12.4f} {q3:>12.4f} {spread:>7.3f}"
            if spread > bound:
                verdicts.append(f"spread>{bound}")
            if len(sets) == 2 and len(meds) == 1:
                row += " |"
        if len(meds) == 2:
            diff = (meds[1] - meds[0]) / meds[0]
            row += f" {diff:>+7.3f}"
            if abs(diff) > bound:
                verdicts.append(f"medians differ by more than {bound}")
        ok &= not verdicts
        print(row + "  " + ("; ".join(verdicts) or f"ok (bound {bound})"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
