"""Tracing overhead and phase coverage, from kept run results.

    python3 perfbench/compare.py [RESULTS_DIR]

Reads the result files runs left in ``.perfbench/results`` and, per
workload, compares the traced runs with the untraced (timing) runs:

- each end-to-end metric's traced median against its untraced median,
  which is the tracing overhead;
- for ``batch_surface``, each entry's traced build + plan + exec
  against its untraced wall-time median, and the untraced quartile
  spread of that wall time as the noise it should fall within.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def main(argv: list[str]) -> int:
    d = argv[0] if argv else os.path.join(os.path.dirname(HERE),
                                          ".perfbench", "results")
    runs: dict[tuple[str, bool], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(path) as fh:
            r = json.load(fh)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    for wl in sorted({w for w, _ in runs}):
        plain, traced = runs.get((wl, False), []), runs.get((wl, True), [])
        print(f"== {wl}: {len(plain)} untraced, {len(traced)} traced runs")
        if not plain or not traced:
            continue
        for m in plain[0]["e2e"]:
            a = statistics.median(r["e2e"][m] for r in plain)
            b = statistics.median(r["e2e"][m] for r in traced)
            print(f"  {m:<18} untraced {a:12.3f}  traced {b:12.3f}  "
                  f"overhead {100 * (b / a - 1):+6.1f}%")
        if wl != "batch_surface":
            continue
        print(f"  {'entry':<24} {'untraced q1..q3 s':>20} {'traced b+p+e s':>15}")
        for name in plain[0]["detail"]["entry_wall_s"]:
            q1, q2, q3 = _quartiles(
                [r["detail"]["entry_wall_s"][name] for r in plain])
            lay = [r["detail"]["layers"] for r in traced]
            phase = statistics.median(
                x[f"entry.{name}.build_s"] + x[f"entry.{name}.plan_s"]
                + x[f"entry.{name}.exec_s"] for x in lay)
            flag = "" if q1 * 0.9 <= phase <= q3 * 1.1 else "  <- outside"
            print(f"  {name:<24} {q1:9.2f}..{q3:<9.2f} {phase:15.2f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
