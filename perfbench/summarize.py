"""Fold the run records in ``.perfbench_out/`` into ``baseline/<workload>.json``:
per end-to-end metric the median and quartiles over the untraced runs
(one per seed), every run's values and box context, and each traced run's
per-layer breakdown with its tracing overhead.

    python3 perfbench/summarize.py
"""

from __future__ import annotations

import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(os.path.dirname(HERE), ".perfbench_out")


def _load(workload: str, trace: int) -> list[dict]:
    recs = [json.load(open(f)) for f in glob.glob(f"{OUT}/{workload}-seed*-trace{trace}.json")]
    return sorted(recs, key=lambda r: r["seed"])


def main() -> None:
    os.makedirs(os.path.join(HERE, "baseline"), exist_ok=True)
    for workload in ("tier_build", "operator_mix"):
        runs, traced = _load(workload, 0), _load(workload, 1)
        if not runs:
            continue
        summary = {}
        for k in [*runs[0]["e2e"], *runs[0]["named"]]:
            xs = [r["e2e"].get(k, r["named"].get(k)) for r in runs]
            q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
            summary[k] = {"n": len(xs), "median": med, "q1": q1, "q3": q3,
                          "iqr_over_median": (q3 - q1) / med if med else None}
            print(f"{workload:12s} {k:14s} n={len(xs)} median={med:.4f} "
                  f"q1={q1:.4f} q3={q3:.4f} iqr/median={summary[k]['iqr_over_median'] or 0:.3f}")
        untraced = {r["seed"]: r for r in runs}
        rec = {
            "workload": workload,
            "summary": summary,
            "runs": [
                {k: r.get(k) for k in ("seed", "correct", "attempted", "failed", "e2e", "named",
                                       "box", "detail")}
                for r in runs
            ],
            "traced": [
                {
                    "seed": t["seed"],
                    "correct": t.get("correct"),
                    "metrics": {k: v["value"] for k, v in t["metrics"].items()},
                    "layer_totals": t["layers"],
                    "overhead": {
                        k: t[part][k] - untraced[t["seed"]][part][k]
                        for part in ("e2e", "named") for k in t[part]
                    } if t["seed"] in untraced else None,
                    "lines": t["lines"],
                }
                for t in traced
            ],
        }
        with open(os.path.join(HERE, "baseline", f"{workload}.json"), "w") as f:
            json.dump(rec, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
