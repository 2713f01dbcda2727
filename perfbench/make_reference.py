"""Rebuild ``reference.json`` from recorded runs.

    python3 perfbench/make_reference.py [RUNS_JSONL]

Reads the skill scores (station-mean r, RMSE and NSE per variable x
method, as ``checks.py`` computes them from the sunk outputs against
the hourly truth) that ``run.py`` records for every ``paper_workflow``
and ``fleet_disagg`` run in ``.perfbench_out/runs.jsonl``, and writes,
per workload and score, the bounds [min - w, max + w] over the
recorded seeds, with w = max(max - min, 1% of |median|, 1e-3). Record
ten or more seeds of each workload first; rebuild only when a change is
meant to alter skill, or when a workload's size in ``run.py`` changes
(a station mean over more stations spreads less).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_SEEDS = 10
WORKLOADS = ("paper_workflow", "fleet_disagg")


def _bounds(by_seed: dict[int, dict]) -> dict:
    ref = {}
    for op in next(iter(by_seed.values())):
        ref[op] = {}
        for m in ("r", "rmse", "nse"):
            vals = [s[op][m] for s in by_seed.values()]
            lo, hi = min(vals), max(vals)
            w = max(hi - lo, 0.01 * abs(statistics.median(vals)), 1e-3)
            ref[op][m] = [round(lo - w, 4), round(hi + w, 4)]
    return ref


def main() -> int:
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(".perfbench_out", "runs.jsonl")
    by_seed: dict[str, dict[int, dict]] = {w: {} for w in WORKLOADS}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            skill = rec.get("detail", {}).get("skill")
            if rec["workload"] in by_seed and skill:
                by_seed[rec["workload"]][rec["seed"]] = skill
    short = {w: len(s) for w, s in by_seed.items() if len(s) < MIN_SEEDS}
    if short:
        print(f"need runs of {MIN_SEEDS} seeds per workload, have {short}", file=sys.stderr)
        return 1
    parts = []
    for w in WORKLOADS:
        lines = [f"   {json.dumps(op)}: {json.dumps(b)}" for op, b in _bounds(by_seed[w]).items()]
        parts.append(' "%s": {\n  "seeds": %s,\n  "bounds": {\n%s\n  }\n }'
                     % (w, json.dumps(sorted(by_seed[w])), ",\n".join(lines)))
    with open(os.path.join(HERE, "reference.json"), "w") as f:
        f.write("{\n" + ",\n".join(parts) + "\n}\n")
    print("reference.json written from seeds "
          + ", ".join(f"{w} {sorted(s)}" for w, s in by_seed.items()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
