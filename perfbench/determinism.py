"""Counter determinism check: two traced runs of one seed must report
identical exact counters (metrics.EXACT: jobs, stages, tasks, scans,
records, rule and dedup counts, less the workload's metrics.NOT_EXACT_ON).
Timings are listed for reference only. Exits 1 when an exact counter
differs.

    python3 perfbench/determinism.py --workload curate_corpus --out <file>
"""

import argparse
import json
import sys

import metrics
from steady import run_once

SEED = 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for _ in range(2):
        rc, result, _ = run_once(a.workload, SEED, 1)
        if rc != 0 or not result:
            print(f"traced run failed (exit {rc})")
            return 1
        runs.append({k: v["value"] for k, v in result["metrics"].items()})
    exact = metrics.exact(a.workload)
    differ = [k for k in exact if runs[0][k] != runs[1][k]]
    for k in sorted(runs[0]):
        kind = "exact " if k in exact else "timing"
        mark = "DIFFERS" if k in differ else ""
        print(f"{kind} {k:40s} {runs[0][k]:>16.6g} {runs[1][k]:>16.6g} {mark}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seed": SEED, "runs": runs,
                       "exact": exact, "differ": differ}, f, indent=1, sort_keys=True)
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
