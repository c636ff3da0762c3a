"""Steadiness runs: run the benchmark once per seed, 1 to 10, on each
workload of BENCHMARK.json and report, per end-to-end metric, the median and the distance between the
first and third quartile as a share of the median (the spread the
benchmark's bounds are checked against; a metric is steady when its
spread is below a third of its bound). Writes the runs and the summary
as JSON.

    python3 perfbench/steady.py --out perfbench/results/steady.json
"""

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

import metrics

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SEEDS = range(1, 11)


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_once(workload, seed, trace):
    """One benchmark run; returns (exit code, its result object, wall s)."""
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(spec()["run_seconds"]), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-2000:])
    return proc.returncode, result, time.monotonic() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    report = {"runs": [], "summary": {}}
    ok = True
    for w in (w["name"] for w in spec()["workloads"]):
        values = {m: [] for m in bounds}
        for seed in SEEDS:
            rc, result, wall = run_once(w, seed, 0)
            report["runs"].append({"workload": w, "seed": seed, "rc": rc,
                                   "wall_s": round(wall, 1), "result": result})
            print(f"{w} seed={seed} rc={rc} wall={wall:.1f}s", flush=True)
            if rc != 0 or not result or not result["correct"]:
                ok = False
                continue
            for m in bounds:
                values[m].append(result["metrics"][m]["value"])
        for m, v in values.items():
            if len(v) < 2:
                continue
            med, _ = metrics.median(v)
            share = metrics.iqr_share(v)
            report["summary"].setdefault(w, {})[m] = {
                "median": med, "iqr_share": share, "bound": bounds[m],
                "steady": share < bounds[m] / 3, "n": len(v)}
            print(f"  {m:16s} median {med:12.5g}  iqr/median {share:.4f}  "
                  f"bound/3 {bounds[m] / 3:.4f}  {'ok' if share < bounds[m] / 3 else 'WIDE'}")
    Path(a.out).parent.mkdir(parents=True, exist_ok=True)
    Path(a.out).write_text(json.dumps(report, indent=1, sort_keys=True) + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
