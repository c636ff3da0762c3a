#!/usr/bin/env python3
"""Paired A/B of the benchmark in perfbench/: a parent revision against the
working tree.

    python3 tools/perfbench_ab.py --parent <rev> --workload <name> \\
        --pairs 10 --seeds 101-110 [--trace-seed N] [--workdir DIR] [--out ab.json]

The parent revision is extracted with `git archive` into a temporary
directory under --workdir (no worktree is registered in the repository).
Both sides build first; then each pair runs `perfbench/run.py --seconds 6`
once on each side, pair i on seed i of --seeds for both. Runs go strictly
one at a time, because concurrent runs contaminate each other's timings,
and the side that goes first alternates from pair to pair.

For each end-to-end metric of BENCHMARK.json it prints both sides' medians
and quartiles, how many pairs the change won, and whether the claim rule
holds: at least 10 pairs, the change wins at least 9 in 10, and the
medians are further apart, in the better direction, than the parent's
interquartile range. It
also prints each side's failed share of calls and whether the first call's
output digest agreed on every seed.

With --trace-seed N, each side also makes one traced run (`--trace 1`) on
seed N after the pairs, and the per-layer metrics are printed side by side:
first the counters that repeat exactly for the same code and seed
(`perfbench/metrics.py`), then the timings of that single run, which are
one sample each and carry no claim, and whether the two traced runs' first-call
digests agree. `--pairs 0` makes only the traced runs.
"""

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN_SECONDS = 6

sys.path.insert(0, str(ROOT / "perfbench"))
import metrics as perf_metrics  # noqa: E402  (perfbench/metrics.py)


def parse_seeds(text):
    """`101-110` or `5,9,12` (or a mix) as a list of ints."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def extract(rev, dest):
    """Write the tree of `rev` into `dest`."""
    dest.mkdir(parents=True)
    archive = subprocess.Popen(["git", "-C", str(ROOT), "archive", rev],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")


def build(side_root):
    subprocess.run([sys.executable, "perfbench/build.py"], cwd=side_root, check=True,
                   stdout=subprocess.DEVNULL)


def run_once(side_root, workload, seed, trace=0):
    """One benchmark run: (metrics, failed share, first-call digest)."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(RUN_SECONDS), "--trace", str(trace)],
        cwd=side_root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode not in (0, 1) or not lines:
        raise SystemExit(f"benchmark did not run in {side_root}:\n{proc.stderr[-3000:]}")
    out = json.loads(lines[-1])
    result = json.loads((side_root / ".bench_build" / "run" / workload /
                         "result.json").read_text())
    metrics = {k: v["value"] for k, v in out["metrics"].items()}
    return metrics, out["failed"] / out["attempted"], result["calls"][0].get("digest")


def quartiles(values):
    """(q1, median, q3), the same quartiles perfbench/metrics.py uses."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def verdict(name, better, parent, change):
    """Summary of one metric over the pairs."""
    lower = better == "lower"
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    pq, cq = quartiles(parent), quartiles(change)
    gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
    iqr = pq[2] - pq[0]
    return {
        "metric": name, "better": better, "pairs": len(parent), "change_wins": wins,
        "parent": {"q1": pq[0], "median": pq[1], "q3": pq[2]},
        "change": {"q1": cq[0], "median": cq[1], "q3": cq[2]},
        "median_change_pct": 100.0 * (cq[1] - pq[1]) / pq[1] if pq[1] else None,
        "claim_holds": len(parent) >= 10 and wins >= 0.9 * len(parent) and gap > iqr,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="", help="one seed per pair: 101-110 or 5,9,12")
    ap.add_argument("--trace-seed", type=int, default=None,
                    help="also make one traced run per side on this seed and print "
                         "the per-layer metrics side by side")
    ap.add_argument("--workdir", default=None, help="where the parent tree is extracted")
    ap.add_argument("--out", default=None, help="also write the summary here as JSON")
    a = ap.parse_args()
    seeds = parse_seeds(a.seeds) if a.seeds else []
    if a.pairs == 0 and a.trace_seed is None:
        raise SystemExit("nothing to run: --pairs 0 without --trace-seed")
    if len(seeds) < a.pairs:
        raise SystemExit(f"{a.pairs} pairs need {a.pairs} seeds, got {len(seeds)}")
    seeds = seeds[:a.pairs]
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    tmp = Path(tempfile.mkdtemp(prefix="perfbench_ab_", dir=a.workdir))
    try:
        sides = {"parent": tmp / "parent", "change": ROOT}
        extract(a.parent, sides["parent"])
        for root in sides.values():
            build(root)
        runs = {"parent": [], "change": []}
        for i, seed in enumerate(seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                runs[side].append(run_once(sides[side], a.workload, seed))
            p, c = runs["parent"][-1][0], runs["change"][-1][0]
            print(f"pair {i + 1}/{len(seeds)} seed={seed} first={order[0]}  call_s.p50 "
                  f"parent {p['call_s.p50']:.3f} change {c['call_s.p50']:.3f}", flush=True)
        traced = {side: run_once(sides[side], a.workload, a.trace_seed, trace=1)
                  for side in sides} if a.trace_seed is not None else None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    summary = {"workload": a.workload, "parent": a.parent, "seeds": seeds}
    if traced is not None:
        print_traced(a.workload, a.trace_seed, spec, {s: traced[s][0] for s in traced})
        digests = {s: traced[s][2] for s in traced}
        same = digests["parent"] == digests["change"] and digests["parent"] is not None
        print(f"first-call digest equal (traced seed {a.trace_seed}): {str(same).lower()}")
        summary["traced"] = {"seed": a.trace_seed, "same_first_call_digest": same,
                             "digest": digests, **{s: traced[s][0] for s in traced}}
    if seeds:
        summary.update(paired_summary(a, seeds, spec, runs))
    if a.out:
        Path(a.out).write_text(json.dumps(summary, indent=1, sort_keys=True) + "\n")
    return 0


def paired_summary(a, seeds, spec, runs):
    """Verdicts over the pairs, printed as a table and returned for --out."""
    summary = {
        "metrics": [verdict(m["name"], m["better"],
                            [r[0][m["name"]] for r in runs["parent"]],
                            [r[0][m["name"]] for r in runs["change"]])
                    for m in spec["end_to_end"]],
        "failed_frac": {s: max(r[1] for r in runs[s]) for s in runs},
        "same_first_call_digest": all(p[2] == c[2] and p[2] is not None
                                      for p, c in zip(runs["parent"], runs["change"])),
        "runs": {s: [{"seed": seed, "metrics": r[0], "failed_frac": r[1], "digest": r[2]}
                     for seed, r in zip(seeds, runs[s])] for s in runs},
    }
    print(f"\n# {a.workload}: parent {a.parent} vs working tree, {len(seeds)} pairs")
    print(f"{'metric':<16}{'parent q1 / median / q3':>33}{'change q1 / median / q3':>33}"
          f"{'med %':>8}{'wins':>7}  claim")
    for v in summary["metrics"]:
        p, c = v["parent"], v["change"]
        pct = v["median_change_pct"]
        print(f"{v['metric']:<16}"
              f"{p['q1']:>11.5g}{p['median']:>11.5g}{p['q3']:>11.5g}"
              f"{c['q1']:>11.5g}{c['median']:>11.5g}{c['q3']:>11.5g}"
              f"{'' if pct is None else f'{pct:+.1f}':>8}"
              f"{v['change_wins']:>4}/{v['pairs']:<2}  {'holds' if v['claim_holds'] else 'no'}")
    print(f"failed_frac max: parent {summary['failed_frac']['parent']:.3g}, "
          f"change {summary['failed_frac']['change']:.3g}")
    print(f"first-call digest equal on every seed: {summary['same_first_call_digest']}")
    return summary


def print_traced(workload, seed, spec, traced):
    """The per-layer metrics of one traced run per side, exact counters first."""
    exact = perf_metrics.exact(workload)
    timings = [m["name"] for m in spec["per_layer"] if m["name"] not in exact]
    print(f"\n# {workload}: one traced run per side, seed {seed}")
    for title, names in (("exact counters", exact), ("timings of this one run", timings)):
        print(f"{title:<36}{'parent':>16}{'change':>16}")
        for name in names:
            p, c = traced["parent"].get(name), traced["change"].get(name)
            mark = "" if p == c else "  *"
            print(f"  {name:<34}{fmt(p):>16}{fmt(c):>16}{mark}")


def fmt(v):
    if v is None:
        return "-"
    return f"{int(v):,}" if float(v).is_integer() else f"{v:.4g}"


if __name__ == "__main__":
    sys.exit(main())
