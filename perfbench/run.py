"""The benchmark: one closed-loop caller (1 client, no think time) per
workload, driving the library's public entry points the way the CLI does,
on a Spark session with the CLI's settings and master local[k], k <= 4.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps: build the library and the benchmark's JVM side from source
(build.py), write the workload's inputs from the seed (gen.py), then start
the measured process, which sets up (session, inputs registered), makes the
first (cold) call and then warm calls for `--seconds`, at least 2. Every
call's output is checked against the generator's truths and against the
first call's output.

--trace 0 prints the end-to-end metrics. --trace 1 traces the first call
(spans and Spark listeners attached), makes two untraced warm-up calls, then
pairs of one untraced and one traced warm call, alternating which goes
first, and prints the
per-layer metrics (metrics.py), including the tracing overhead. The last line of stdout is one JSON object; the exit code
is 0 only when every call was correct.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

DEADLINE_S = 160  # for everything after the build
CORES = min(4, len(os.sched_getaffinity(0)))

JVM_FLAGS = [
    # spark-submit's default driver heap limit (spark.driver.memory = 1g).
    "-Xmx1g", "-XX:-UsePerfData",
    # Spark on JDK 17 outside spark-submit, as in build.sbt.
    *[a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                  "java.net", "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar")
      for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
]


class RunError(Exception):
    pass


def jvm(classes, work, log, deadline, **opts):
    """Run perfbench.Main once; returns (epoch ns at launch, its JSON)."""
    out = work / "result.json"
    args = [build.java(), *JVM_FLAGS,
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Duser.home={work / 'home'}",
            "-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main",
            "--out", str(out), "--work", str(work), "--master", f"local[{CORES}]"]
    for k, v in opts.items():
        args += [f"--{k}", str(v)]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARVI_")}
    t0 = time.time_ns()
    with open(log, "a") as logf:
        proc = subprocess.Popen(args, stdout=logf, stderr=subprocess.STDOUT, env=env,
                                cwd=work, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RunError("the measured process passed the deadline")
    if rc != 0 or not out.is_file():
        tail = Path(log).read_text()[-3000:]
        raise RunError(f"the measured process exited {rc}:\n{tail}")
    return t0, json.loads(out.read_text())


def check(workload, truth, call, first_digest):
    """Problems with one call's output; empty when it is correct."""
    if "error" in call:
        return [f"threw {call['error']}"]
    f = call["facts"]
    problems = []
    if call["digest"] != first_digest:
        problems.append("output differs from the first call's")
    if workload == "profile_wide":
        want = {"rows": truth["rows"], "duplicate_count": truth["duplicate_count"],
                "nulls": truth["nulls"], "outliers": truth["outliers"]}
    elif workload == "validate_suite":
        want = {"rules": truth["rules"], "errors": []}
    else:
        want = {"docs": truth["docs"], "lm_docs": truth["docs"],
                "kept": truth["kept"], "dropped": truth["dropped"]}
    for k, v in want.items():
        if f.get(k) != v:
            if isinstance(v, dict):
                got = f.get(k) or {}
                diff = {x: (got.get(x), v.get(x)) for x in set(v) | set(got)
                        if got.get(x) != v.get(x)}
                problems.append(f"{k}: (got, want) {diff}")
            else:
                problems.append(f"{k}: got {str(f.get(k))[:200]}, want {str(v)[:200]}")
    return problems


def run(workload, seed, seconds, trace):
    start = time.monotonic()
    classes = build.ensure()
    deadline = time.monotonic() + DEADLINE_S
    work = build.OUT / "run" / workload
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "home", "data"):
        (work / d).mkdir(parents=True)
    log = work / "jvm.log"
    try:
        inputs, truth = gen.generate(workload, seed, str(work / "data"))
        t0, result = jvm(classes, work, log, deadline, workload=workload,
                         inputs=work / "data" / "inputs.json", trace=int(trace),
                         seconds=seconds)
    finally:
        shutil.rmtree(work / "data", ignore_errors=True)

    calls = result["calls"]
    first_digest = calls[0].get("digest")
    failures = []
    failed_calls = 0
    for i, c in enumerate(calls):
        problems = check(workload, truth, c, first_digest)
        failed_calls += bool(problems)
        failures += [f"call {i} ({c['phase']}): {p}" for p in problems]
    attempted = len(calls)

    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    lines = []
    if not trace:
        values, n = metrics.end_to_end(result, inputs["rows"], t0)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        for name, unit in units.items():
            extra = f"  (n={n} warm calls)" if name == "call_s.p50" else ""
            lines.append(f"{name} {values[name]:.6g} {unit}{extra}")
        lines.append(f"failed_frac {failed_calls / attempted:.6g} 1  "
                     f"({failed_calls} of {attempted} calls)")
    else:
        values, unsteady = metrics.per_layer(result, workload)
        for k in unsteady:
            print(f"note: exact counter {k} differs between traced calls", file=sys.stderr)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for name, unit in units.items():
            lines.append(f"{name} {values[name]:.6g} {unit}")
    out = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    return lines, failures, failed_calls, attempted, out, time.monotonic() - start


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        lines, failures, failed, attempted, out, took = run(
            a.workload, a.seed, a.seconds, a.trace)
    except (build.BuildError, RunError, OSError) as e:
        print(f"benchmark did not run: {e}", file=sys.stderr)
        return 2
    print(f"# {a.workload} seed={a.seed} local[{CORES}] closed loop, 1 client, "
          f"trace={a.trace}, {took:.1f} s")
    for line in lines:
        print(line)
    for f in failures:
        print(f"WRONG: {f}", file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
