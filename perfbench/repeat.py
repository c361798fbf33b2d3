"""Run every workload over several seeds and summarize the spread.

    python3 perfbench/repeat.py --seeds 1-10 --out perfbench/results/local.json
    python3 perfbench/repeat.py --seeds 1 --trace-runs 1 --cpus 1 --workloads batch_replay

Each run is a separate ``run.py`` process, one after another. For each
end-to-end metric the summary gives the median, the quartiles
(``statistics.quantiles(n=4)``) and the spread, the inter-quartile
distance over the median. Traced runs add their per-layer metrics, and
``trace.overhead_ratio``: a traced run's ``trace.replay_s`` over the
untraced ``replay_s`` of the same seed.
Prints one line per metric and writes the whole record as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def seeds_of(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def one_run(workload: str, seed: int, seconds: int, trace: int, env: dict) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, env=env, timeout=600, check=False)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    context = next((json.loads(x)["context"] for x in lines if x.startswith('{"context"')), {})
    log = [x for x in proc.stderr.splitlines() if x.startswith("perfbench:")]
    return {"seed": seed, "trace": trace, "exit": proc.returncode, "wall_s": time.perf_counter() - t0,
            "context": context, "result": result, "log": log}


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    out = {"n": len(values), "median": med}
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3, spread=(q3 - q1) / med if med else None)
    return out


def main() -> int:
    with open(BENCHMARK) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace-runs", type=int, default=0, help="traced runs per workload, after the untraced ones")
    ap.add_argument("--cpus", help="set SPARK_GRAFT_CPUS for the runs")
    ap.add_argument("--out")
    args = ap.parse_args()
    env = dict(os.environ)
    if args.cpus:
        env["SPARK_GRAFT_CPUS"] = args.cpus
    seeds = seeds_of(args.seeds)
    record = {"benchmark": bench["command"], "seconds": args.seconds, "seeds": seeds, "workloads": {}}
    ok = True
    for w in args.workloads.split(","):
        runs = [one_run(w, s, args.seconds, 0, env) for s in seeds]
        runs += [one_run(w, s, args.seconds, 1, env) for s in seeds[: args.trace_runs]]
        metrics: dict[str, list] = {}
        for r in runs:
            ok &= r["exit"] == 0 and r["result"].get("correct", False)
            for k, v in r["result"].get("metrics", {}).items():
                metrics.setdefault(k, []).append(v["value"])
        # tracing cost: each traced pass over the untraced pass of the
        # same seed, both from fresh processes
        untraced = {r["seed"]: r["result"]["metrics"]["replay_s"]["value"] for r in runs
                    if not r["trace"] and "replay_s" in r["result"].get("metrics", {})}
        for r in runs:
            traced = r["result"].get("metrics", {}).get("trace.replay_s")
            if r["trace"] and traced and r["seed"] in untraced:
                metrics.setdefault("trace.overhead_ratio", []).append(traced["value"] / untraced[r["seed"]])
        summary = {k: summarize(v) for k, v in metrics.items()}
        record["workloads"][w] = {"context": runs[0]["context"], "run_count": len(runs),
                                  "summary": summary, "runs": runs}
        for k, s in summary.items():
            print(f"{w:15s} {k:45s} median {s['median']:.6g}  spread {s.get('spread')}  n={s['n']}")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
