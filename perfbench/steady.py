#!/usr/bin/env python3
"""Steadiness check: run one workload N times in fresh processes.

    python3 perfbench/steady.py --workload NAME [--runs 10] [--first-seed 1]
                                [--trace] [--against FILE]

Each run uses the next seed.  For every end-to-end metric it prints the
median, the first and third quartiles (``statistics.quantiles(n=4)``)
and the spread (q3 - q1) / median against the metric's bound from
BENCHMARK.json.  ``--trace`` adds one traced run and reports the
tracing overhead on ``batch_s``.  ``--against`` compares the medians
with an earlier set saved by this command (under perfbench/.work/steady/).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["report"] = lines[:-1]
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--against")
    args = ap.parse_args(argv)

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = spec["run_seconds"]
    results = []
    for i in range(args.runs):
        seed = args.first_seed + i
        r = one_run(args.workload, seed, seconds, False)
        results.append(r)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} {vals}",
              flush=True)

    summary = {}
    worst = "steady"
    print(f"\n{args.workload}: {args.runs} runs, run_seconds={seconds}")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med, q1, q3, sp = spread(vals)
        summary[m["name"]] = dict(median=med, q1=q1, q3=q3, spread=sp, values=vals)
        if sp <= m["bound"] / 3:
            verdict = "steady"
        elif sp <= m["bound"]:
            verdict = "within bound"
        else:
            verdict = "UNSTEADY"
        if verdict != "steady" and worst != "UNSTEADY":
            worst = verdict
        print(f"  {m['name']:<14} median {med:10.4f} {m['unit']:<5} q1 {q1:10.4f} q3 {q3:10.4f} "
              f"spread {sp:6.3f} bound {m['bound']:.2f}  {verdict}")
    print(f"  overall: {worst}")

    if args.trace:
        t = one_run(args.workload, args.first_seed, seconds, True)
        for line in t["report"]:
            if line.strip().startswith("layer check"):
                print(line)
        print(f"  traced run: correct={t['correct']} failed={t['failed']}/{t['attempted']}")
        traced = t["metrics"]["trace.batch_s"]["value"]
        base = summary["batch_s"]["median"]
        print(f"  tracing overhead on batch_s: {traced:.4f} s traced vs {base:.4f} s "
              f"untraced median ({(traced / base - 1) * 100:+.1f} %)")

    if args.against:
        earlier = json.load(open(args.against))["summary"]
        for m in spec["end_to_end"]:
            a, b = earlier[m["name"]]["median"], summary[m["name"]]["median"]
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            ok = "ok" if worse <= m["bound"] else "WORSE THAN BOUND"
            print(f"  {m['name']:<14} median {a:.4f} -> {b:.4f} ({worse * 100:+.1f} % worse) {ok}")

    out_dir = os.path.join(HERE, ".work", "steady")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.first_seed}-n{args.runs}.json")
    with open(out, "w") as f:
        json.dump({"workload": args.workload, "summary": summary, "runs": results}, f, indent=1)
    print(f"  saved {os.path.relpath(out, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
