"""Steadiness report: repeat one workload and summarise each metric.

    python3 perfbench/steady.py --workload transcript_job --runs 10 [--seed0 1]
        [--seconds 10] [--traced 2]

Runs ``run.py`` once per seed (seed0, seed0+1, ...), one run at a time,
and prints per end-to-end metric the median, the quartiles (Python's
``statistics.quantiles(n=4)``), the spread (Q3 - Q1) / median, and the
90th percentile only when at least forty samples support it. With
``--traced N`` it also makes N traced runs and reports the tracing
overhead as traced minus untraced ``pass_s`` medians. The last line is
the whole summary as JSON.
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
ROOT = os.path.dirname(HERE)
TAIL_MIN_SAMPLES = 40


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    t = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = time.time() - t
    return result


def summarise(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    out = {"n": len(values), "median": statistics.median(values), "q1": q1, "q3": q3,
           "spread": (q3 - q1) / statistics.median(values), "values": values}
    if len(values) >= TAIL_MIN_SAMPLES:
        out["p90"] = statistics.quantiles(values, n=10)[-1]
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None, help="default: BENCHMARK.json run_seconds")
    p.add_argument("--traced", type=int, default=0)
    args = p.parse_args(argv)
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            seconds = json.load(fh)["run_seconds"]
    runs = [run_once(args.workload, args.seed0 + i, seconds, 0) for i in range(args.runs)]
    names = list(runs[0]["metrics"])
    summary = {
        "workload": args.workload,
        "seeds": [args.seed0, args.seed0 + args.runs - 1],
        "seconds": seconds,
        "correct": all(r["correct"] for r in runs),
        "failed_share": sorted({r["failed"] / r["attempted"] for r in runs}),
        "run_wall_s": summarise([r["wall_s"] for r in runs]),
        "metrics": {n: summarise([r["metrics"][n]["value"] for r in runs]) for n in names},
    }
    for n, s in summary["metrics"].items():
        tail = f" p90 {s['p90']:.4g}" if "p90" in s else ""
        print(f"{n:30s} median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  spread {s['spread']:.3f}{tail}")
    if args.traced:
        traced = [run_once(args.workload, args.seed0 + i, seconds, 1) for i in range(args.traced)]
        t_pass = statistics.median(r["metrics"]["trace.pass_s"]["value"] for r in traced)
        u_pass = summary["metrics"]["pass_s"]["median"]
        summary["trace_overhead"] = {"traced_pass_s": t_pass, "untraced_pass_s": u_pass,
                                     "overhead_s": t_pass - u_pass, "overhead_share": (t_pass - u_pass) / u_pass}
        print(f"tracing overhead on pass_s: {t_pass - u_pass:+.3f} s ({(t_pass - u_pass) / u_pass:+.1%})")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
