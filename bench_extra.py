"""Optimization-round measurement harness (guide §1.1/§1.4) — NOT the
number of record (`bench.py` is frozen for measurement; this file only
isolates and explains).

Usage:
    python bench_extra.py --list
    python bench_extra.py --plan  <query> [--out plans/r08/x_before.txt]
    python bench_extra.py --time  <query> [--reps 5] [--no-warm]
    python bench_extra.py --plans-all <dir>      # dump every plan
    python bench_extra.py --time-all [--reps 3]  # JSON line like bench.py

Each query builder returns the SAME DataFrame the frozen bench.py times,
built from the same inputs ($SPARK_GRAFT_SF_DIR + the cached synthetic
transcript corpus). Timing uses the noop sink so the computation is
measured, not the sink; jobs are labeled via setJobDescription.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import CORPUS_DIR, CPUS, _force, ensure_corpus, query_builders


def _builders(spark):
    """name -> zero-arg builder returning the DataFrame bench.py times."""
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
        read_transcripts,
    )

    ensure_corpus(spark)
    return query_builders(spark, read_transcripts(spark, CORPUS_DIR))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--list", action="store_true")
    ap.add_argument("--plan", metavar="QUERY")
    ap.add_argument("--out", metavar="PATH")
    ap.add_argument("--time", metavar="QUERY")
    ap.add_argument("--plans-all", metavar="DIR")
    ap.add_argument("--suffix", default="", help="plan filename suffix")
    ap.add_argument("--time-all", action="store_true")
    ap.add_argument("--only", default="", help="comma list for --time-all")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    from ocr_pipeline_fastapi_latency_optimization_spark.session import get_spark

    if args.list:
        # names only — no session needed beyond builder construction
        spark = get_spark(app_name="bench_extra", cpus=CPUS,
                          shuffle_partitions=CPUS)
        print("\n".join(_builders(spark)))
        return

    spark = get_spark(app_name="bench_extra", cpus=CPUS, shuffle_partitions=CPUS)
    builders = _builders(spark)

    def plan_text(name: str) -> str:
        df = builders[name]()
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    if args.plan:
        txt = plan_text(args.plan)
        if args.out:
            os.makedirs(os.path.dirname(args.out), exist_ok=True)
            with open(args.out, "w") as f:
                f.write(txt)
            print(f"wrote {args.out}")
        else:
            print(txt)
        return

    if args.plans_all:
        os.makedirs(args.plans_all, exist_ok=True)
        for name in builders:
            path = os.path.join(args.plans_all, f"{name}{args.suffix}.txt")
            try:
                with open(path, "w") as f:
                    f.write(plan_text(name))
            except Exception as exc:  # pragma: no cover - diagnostics
                print(f"{name}: FAILED {exc}", file=sys.stderr)
        print(f"wrote plans to {args.plans_all}")
        return

    def timed(name: str) -> list:
        fn = builders[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if not args.no_warm:
            _force(fn())
        runs = []
        for _ in range(max(1, args.reps)):
            t = time.time()
            _force(fn())
            runs.append(round(time.time() - t, 3))
        spark.sparkContext.setJobDescription(None)
        return runs

    if args.time:
        runs = timed(args.time)
        print(json.dumps({
            "query": args.time, "runs": runs,
            "median": sorted(runs)[len(runs) // 2],
        }))
        return

    if args.time_all:
        only = [q for q in args.only.split(",") if q]
        out = {}
        for name in (only or builders):
            runs = timed(name)
            out[name] = sorted(runs)[len(runs) // 2]
        print(json.dumps({"queries": out, "total": round(sum(out.values()), 3)}))
        return

    ap.print_help()


if __name__ == "__main__":
    main()
