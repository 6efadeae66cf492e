"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload transcript_job --seed 1 --seconds 1 --trace 0

Sets up once, from cold: ``setup_s`` runs from process start (the
interpreter, the imports, the JVM and Spark context that
``session.get_spark`` starts, the seeded inputs) to the first timed
operation. Then repeats the workload's round until ``--seconds`` have
passed (whole rounds only), checks the last round's outputs, and prints
as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (Spark's event log on, plus the in-process kernel timings); the
workload's own layer metrics go on the ``layers:`` line before it.

Everything the run writes lives under ``.perfbench_tmp/`` at the root
of the checkout and is removed at exit; traced runs leave their spans
and layer metrics under ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(4, os.cpu_count() or 1)
MB = 1 << 20


def parse(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session(work: str, trace: bool):
    from ocr_pipeline_fastapi_latency_optimization_spark.session import get_spark
    from tracing import event_log_conf

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    return get_spark(app_name="perfbench", cpus=CPUS, extra_conf=conf)


def main(argv=None) -> int:
    args = parse(argv)
    sys.path[:0] = [HERE, ROOT]
    # importing the workloads imports the program: a checkout without
    # it fails here, before any process is started
    from tracing import Recorder, RssSampler
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(dir=base, prefix=f"{args.workload}-{args.seed}-")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    spark = None
    try:
        with RssSampler() as rss:
            w = WORKLOADS[args.workload](args.seed, work)
            # nothing is warmed up: the round is what a spark-submit run pays
            t = time.time()
            spark = session(work, bool(args.trace))
            session_s = time.time() - t
            w.write_inputs()
            rec = Recorder(f"{args.workload}-{args.seed}", spark)
            per_round = []
            t_measure = time.time()
            setup_s = t_measure - T0
            while True:
                rec.new_round()
                w.round(spark, rec)
                per_round.append(w.metrics(rec))
                if time.time() - t_measure >= args.seconds:
                    break
            t_end = time.time()
            report = w.report(rec)
            try:
                problems = w.check(spark)
            except Exception as e:  # an output the checks need is missing
                problems = [f"the checks raised {e!r}"]
            spark.stop()
            spark = None
        for p in problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        attempted = w.rounds * w.operations()
        if args.trace:
            values = traced_metrics(
                args, w, rec, work, (t_measure, t_end), session_s,
                statistics.median(r["pass_s"] for r in per_round),
            )
            values["process.peak_rss_mb"] = rss.peak_bytes / MB
        else:
            values = {k: statistics.median(r[k] for r in per_round) for k in per_round[0]}
            values["setup_s"] = setup_s
        units = declared_units("per_layer" if args.trace else "end_to_end")
        if set(values) != set(units):
            raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} differ from BENCHMARK.json")
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
        print("report: " + json.dumps({
            "workload": args.workload, "seed": args.seed, "rounds": w.rounds,
            "setup_s": setup_s, "session_s": session_s, "peak_rss_mb": rss.peak_bytes / MB, **report,
        }))
        print(json.dumps({
            "correct": not problems, "attempted": attempted, "failed": rec.failed, "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm() -> None:
    """End the JVM this process started, and with it the Python workers
    it forked, and wait for it: the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def declared_units(kind: str) -> dict:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics, in
    BENCHMARK.json's order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def traced_metrics(args, w, rec, work, window, session_start_s, pass_s) -> dict:
    """The per-layer metrics of a traced run over the measured ``window``;
    writes spans, event log and layer metrics under .perfbench_out/."""
    import gen
    import kernel
    import layers
    from tracing import EventLog
    from workloads import TranscriptJob

    log_path = EventLog.latest_path(os.path.join(work, "eventlog"))
    log = EventLog(log_path)
    frame, truth = gen.transcripts(args.seed, TranscriptJob.N_CONVS, TranscriptJob.MEAN_TURNS, TranscriptJob.LONG_TURNS)
    sample = frame.sample(n=800, random_state=args.seed)
    k = kernel.measure(
        list(sample["text"]), [truth[(c, int(t))].kind for c, t in zip(sample["conv_id"], sample["turn_idx"])]
    )
    common = layers.common(rec, log, *window, session_start_s)
    common.update({n: v for n, v in k.items() if n.startswith("functions.")})
    common["trace.pass_s"] = pass_s
    detail = layers.DETAIL[args.workload](rec, log, w, k)
    detail["kernel_ms_per_kturn"] = k["kernel_ms_per_kturn"]
    detail["functions.pdf_share_of_kernel"] = k["pdf_share_of_kernel"]
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}")
    rec.write(stem + ".spans.jsonl")
    shutil.copyfile(log_path, stem + ".eventlog.jsonl")
    with open(stem + ".layers.json", "w") as fh:
        json.dump({**common, **detail}, fh, indent=1, sort_keys=True)
    print("layers: " + json.dumps(detail, sort_keys=True))
    return common


if __name__ == "__main__":
    raise SystemExit(main())
