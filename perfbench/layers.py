"""Per-layer metrics of a traced run, from the benchmark's spans and
Spark's event log.

``common`` gives the metrics every workload reports (the ``per_layer``
list of BENCHMARK.json); ``detail`` gives each workload's own layer
metrics under the names the README lists (printed on the ``layers:``
line, and written with the spans).
"""

from __future__ import annotations

import os
import re
import statistics
from typing import Dict, List

from tracing import EventLog, Recorder, Span

_INSERT = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\s*\n.*?Arguments: file:([^,\s]+)", re.S)
_BUCKET_DIR = re.compile(r"/(run_out|lineage)/bucket=(\d+)")


def _leaf_spans(rec: Recorder, since: float) -> List[Span]:
    parents = {s.parent for s in rec.spans}
    return [s for i, s in enumerate(rec.spans) if i not in parents and s.start >= since]


def common(rec: Recorder, log: EventLog, since: float, until: float, session_s: float) -> Dict[str, float]:
    run = log.summary(log.jobs_in(since, until), since, until)
    leaves = _leaf_spans(rec, since)
    # a name repeats across rounds: count each job in its own leaf span
    per_op = [
        log.summary([j for j in log.jobs_of(s.name) if s.start <= j.start <= s.end], s.start, s.end)
        for s in leaves
    ]
    return {
        "session.start_s": session_s,
        "spark.jobs": run["jobs"],
        "spark.tasks": run["tasks"],
        "spark.executor_run_s": run["executor_s"],
        "spark.executor_cpu_s": run["executor_cpu_s"],
        "spark.gc_s": run["gc_s"],
        "spark.spill_mb": run["spill_mb"],
        "spark.shuffle_write_mb": run["shuffle_write_mb"],
        "spark.outside_jobs_s": run["outside_jobs_s"],
        "ops.jobs_per_op": statistics.mean(p["jobs"] for p in per_op),
        "ops.outside_jobs_s_per_op": statistics.mean(p["outside_jobs_s"] for p in per_op),
    }


def _in(span: Span, log: EventLog, op: str):
    return [j for j in log.jobs_of(op) if span.start <= j.start <= span.end]


def transcript_job(rec: Recorder, log: EventLog, w, kernel: Dict[str, float]) -> Dict[str, float]:
    ck = rec.named("job:checkpoint")[-1]
    jobs = _in(ck, log, "job:checkpoint")
    # classify the run's SQL executions by what they write or read
    kinds: Dict[int, str] = {}
    for exe in log.executions.values():
        if not ck.start <= exe.start <= ck.end:
            continue
        m = _INSERT.search(exe.plan)
        target = m.group(1) if m else ""
        b = _BUCKET_DIR.search(target or exe.plan)
        if target.endswith("/staging"):
            kinds[exe.id] = "staging"
        elif b:
            kinds[exe.id] = f"bucket{b.group(2)}" + (":out" if target and b.group(1) == "run_out" else "")
        elif "xxhash64" in exe.plan and not target:
            kinds[exe.id] = "fingerprint"
    dur = lambda ids: sum(log.executions[i].end - log.executions[i].start for i in ids)
    bucket_s = []
    for b in range(w.BUCKETS):
        ids = [i for i, k in kinds.items() if k.split(":")[0] == f"bucket{b}"]
        if ids:
            bucket_s.append(max(log.executions[i].end for i in ids) - min(log.executions[i].start for i in ids))
    bucket_jobs = [j for j in jobs if kinds.get(j.execution, "").startswith("bucket")]
    out_jobs = [j for j in jobs if kinds.get(j.execution, "").endswith(":out")]
    run = log.summary(jobs, ck.start, ck.end)
    out_tasks = log.tasks_of(out_jobs)
    kturns = len(w.frame) / 1000
    executor_ms = 1000 * sum(t.run_s for t in out_tasks) / kturns
    skews = []
    for stage in {t.stage for t in out_tasks}:
        d = [t.finish - t.launch for t in out_tasks if t.stage == stage]
        if len(d) > 1 and statistics.median(d) > 0:
            skews.append(max(d) / statistics.median(d))
    stitch = rec.named("job:stitch")[-1]
    st = log.summary(_in(stitch, log, "job:stitch"), stitch.start, stitch.end)
    return {
        "checkpoint.fingerprint_s": dur([i for i, k in kinds.items() if k == "fingerprint"]),
        "checkpoint.staging_s": dur([i for i, k in kinds.items() if k == "staging"]),
        "checkpoint.bucket_s_p50": statistics.median(bucket_s),
        "checkpoint.bucket_s_max": max(bucket_s),
        "checkpoint.jobs": run["jobs"],
        "checkpoint.tasks_per_bucket": len(log.tasks_of(bucket_jobs)) / w.BUCKETS,
        "checkpoint.outside_jobs_s": run["outside_jobs_s"],
        "checkpoint.bytes_written_mb": run["bytes_written_mb"],
        "stitch.s": stitch.seconds,
        "stitch.shuffle_write_mb": st["shuffle_write_mb"],
        "extraction.executor_ms_per_kturn": executor_ms,
        "extraction.boundary_ms_per_kturn": executor_ms - kernel["kernel_ms_per_kturn"],
        "extraction.task_skew": statistics.median(skews) if skews else 1.0,
    }


def corpus_dedup(rec: Recorder, log: EventLog, w, kernel) -> Dict[str, float]:
    out = {}
    for q in w.QUERIES:
        span = rec.named(f"query:{q}")[-1]
        s = log.summary(_in(span, log, span.name), span.start, span.end)
        out.update({
            f"{q}.wall_s": s["wall_s"],
            f"{q}.jobs": s["jobs"],
            f"{q}.outside_jobs_s": s["outside_jobs_s"],
            f"{q}.executor_s": s["executor_s"],
            f"{q}.shuffle_write_mb": s["shuffle_write_mb"],
        })
    return out


def index_ingest(rec: Recorder, log: EventLog, w, kernel) -> Dict[str, float]:
    from workloads import du, read_parquet_dir

    out = {}
    k = w.N_BATCHES
    for f in w.FAMILIES:
        probes, appends = rec.named(f"probe:{f}")[-k:], rec.named(f"append:{f}")[-k:]
        ops = [log.summary(_in(s, log, s.name), s.start, s.end) for s in probes + appends]
        name, path = w.tables[f]
        rows = len(read_parquet_dir(path))
        index_scan = [
            sum(t.records_read for t in log.tasks_of(_in(s, log, s.name)) if log.scans.get(t.stage) == {name})
            for s in probes
        ]
        files = [p for _, _, fs in os.walk(path) for p in fs if p.endswith(".parquet")]
        out.update({
            f"index.{f}.build_s": rec.named(f"build:{f}")[-1].seconds,
            f"index.{f}.probe_s_p50": statistics.median(s.seconds for s in probes),
            f"index.{f}.append_s_p50": statistics.median(s.seconds for s in appends),
            f"index.{f}.jobs_per_batch": sum(o["jobs"] for o in ops) / k,
            f"index.{f}.outside_jobs_s_per_batch": sum(o["outside_jobs_s"] for o in ops) / k,
            f"index.{f}.rows_scanned_per_probe": statistics.mean(index_scan) / rows,
            f"index.{f}.files": len(files),
            f"index.{f}.bytes_per_row": du(path) / rows,
        })
    return out


DETAIL = {
    "transcript_job": transcript_job,
    "corpus_dedup": corpus_dedup,
    "index_ingest": index_ingest,
}
