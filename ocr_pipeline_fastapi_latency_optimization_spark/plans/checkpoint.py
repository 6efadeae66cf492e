"""Checkpoint / lineage table + idempotent resume.

The job-store analog (``ThreadSafeJobStore``, ``ocr_app.py:198-305``) and
the smart-resume memoization (skip work whose outputs already exist,
``FileIngestor.py:176, 246-251``) re-expressed at corpus scale:

* work is partitioned into ``NB`` deterministic buckets
  ``pmod(hash(conv_id), NB)`` — conversations never straddle buckets, so
  a bucket is an independently committable unit;
* each completed bucket appends (a) its output rows, partitioned by
  bucket directory, and (b) one lineage row with per-bucket metrics
  (A7/A8 analog: ``n_turns, n_blocks_kept, n_blocks_dropped,
  chars_extracted``) to the checkpoint table, observed on the output
  write itself — the output is never read back;
* a re-run left-anti-joins the bucket list against completed lineage
  rows and recomputes only the missing buckets — exactly-once output by
  bucket-directory overwrite, idempotent metrics by bucket key;
* the bucketed staging copy of the input holds only uncommitted
  buckets: a bucket's staged rows are reaped once its lineage row
  commits, so a finished checkpoint is the manifest and lineage alone.

In production both tables are Iceberg and the lineage append is a MERGE;
the sandbox uses parquet + per-bucket directory overwrite, which has the
same observable semantics (SURVEY §7.4e).
"""

from __future__ import annotations

import os
import time
from typing import List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

DEFAULT_BUCKETS = 32
STATUS_COMPLETED = "completed"
STATUS_FAILED = "failed"  # vocab parity: ocr_app.py:1398
METRICS = ("n_turns", "n_blocks_kept", "n_blocks_dropped", "chars_extracted")
# per-bucket coverage record inside the staging dir. No '=' in the name:
# Spark's partition discovery would take `_x=y` for a partition dir.
_STAGED = "_staged_"


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.hash("conv_id"), F.lit(n_buckets)).cast("int")
    )


def _manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "manifest")


def _fs(spark: SparkSession, path: str):
    """Hadoop FileSystem for ``path`` — works for any scheme the cluster
    knows (local, HDFS, s3a, ...), not just the local sandbox FS."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


def fs_delete(spark: SparkSession, path: str) -> None:
    fs, hpath = _fs(spark, path)
    fs.delete(hpath, True)


def _fs_names(spark: SparkSession, path: str) -> set:
    """Names of the entries directly under ``path`` (empty if absent)."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return set()
    return {st.getPath().getName() for st in fs.listStatus(hpath)}


def _one_row(spark: SparkSession, cols) -> DataFrame:
    """A one-row, one-partition frame of literal columns, built in the
    JVM — no Python worker task, unlike ``createDataFrame``."""
    return spark.range(0, 1, 1, 1).select(*cols)


def input_fingerprint(transcripts: DataFrame) -> tuple:
    """(row count, content hash) of an input frame in ONE columnar scan.
    The hash is the sum of per-row ``xxhash64(conv_id, turn_idx, text)``
    in decimal(38,0) (ANSI-safe; order-independent, so partitioning
    never changes it) — edited TEXT with the same row count is caught,
    the round-2 'fingerprint is only a count' gap (round-3 ADVICE #1)."""
    row = transcripts.agg(
        F.count("*").alias("n"),
        F.sum(
            F.xxhash64("conv_id", "turn_idx", "text").cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"] if row["h"] is not None else 0)


def write_or_check_manifest(
    spark: SparkSession,
    checkpoint_dir: str,
    run_id: str,
    n_buckets: int,
    n_input: int,
    input_fp: str,
) -> None:
    """Pin the bucketing scheme AND the input content fingerprint of a
    checkpointed run. Resuming with a different ``--buckets`` would
    silently re-partition conv_ids while ``read_output`` globs stale
    bucket dirs from the earlier scheme; resuming with *different input*
    — fewer rows, more rows, or the SAME rows with edited text — would
    silently serve the stale staged corpus (a resume reads staging when
    it covers the todo buckets, not the caller's frame). Both are
    duplicated/missing/stale conversations with no error — fail fast
    instead (round-1/2/3 ADVICE).

    Only a genuinely absent manifest means "fresh checkpoint": a
    corrupted or transiently unreadable manifest PROPAGATES its error
    rather than being silently overwritten — that is exactly the moment
    checkpoint state is suspect (round-2 ADVICE #4). A manifest from an
    older layout (missing columns) gets a dedicated error instead of an
    opaque field lookup failure (round-3 ADVICE #2)."""
    path = _manifest_path(checkpoint_dir)
    if not fs_exists(spark, path):
        _one_row(spark, [
            F.lit(run_id).alias("run_id"),
            F.lit(int(n_buckets)).cast("int").alias("n_buckets"),
            F.lit(int(n_input)).cast("long").alias("n_input"),
            F.lit(str(input_fp)).alias("input_fp"),
        ]).write.mode("overwrite").parquet(path)
        return
    row = spark.read.parquet(path).collect()[0]
    missing = {"n_buckets", "n_input", "input_fp"} - set(row.__fields__)
    if missing:
        raise ValueError(
            f"checkpoint {checkpoint_dir} has a manifest from an older "
            f"version of this library (missing {sorted(missing)}); its "
            "guarantees cannot be checked — use a fresh checkpoint dir."
        )
    if int(row["n_buckets"]) != int(n_buckets):
        raise ValueError(
            f"checkpoint {checkpoint_dir} was created with "
            f"--buckets {row['n_buckets']} (run_id={row['run_id']}); "
            f"resuming with --buckets {n_buckets} would corrupt output. "
            "Use the original bucket count or a fresh checkpoint dir."
        )
    if int(row["n_input"]) != int(n_input) or str(row["input_fp"]) != str(input_fp):
        raise ValueError(
            f"checkpoint {checkpoint_dir} was created over different input "
            f"({row['n_input']} rows, content hash {row['input_fp']}; this "
            f"invocation: {n_input} rows, hash {input_fp}). Resume replays "
            "the STAGED input, so a different input frame — including "
            "edited text with identical row count — would be silently "
            "ignored. Use the original input or a fresh checkpoint dir."
        )


def completed_buckets(spark: SparkSession, checkpoint_dir: str) -> List[int]:
    """Bucket ids with a committed 'completed' lineage row."""
    # per-bucket lineage subdirectories: concurrent bucket workers never
    # write the same path, so no commit-protocol races. Absent dir =
    # fresh checkpoint; a present-but-unreadable lineage table propagates
    # its error (same policy as the manifest — suspect state fails fast).
    if not fs_exists(spark, os.path.join(checkpoint_dir, "lineage")):
        return []
    lineage = spark.read.parquet(os.path.join(checkpoint_dir, "lineage", "bucket=*"))
    rows = (
        lineage.filter(F.col("status") == STATUS_COMPLETED)
        .select("bucket")
        .distinct()
        .collect()
    )
    return sorted(r["bucket"] for r in rows)


def _stage(
    spark: SparkSession,
    transcripts: DataFrame,
    staging: str,
    todo: List[int],
    n_buckets: int,
) -> None:
    """Write the todo buckets of the input ONCE, partitioned by bucket,
    then one coverage record per bucket. hash(conv_id) predicates prune
    nothing in parquet, so filtering a (possibly evicted) cache NB
    times degrades to NB full input scans; every per-bucket read of
    staging is directory-pruned (PartitionFilters on `bucket`) instead.
    This is the sandbox fallback for production storage that is
    already bucketed by bucket(conv_id) (DESIGN_100TB.md) — there the
    staging write disappears entirely. The records are written after
    the staging write's _SUCCESS, so a record vouches for a complete
    slice even when the bucket has no rows (and hence no directory)."""
    with_bucket(transcripts, n_buckets).filter(F.col("bucket").isin(todo)).write.partitionBy(
        "bucket"
    ).mode("overwrite").parquet(staging)
    for b in todo:
        fs, record = _fs(spark, os.path.join(staging, f"{_STAGED}{b}"))
        fs.createNewFile(record)


def _reap(spark: SparkSession, staging: str, buckets) -> None:
    """Delete the coverage record, then the staged rows, of each
    committed bucket. Record first: a crash in between leaves rows that
    no record vouches for, which the next run wipes instead of reading."""
    for b in buckets:
        fs_delete(spark, os.path.join(staging, f"{_STAGED}{b}"))
        fs_delete(spark, os.path.join(staging, f"bucket={b}"))


def _commit_lineage(
    spark: SparkSession, checkpoint_dir: str, run_id: str, b: int, metrics
) -> None:
    """Commit bucket ``b``'s 'completed' lineage row. Per-bucket lineage
    dir: the marker commits atomically with the bucket, and concurrent
    workers never share a path."""
    now = F.lit(int(time.time())).cast("timestamp")
    _one_row(spark, [
        F.lit(run_id).alias("run_id"),
        F.lit(b).cast("int").alias("bucket"),
        F.lit(STATUS_COMPLETED).alias("status"),
        *[F.lit(metrics[k]).cast("long").alias(k) for k in METRICS],
        now.alias("created_at"),
        now.alias("updated_at"),
    ]).write.mode("overwrite").parquet(
        os.path.join(checkpoint_dir, "lineage", f"bucket={b}")
    )


def run_with_checkpoint(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str,
    n_buckets: int = DEFAULT_BUCKETS,
    merge_visual: bool = False,
    fail_buckets: Optional[set] = None,
    concurrency: int = 1,
) -> List[int]:
    """Process every not-yet-completed bucket; returns the bucket ids
    processed in this invocation. ``fail_buckets`` injects failures for
    the resume tests (the bucket is attempted, raises mid-flight, and
    must leave no 'completed' lineage row behind).

    Each bucket is one narrow pipeline run over a hash-pruned slice:
    the extract stage is shuffle-free, so per-bucket cost is
    O(bucket rows) and the checkpoint loop adds only O(NB) coordination
    — the property that makes resume cheap at 10^12 turns.

    Staging lifecycle: only the todo buckets are staged, each bucket's
    staged rows are reaped once its lineage row commits, and a run that
    leaves nothing to do removes staging altogether — the checkpoint
    never keeps a second copy of committed input. A todo set of one
    bucket that staging does not cover reads the (fingerprint-checked)
    input directly: staging it would cost the same scan plus a write.
    """
    from concurrent.futures import ThreadPoolExecutor, as_completed

    from ..operators.extraction import extract_pipeline

    # one columnar scan pins (row count, content hash) in the manifest —
    # resume with a different input (even same-cardinality edited text)
    # must fail fast, not silently replay the stale staged corpus
    n_input, input_fp = input_fingerprint(transcripts)
    write_or_check_manifest(
        spark, checkpoint_dir, run_id, n_buckets, n_input, input_fp
    )
    done = set(completed_buckets(spark, checkpoint_dir))
    todo = [b for b in range(n_buckets) if b not in done]
    staging = os.path.join(checkpoint_dir, "staging")
    if not todo:
        # also closes the window between the last lineage commit and
        # its reap
        fs_delete(spark, staging)
        return []

    # staging is reused ONLY behind its _SUCCESS commit marker AND a
    # coverage record for every todo bucket: a crashed or interrupted
    # staging write can leave readable task files (partial commit) that
    # would silently drop conversations on resume (round-2 ADVICE #2).
    # Otherwise → wipe, then restage the todo buckets (or read a lone
    # todo bucket straight from the input). Reading with the input's
    # schema keeps staging whose todo buckets hold no rows readable.
    names = _fs_names(spark, staging)
    recorded = {int(n[len(_STAGED):]) for n in names if n.startswith(_STAGED)}
    staged_schema = StructType(
        transcripts.schema.fields + [StructField("bucket", IntegerType())]
    )
    if "_SUCCESS" in names and recorded >= set(todo):
        # committed buckets whose reap a crash cut short
        left = {int(n.split("=", 1)[1]) for n in names if n.startswith("bucket=")}
        _reap(spark, staging, (left | recorded) - set(todo))
        source = spark.read.schema(staged_schema).parquet(staging)
    else:
        fs_delete(spark, staging)
        if len(todo) == 1:
            source = with_bucket(transcripts, n_buckets)
        else:
            _stage(spark, transcripts, staging, todo, n_buckets)
            source = spark.read.schema(staged_schema).parquet(staging)

    def process_bucket(b: int) -> int:
        part = source.filter(F.col("bucket") == b).drop("bucket")
        out = extract_pipeline(part, merge_visual=merge_visual)
        if fail_buckets and b in fail_buckets:
            raise RuntimeError(f"injected failure in bucket {b}")
        # the lineage metrics are observed on the output write itself,
        # so the written bucket is never read back
        seen = Observation()
        out.observe(
            seen,
            F.count("*").alias("n_turns"),
            *[F.sum(c).cast("long").alias(c) for c in METRICS[1:]],
        ).sortWithinPartitions("conv_id", "turn_idx").write.mode(
            # deterministic file order within every output partition
            # (ordering from data, never the scheduler — INV-1/O3)
            "overwrite"
        ).parquet(os.path.join(out_dir, f"bucket={b}"))
        _commit_lineage(spark, checkpoint_dir, run_id, b, seen.get)
        # only this bucket's staging: concurrent buckets read their own
        # pruned partitions of `source`, listed before any reap
        _reap(spark, staging, [b])
        return b

    processed: List[int] = []
    if concurrency <= 1:
        for b in todo:
            processed.append(process_bucket(b))
    else:
        # the outer worker pool (the reference's two-level pool, O5
        # analog, ocr_app.py:414-443): Spark schedules concurrent
        # jobs from multiple driver threads; each bucket is
        # independent, so failures stop new submissions but already
        # completed buckets stay committed
        with ThreadPoolExecutor(max_workers=concurrency) as pool:
            futures = {pool.submit(process_bucket, b): b for b in todo}
            errors = []
            for fut in as_completed(futures):
                try:
                    processed.append(fut.result())
                except Exception as exc:
                    errors.append(exc)
            if errors:
                raise errors[0]
    # every bucket committed: what is left of staging is its _SUCCESS
    fs_delete(spark, staging)
    return sorted(processed)


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "bucket=*"))


def lineage_metrics(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """The progress/throughput aggregate (A7, ``ocr_app.py:932-952``):
    corpus-level totals from per-bucket lineage rows."""
    lineage = spark.read.parquet(os.path.join(checkpoint_dir, "lineage", "bucket=*"))
    return lineage.filter(F.col("status") == STATUS_COMPLETED).agg(
        F.countDistinct("bucket").alias("buckets_done"),
        *[F.sum(c).alias(c) for c in METRICS],
    )
