"""Resume semantics (SURVEY §5: kill after partial commit → re-run →
exactly-once rows, idempotent metrics), streaming analogs, multimodal
plumbing."""

import uuid

import pytest

from pyspark.sql import functions as F

from ocr_pipeline_fastapi_latency_optimization_spark import oracle
from ocr_pipeline_fastapi_latency_optimization_spark.plans import checkpoint as cp
from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
    gen_transcripts,
    transcripts_df,
)

N_BUCKETS = 4


@pytest.fixture()
def corpus():
    return gen_transcripts(n_convs=12, mean_turns=6, seed=11)


def test_resume_recomputes_only_failed_buckets(spark, tmp_path, corpus):
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = transcripts_df(spark, corpus)

    # first run dies inside the last bucket
    with pytest.raises(RuntimeError, match="injected failure"):
        cp.run_with_checkpoint(
            spark, df, out_dir, ckpt, run_id="r1",
            n_buckets=N_BUCKETS, fail_buckets={N_BUCKETS - 1},
        )
    done_after_crash = cp.completed_buckets(spark, ckpt)
    assert len(done_after_crash) == N_BUCKETS - 1

    # resume: only the failed bucket is recomputed
    processed = cp.run_with_checkpoint(
        spark, df, out_dir, ckpt, run_id="r2", n_buckets=N_BUCKETS
    )
    assert processed == [N_BUCKETS - 1]
    assert cp.completed_buckets(spark, ckpt) == list(range(N_BUCKETS))

    # exactly-once: output equals the oracle over the whole corpus
    got = (
        cp.read_output(spark, out_dir)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    want = oracle.extract_frame(corpus)
    assert len(got) == len(want)
    assert got["extracted_text"].tolist() == want["extracted_text"].tolist()

    # idempotent metrics: lineage totals match the data
    m = cp.lineage_metrics(spark, ckpt).collect()[0]
    assert m["buckets_done"] == N_BUCKETS
    assert m["n_turns"] == len(want)
    assert m["chars_extracted"] == int(want["chars_extracted"].sum())


def test_resume_with_different_bucket_count_fails_fast(spark, tmp_path, corpus):
    """ADVICE round-1: a resume that re-partitions conv_ids would mix
    stale and new bucket dirs into corrupted output — the manifest must
    reject it loudly."""
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = transcripts_df(spark, corpus)
    cp.run_with_checkpoint(spark, df, out_dir, ckpt, "r1", n_buckets=N_BUCKETS)
    with pytest.raises(ValueError, match="--buckets"):
        cp.run_with_checkpoint(
            spark, df, out_dir, ckpt, "r2", n_buckets=N_BUCKETS * 2
        )


def test_resume_with_different_input_fails_fast(spark, tmp_path, corpus):
    """Round-2 ADVICE #2 (second half): resume replays the STAGED input,
    so a caller passing a different transcripts frame would be silently
    ignored — the manifest input fingerprint must reject it loudly."""
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = transcripts_df(spark, corpus)
    cp.run_with_checkpoint(spark, df, out_dir, ckpt, "r1", n_buckets=N_BUCKETS)
    with pytest.raises(ValueError, match="different input"):
        cp.run_with_checkpoint(
            spark, df.limit(5), out_dir, ckpt, "r2", n_buckets=N_BUCKETS
        )


def test_resume_with_edited_text_same_rowcount_fails_fast(spark, tmp_path, corpus):
    """Round-3 ADVICE #1: a count-only fingerprint passes when the input
    has the SAME cardinality but edited text — exactly the silent-stale-
    replay the guard documents. The content hash must reject it."""
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = transcripts_df(spark, corpus)
    cp.run_with_checkpoint(spark, df, out_dir, ckpt, "r1", n_buckets=N_BUCKETS)
    edited = df.withColumn(
        "text", F.concat(F.col("text"), F.lit(" EDITED"))
    )
    assert edited.count() == df.count()
    with pytest.raises(ValueError, match="different input"):
        cp.run_with_checkpoint(
            spark, edited, out_dir, ckpt, "r2", n_buckets=N_BUCKETS
        )


def test_old_layout_manifest_gets_dedicated_error(spark, tmp_path, corpus):
    """Round-3 ADVICE #2: a manifest written by an older library version
    (no n_input/input_fp columns) must produce a clear 'older version —
    use a fresh checkpoint dir' error, not an opaque field lookup
    failure."""
    import os

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # fabricate a round-2-era manifest: only (run_id, n_buckets)
    spark.createDataFrame(
        [("old", N_BUCKETS)], "run_id string, n_buckets int"
    ).coalesce(1).write.parquet(os.path.join(ckpt, "manifest"))
    df = transcripts_df(spark, corpus)
    with pytest.raises(ValueError, match="older version"):
        cp.run_with_checkpoint(spark, df, out_dir, ckpt, "r1", n_buckets=N_BUCKETS)


def test_partial_staging_without_success_is_rewritten(spark, tmp_path, corpus):
    """Round-2 ADVICE #2: a crashed staging write can leave readable
    task files without the _SUCCESS commit marker — reusing them would
    silently drop every conversation missing from the partial write.
    The run must wipe and restage, then produce complete output."""
    import os

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = transcripts_df(spark, corpus)
    # simulate the crash: stage only bucket 0's slice, then strip _SUCCESS
    staging = os.path.join(ckpt, "staging")
    cp.with_bucket(df, N_BUCKETS).filter(F.col("bucket") == 0).write.partitionBy(
        "bucket"
    ).parquet(staging)
    os.remove(os.path.join(staging, "_SUCCESS"))

    cp.run_with_checkpoint(spark, df, out_dir, ckpt, "r1", n_buckets=N_BUCKETS)
    got = (
        cp.read_output(spark, out_dir)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    want = oracle.extract_frame(corpus)
    assert len(got) == len(want)
    assert got["extracted_text"].tolist() == want["extracted_text"].tolist()


def test_corrupted_manifest_propagates_not_overwritten(spark, tmp_path, corpus):
    """Round-2 ADVICE #4: a present-but-unreadable manifest means the
    checkpoint state is suspect — the read error must propagate, never
    be swallowed into a fresh manifest write that disables the guard."""
    import os

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    manifest = os.path.join(ckpt, "manifest")
    os.makedirs(manifest)
    junk = os.path.join(manifest, "part-00000.parquet")
    with open(junk, "wb") as fh:
        fh.write(b"not a parquet footer")
    df = transcripts_df(spark, corpus)
    with pytest.raises(Exception):
        cp.run_with_checkpoint(spark, df, out_dir, ckpt, "r1", n_buckets=N_BUCKETS)
    # the corrupted file is still there — nothing overwrote it
    with open(junk, "rb") as fh:
        assert fh.read() == b"not a parquet footer"


def test_staging_gives_partition_pruned_bucket_reads(spark, tmp_path, corpus):
    """One-pass staging (round-1 verdict #7): the bucketed input is
    written once partitioned by bucket, so each per-bucket read is
    directory-pruned — never another full input scan. Also: a resume
    reuses the existing staging instead of rewriting it, staging holds
    only the uncommitted buckets, and a completed run leaves none."""
    import os

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = transcripts_df(spark, corpus)
    with pytest.raises(RuntimeError, match="injected failure"):
        cp.run_with_checkpoint(
            spark, df, out_dir, ckpt, "r1",
            n_buckets=N_BUCKETS, fail_buckets={N_BUCKETS - 1},
        )
    staging = os.path.join(ckpt, "staging")
    subdirs = {d for d in os.listdir(staging) if d.startswith("bucket=")}
    nonempty = {
        f"bucket={r['bucket']}"
        for r in cp.with_bucket(df, N_BUCKETS).select("bucket").distinct().collect()
    }
    # committed buckets are reaped: staging keeps the uncommitted ones
    uncommitted = set(range(N_BUCKETS)) - set(cp.completed_buckets(spark, ckpt))
    assert subdirs == nonempty & {f"bucket={b}" for b in uncommitted}
    stamp = os.path.getmtime(os.path.join(staging, "_SUCCESS"))
    # a per-bucket read plans a PartitionFilters prune on `bucket`
    staged = spark.read.parquet(staging)
    plan = (
        staged.filter(F.col("bucket") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "bucket" in plan
    # a resume reads the failed bucket from staging without rewriting it
    with pytest.raises(RuntimeError, match="injected failure"):
        cp.run_with_checkpoint(
            spark, df, out_dir, ckpt, "r2",
            n_buckets=N_BUCKETS, fail_buckets={N_BUCKETS - 1},
        )
    assert os.path.getmtime(os.path.join(staging, "_SUCCESS")) == stamp
    assert cp.run_with_checkpoint(
        spark, df, out_dir, ckpt, "r3", n_buckets=N_BUCKETS
    ) == [N_BUCKETS - 1]
    # a completed run leaves no staged data behind
    assert not os.path.exists(staging)
    assert sorted(os.listdir(ckpt)) == ["lineage", "manifest"]


def test_concurrent_buckets_match_sequential(spark, tmp_path, corpus):
    df = transcripts_df(spark, corpus)
    seq_out, seq_ckpt = str(tmp_path / "so"), str(tmp_path / "sc")
    par_out, par_ckpt = str(tmp_path / "po"), str(tmp_path / "pc")
    cp.run_with_checkpoint(spark, df, seq_out, seq_ckpt, "r1", n_buckets=N_BUCKETS)
    done = cp.run_with_checkpoint(
        spark, df, par_out, par_ckpt, "r1", n_buckets=N_BUCKETS, concurrency=4
    )
    assert done == list(range(N_BUCKETS))
    a = (
        cp.read_output(spark, seq_out)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
    )
    b = (
        cp.read_output(spark, par_out)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
    )
    assert a["extracted_text"].tolist() == b["extracted_text"].tolist()
    ma = cp.lineage_metrics(spark, seq_ckpt).collect()[0]
    mb = cp.lineage_metrics(spark, par_ckpt).collect()[0]
    assert ma["chars_extracted"] == mb["chars_extracted"]


def test_concurrent_failure_keeps_completed_buckets(spark, tmp_path, corpus):
    df = transcripts_df(spark, corpus)
    out, ckpt = str(tmp_path / "fo"), str(tmp_path / "fc")
    with pytest.raises(RuntimeError, match="injected failure"):
        cp.run_with_checkpoint(
            spark, df, out, ckpt, "r1",
            n_buckets=N_BUCKETS, concurrency=4, fail_buckets={1},
        )
    done = cp.completed_buckets(spark, ckpt)
    assert 1 not in done and len(done) == N_BUCKETS - 1
    resumed = cp.run_with_checkpoint(
        spark, df, out, ckpt, "r2", n_buckets=N_BUCKETS, concurrency=4
    )
    assert resumed == [1]


def test_rerun_after_completion_is_noop(spark, tmp_path, corpus):
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = transcripts_df(spark, corpus)
    first = cp.run_with_checkpoint(
        spark, df, out_dir, ckpt, run_id="r1", n_buckets=N_BUCKETS
    )
    assert first == list(range(N_BUCKETS))
    again = cp.run_with_checkpoint(
        spark, df, out_dir, ckpt, run_id="r2", n_buckets=N_BUCKETS
    )
    assert again == []


def test_multiformat_sources_same_result(spark, tmp_path, corpus):
    """parquet/json/csv containers of the same transcripts produce the
    identical extraction output (format dispatch at the table level)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.extraction import (
        extract_pipeline,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
        read_transcripts,
    )

    base = transcripts_df(spark, corpus)
    paths = {}
    for fmt in ("parquet", "json", "csv"):
        p = str(tmp_path / f"src_{fmt}")
        w = base.write.mode("overwrite")
        if fmt == "csv":
            # the CSV *writer* trims whitespace by default — disable to
            # keep payloads byte-exact through the round trip
            w = (
                w.option("header", True)
                .option("escape", '"')
                .option("ignoreLeadingWhiteSpace", False)
                .option("ignoreTrailingWhiteSpace", False)
            )
        getattr(w, fmt)(p)
        paths[fmt] = p

    outs = {}
    for fmt, p in paths.items():
        outs[fmt] = (
            extract_pipeline(read_transcripts(spark, p, fmt=fmt))
            .toPandas()
            .sort_values(["conv_id", "turn_idx"], kind="stable")["extracted_text"]
            .tolist()
        )
    assert outs["parquet"] == outs["json"]
    assert outs["parquet"] == outs["csv"]


def test_streaming_extract_matches_batch(spark, tmp_path, corpus):
    from ocr_pipeline_fastapi_latency_optimization_spark.streaming.rate_window import (
        streaming_extract,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    src = str(tmp_path / "stream_src")
    transcripts_df(spark, corpus).write.parquet(src)
    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(src)
    name = f"out_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_extract(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = (
        spark.sql(f"SELECT * FROM {name}")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    want = oracle.extract_frame(corpus)
    assert got["extracted_text"].tolist() == want["extracted_text"].tolist()


def test_streaming_rate_counts(spark, tmp_path):
    import pandas as pd
    from datetime import datetime, timedelta

    from ocr_pipeline_fastapi_latency_optimization_spark.streaming.rate_window import (
        streaming_rate_counts,
    )

    base = datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        {"user_id": 1, "ts": base + timedelta(seconds=s)} for s in range(0, 90, 2)
    ] + [{"user_id": 2, "ts": base + timedelta(seconds=s)} for s in (0, 45)]
    src = str(tmp_path / "rate_src")
    spark.createDataFrame(pd.DataFrame(rows)).select(
        "user_id", F.col("ts").cast("timestamp")
    ).write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    name = f"rate_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_rate_counts(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql(f"SELECT * FROM {name}").toPandas()
    # user 1 posts every 2s: a full 60s window holds 30 events → admitted
    u1 = out[out.user_id == 1]
    assert (u1.n_in_window <= 30).all()
    assert u1.n_in_window.max() == 30
    u2 = out[out.user_id == 2]
    assert u2.n_in_window.max() <= 2
    assert bool(u2.admitted.all())


def test_streaming_sessions(spark, tmp_path):
    import pandas as pd
    from datetime import datetime, timedelta

    from ocr_pipeline_fastapi_latency_optimization_spark.streaming.rate_window import (
        streaming_sessions,
    )

    base = datetime(2026, 1, 1, 12, 0, 0)
    rows = (
        [{"user_id": 1, "ts": base + timedelta(minutes=m)} for m in (0, 5, 10)]
        + [{"user_id": 1, "ts": base + timedelta(minutes=m)} for m in (120, 125)]
        + [{"user_id": 2, "ts": base}]
    )
    src = str(tmp_path / "sess_src")
    spark.createDataFrame(pd.DataFrame(rows)).select(
        "user_id", F.col("ts").cast("timestamp")
    ).write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_sessions(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = (
        spark.sql(f"SELECT user_id, n_events FROM {name} ORDER BY user_id, n_events")
        .toPandas()
        .to_dict("records")
    )
    # user 1: one 3-event session + one 2-event session; user 2: singleton
    assert out == [
        {"user_id": 1, "n_events": 2},
        {"user_id": 1, "n_events": 3},
        {"user_id": 2, "n_events": 1},
    ]


def test_streaming_watermark_drops_late_events(spark, tmp_path):
    """Late-data semantics, proven end-to-end: an event arriving in a
    later micro-batch with an event-time older than the watermark must
    be DROPPED from its (already finalized) window — append-mode output
    for that window stays at the on-time count. This is the bounded-state
    guarantee that lets the windowed aggregates run forever at 10^12
    events: state for closed windows is evicted, not kept for stragglers."""
    import pandas as pd
    from datetime import datetime, timedelta

    from ocr_pipeline_fastapi_latency_optimization_spark.streaming.rate_window import (
        streaming_rate_counts,
    )

    base = datetime(2026, 1, 1, 12, 0, 0)
    src = tmp_path / "late_src"
    src.mkdir()
    # batch 1: two on-time events + a clock-advancer one hour ahead
    # (watermark after batch 1 = 13:00 - 10min = 12:50 ≫ the 12:00 windows)
    b1 = pd.DataFrame(
        {
            "user_id": [1, 1, 9],
            "ts": [base, base + timedelta(seconds=10), base + timedelta(hours=1)],
        }
    )
    # batch 2: filler — the watermark computed at the END of a batch takes
    # effect in the NEXT one (measured: a straggler in the batch right
    # after the clock-advancer is still accepted), so one batch must pass
    # before lateness is enforced
    b2 = pd.DataFrame({"user_id": [7], "ts": [base + timedelta(hours=1, seconds=5)]})
    # batch 3: a straggler for the finalized 12:00 windows — must be dropped
    b3 = pd.DataFrame({"user_id": [1], "ts": [base + timedelta(seconds=20)]})
    for i, b in enumerate((b1, b2, b3)):
        spark.createDataFrame(b).select(
            "user_id", F.col("ts").cast("timestamp")
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_rate_counts(stream)
        .writeStream.outputMode("append")  # emits only watermark-closed windows
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for s in p.get("stateOperators", [])
    )
    assert dropped >= 1, "the straggler must be dropped by the watermark"
    out = spark.sql(f"SELECT * FROM {name}").toPandas()
    u1 = out[out.user_id == 1]
    assert len(u1) > 0, "the 12:00 windows must have finalized and emitted"
    # on-time count only: the late 12:00:20 event never reaches the window
    assert u1["n_in_window"].max() == 2, out.to_string()


def test_streaming_stateful_progress_across_batches(spark, tmp_path):
    """State must survive micro-batch boundaries: two files, one trigger
    each (maxFilesPerTrigger=1) — the second batch's output includes the
    first batch's counts."""
    import pandas as pd

    from ocr_pipeline_fastapi_latency_optimization_spark.streaming.rate_window import (
        streaming_conv_progress,
    )

    src = tmp_path / "prog_src"
    src.mkdir()
    ckpt = str(tmp_path / "prog_ckpt")

    def batch(path, texts):
        pdf = pd.DataFrame(
            {
                "conv_id": ["c0"] * len(texts),
                "turn_idx": list(range(len(texts))),
                "role": ["user"] * len(texts),
                "text": texts,
                "tool": [None] * len(texts),
                "ts": [None] * len(texts),
            }
        )
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        from ocr_pipeline_fastapi_latency_optimization_spark.schema import (
            TRANSCRIPTS_SCHEMA,
        )

        spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)

    batch(str(src / "f1"), ["aaaa", "bb"])
    batch(str(src / "f2"), ["cccccc"])

    from ocr_pipeline_fastapi_latency_optimization_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    name = f"prog_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_conv_progress(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql(f"SELECT * FROM {name}").toPandas()
    # cumulative across batches: final row sees all 3 turns / 12 chars
    assert out["n_turns"].max() == 3
    assert out["chars_seen"].max() == 12
    assert len(out) >= 2  # state emitted once per triggering batch


def test_streaming_restart_processes_only_new_files(spark, tmp_path, corpus):
    """Exactly-once continuous ingestion: a file-source stream with a
    checkpointLocation, stopped and restarted after new data lands,
    extracts each turn exactly once (the streaming twin of the batch
    bucket-resume semantics)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.streaming.rate_window import (
        streaming_extract,
    )

    src = tmp_path / "restart_src"
    src.mkdir()
    out = str(tmp_path / "restart_out")
    ckpt = str(tmp_path / "restart_ckpt")

    first = corpus[corpus.conv_id < "conv000010"]
    second = corpus[corpus.conv_id >= "conv000010"]
    transcripts_df(spark, first).coalesce(1).write.parquet(str(src / "f1"))

    def run_once():
        stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(str(src) + "/*")
        q = (
            streaming_extract(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == len(first)

    transcripts_df(spark, second).coalesce(1).write.parquet(str(src / "f2"))
    run_once()  # restart from the same checkpoint
    got = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
    )
    assert len(got) == len(corpus)  # exactly once: no dupes, no gaps
    from ocr_pipeline_fastapi_latency_optimization_spark import oracle

    want = oracle.extract_frame(corpus)
    assert got["extracted_text"].tolist() == want["extracted_text"].tolist()


def test_read_transcripts_rejects_wrong_schema(spark):
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
        read_transcripts,
    )

    with pytest.raises(ValueError, match="lacks columns"):
        read_transcripts(spark, "/root/testdata/sf0.001/documents.parquet")


def test_catalog_parquet_fallback(spark, tmp_path):
    from ocr_pipeline_fastapi_latency_optimization_spark.sources import catalog

    # no Iceberg jars in this container: shim must degrade, not raise
    assert catalog.iceberg_available(spark) is False
    src = "/root/testdata/sf0.001/documents.parquet"
    df = catalog.read_table(spark, src)
    assert df.count() == 500
    out = str(tmp_path / "cat")
    catalog.write_table(df.limit(3), out, mode="replace")
    catalog.write_table(df.limit(2), out, mode="append")
    assert spark.read.parquet(out).count() == 5


def test_multimodal_features_and_sampling(spark):
    from ocr_pipeline_fastapi_latency_optimization_spark.sources import multimodal as mm

    media = mm.gen_media(spark, n=24)
    feats = mm.extract_features(media, codec="fake").toPandas()
    assert len(feats) == 24
    assert (feats["decode_status"] == "ok").all()
    assert all(len(f) == mm.N_FEATURES for f in feats["feat"])
    # deterministic: same payload → same features
    again = mm.extract_features(media, codec="fake").toPandas()
    assert feats.sort_values("media_id")["sha256"].tolist() == again.sort_values(
        "media_id"
    )["sha256"].tolist()

    # real image codec resolves when Pillow is importable; otherwise the
    # registry keeps the honest stub and rows degrade to a status, never
    # a task failure
    out = mm.extract_features(media, codec="image").toPandas()
    if mm._PILImage is None:
        assert (out["decode_status"] == "codec_unavailable").all()
    else:  # pragma: no cover - optional dep present
        # synthetic payloads are not valid images → data-error sentinels
        assert out["decode_status"].str.startswith("error:").all()

    frames = mm.frame_sample_plan(media, every_ms=1000).toPandas()
    assert (frames.groupby("media_id").size() > 1).all()


def test_multimodal_real_audio_codec_roundtrip(spark):
    """The audio codec is real (stdlib wave — no optional dep): a
    genuine PCM WAV decodes to segment-RMS features both directly and
    through the Spark mapInPandas path; a non-WAV payload degrades to a
    per-row error sentinel, never a task failure; and the RMS of a
    ramp-amplitude signal is monotone across segments (i.e. the features
    reflect the actual audio, not the byte digest)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.sources import multimodal as mm

    wav = mm.gen_wav_bytes(n_samples=800)
    feats = mm.CODECS["audio"](wav)
    assert len(feats) == mm.N_FEATURES
    assert all(0.0 <= f <= 1.0 for f in feats)
    assert feats == mm.CODECS["audio"](wav)  # deterministic
    # ramp amplitude → later segments louder
    assert feats[-1] > feats[0]
    assert feats == sorted(feats)

    rows = [
        (0, "audio", "audio/wav", bytearray(wav), None, None, None),
        (1, "audio", "audio/wav", bytearray(b"not a wav at all"), None, None, None),
    ]
    df = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
    out = (
        mm.extract_features(df, codec="audio").toPandas().set_index("media_id")
    )
    assert out.loc[0, "decode_status"] == "ok"
    assert [round(f, 9) for f in out.loc[0, "feat"]] == [
        round(f, 9) for f in feats
    ]
    assert out.loc[1, "decode_status"].startswith("error:")


def test_multimodal_stereo_wav_downmixed_per_frame():
    """Round-4 ADVICE #3: multi-channel WAV must be downmixed per FRAME
    (channel mean via getnchannels()), not read as one interleaved mono
    stream. The stereo fixture offsets its two channels by ∓300 around
    the mono signal, so a correct per-frame mean reproduces the mono
    features EXACTLY — while the old interleaved read would both split
    L/R pairs across segment boundaries and inflate every RMS (the ±300
    offsets add energy unless cancelled within each frame first)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.sources import multimodal as mm

    mono = mm.CODECS["audio"](mm.gen_wav_bytes(n_samples=800))
    stereo = mm.CODECS["audio"](mm.gen_wav_bytes(n_samples=800, n_channels=2))
    assert stereo == mono
    quad = mm.CODECS["audio"](mm.gen_wav_bytes(n_samples=800, n_channels=4))
    assert len(quad) == mm.N_FEATURES
    # 4-channel offsets (-450,+150 pairs…) also cancel to the mono mean
    assert quad == mono


def test_multimodal_real_video_codec_roundtrip(spark):
    """The video codec is real for uncompressed YUV4MPEG2 (stdlib
    parse): a generated clip with a dark→bright luma ramp decodes to
    monotone per-segment mean-luma features, identically direct and
    through the Spark path; compressed/garbage payloads degrade to the
    per-row error sentinel."""
    from ocr_pipeline_fastapi_latency_optimization_spark.sources import multimodal as mm

    clip = mm.gen_y4m_bytes(n_frames=24)
    feats = mm.CODECS["video"](clip)
    assert len(feats) == mm.N_FEATURES
    assert all(0.0 <= f <= 1.0 for f in feats)
    assert feats == mm.CODECS["video"](clip)  # deterministic
    assert feats == sorted(feats) and feats[-1] > feats[0]  # luma ramp

    rows = [
        (0, "video", "video/x-yuv4mpeg", bytearray(clip), 16, 16, 960),
        (1, "video", "video/mp4", bytearray(b"\x00\x00\x00 ftypmp42"), None, None, 5000),
    ]
    df = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
    out = mm.extract_features(df, codec="video").toPandas().set_index("media_id")
    assert out.loc[0, "decode_status"] == "ok"
    assert [round(f, 9) for f in out.loc[0, "feat"]] == [round(f, 9) for f in feats]
    assert out.loc[1, "decode_status"].startswith("error:")


def test_multimodal_real_image_codec_roundtrip(spark, tmp_path):
    """With Pillow present, the image codec must produce real features
    from a real PNG; without it, the registry resolves the stub. Both
    paths keep the Spark plan identical (registry swap only)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.sources import multimodal as mm

    if mm._PILImage is None:
        with pytest.raises(NotImplementedError):
            mm.CODECS["image"](b"\x89PNG")
        return
    # pragma: no cover below - optional dep present
    import io

    img = mm._PILImage.new("L", (32, 32))
    img.putdata([(x * 7 + y * 13) % 256 for y in range(32) for x in range(32)])
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    feats = mm.CODECS["image"](buf.getvalue())
    assert len(feats) == mm.N_FEATURES
    assert all(0.0 <= f <= 1.0 for f in feats)
    assert feats == mm.CODECS["image"](buf.getvalue())  # deterministic


def test_streaming_curate_extracts_then_dedups_in_one_query(spark, tmp_path):
    """The ingest composite (extract stage + dedup-on-ingest) in one
    streaming query: duplicates must be detected on the EXTRACTED text —
    two payloads with different markup but identical main content
    collapse to one row, across micro-batches, while extraction output
    matches the batch oracle for the survivors."""
    import pandas as pd
    from datetime import datetime, timedelta

    from ocr_pipeline_fastapi_latency_optimization_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.streaming.dedup import (
        streaming_curate,
    )

    base = datetime(2026, 1, 1, 12, 0, 0)
    src = tmp_path / "cur_src"
    src.mkdir()

    def batch(path, rows):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "text", "ts"]
        )
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["role"] = "user"
        pdf["tool"] = None
        pdf = pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
        spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.parquet(
            path
        )

    # batch 1: a plain doc; batch 2: the SAME main content wrapped in
    # html boilerplate (extraction strips it → same fingerprint → drop),
    # plus one genuinely new doc
    content = "The quick study of spark plans shows the shuffle boundaries clearly and repeatedly."
    batch(str(src / "b0"), [("c0", 0, content, base)])
    batch(
        str(src / "b1"),
        [
            ("c1", 0, f"<html><body><p>{content}</p></body></html>", base + timedelta(seconds=5)),
            ("c2", 0, "entirely different new content arrives here", base + timedelta(seconds=6)),
        ],
    )
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    name = f"cur_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_curate(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "cur_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql(f"SELECT conv_id, extracted_text FROM {name}").toPandas()
    assert sorted(got["conv_id"]) == ["c0", "c2"], got.to_string()
    # the survivor's extraction equals the batch-path extraction
    from ocr_pipeline_fastapi_latency_optimization_spark.functions.extract import (
        extract_turn_full,
    )

    assert (
        got[got.conv_id == "c0"]["extracted_text"].iloc[0]
        == extract_turn_full(content, 0)["extracted_text"]
    )


def test_streaming_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """Streaming dedup-on-ingest: duplicate fingerprints arriving in a
    LATER micro-batch (maxFilesPerTrigger=1) must be dropped by the
    stateful operator, within the watermark horizon; whitespace/case
    variants canonicalize to the same fingerprint."""
    import pandas as pd
    from datetime import datetime, timedelta

    from ocr_pipeline_fastapi_latency_optimization_spark.streaming.dedup import (
        streaming_dedup,
    )

    base = datetime(2026, 1, 1, 12, 0, 0)
    src = tmp_path / "dd_src"
    src.mkdir()
    batch1 = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["alpha beta gamma", "unique one"],
            "ts": [base, base + timedelta(seconds=1)],
        }
    )
    batch2 = pd.DataFrame(
        {
            "doc_id": [3, 4],
            # doc 3 is a canonical duplicate of doc 1 (case + whitespace)
            "text": ["  Alpha   beta GAMMA ", "unique two"],
            "ts": [base + timedelta(seconds=5), base + timedelta(seconds=6)],
        }
    )
    for i, b in enumerate((batch1, batch2)):
        spark.createDataFrame(b).select(
            "doc_id", "text", F.col("ts").cast("timestamp")
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    name = f"dd_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_dedup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        r["doc_id"] for r in spark.sql(f"SELECT doc_id FROM {name}").collect()
    )
    assert got == [1, 2, 4]  # doc 3 deduped against doc 1's state


def test_streaming_semantic_candidates_probe_static_index(spark, tmp_path):
    """Streaming semantic dedup-on-ingest: arriving docs are embedded +
    centered-banded IN-ROW (bit-identical to the batch
    centered_band_buckets under the index's frozen center — asserted)
    and left-semi joined against the persisted text index. Planted
    near-copies of indexed docs emit candidate rows; novel-vocabulary
    docs emit none; no streaming state is used."""
    import pandas as pd

    from ocr_pipeline_fastapi_latency_optimization_spark.operators import (
        embedding as emb,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.catalog import (
        get_table_properties,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.streaming.dedup import (
        streaming_semantic_candidates,
    )

    def text(i, tag):
        return " ".join(f"{tag}{i}w{j}" for j in range(15))

    existing = spark.createDataFrame(
        [(i, text(i, "base"), "s") for i in range(50)],
        "doc_id long, text string, source string",
    )
    try:
        emb.persist_text_cosine_index(
            spark, existing, "t_stream_idx", str(tmp_path / "sidx"),
            n_storage_buckets=4,
        )
        # incoming batch: 5 near-copies of indexed docs + 5 novel docs
        # + 2 token-less docs (must emit NO band rows — the batch path
        # has no embedding for them either; round-5 review #1)
        rows = [
            (100 + i, text(i, "base") + " x", "2024-01-01 00:00:00")
            for i in range(5)
        ] + [
            (200 + i, text(i, "fresh"), "2024-01-01 00:00:00")
            for i in range(5)
        ] + [
            (300, "", "2024-01-01 00:00:00"),
            (301, "   ", "2024-01-01 00:00:00"),
        ]
        src = str(tmp_path / "in")
        batch_df = spark.createDataFrame(
            rows, "doc_id long, text string, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        batch_df.write.parquet(src)

        # bit-equality of the in-row streaming keys vs the batch banding
        # under the SAME frozen center
        props = get_table_properties(spark, "t_stream_idx")
        totals = emb._center_literals_frame(spark, props)
        want_keys = (
            emb.centered_band_buckets(
                emb.embed_sums(batch_df.select("doc_id", "text")), totals
            )
            .toPandas()
            .sort_values(["vec_id", "band"])
            .reset_index(drop=True)
        )
        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp"
        ).parquet(src)
        q = (
            streaming_semantic_candidates(spark, stream, "t_stream_idx")
            .writeStream.format("memory")
            .queryName("sem_cands")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.table("sem_cands").toPandas()
        # candidate-stage RECALL guarantee: every planted near-copy
        # collides in >= 1 band. (Novel docs may also collide — a band
        # collision is a candidate, not a verdict; with 8 bands x 256
        # keys random texts hit ~1-(1-n_idx/256)^8 of the time. The
        # exact-cosine verify tier is what separates them, below.)
        assert {100, 101, 102, 103, 104} <= set(got["doc_id"].unique()), got

        # tier 2 (micro-batch/batch): exact-cosine verify of candidate
        # docs against the indexed corpus — only the true near-copies
        # survive the 0.95 threshold
        cand_docs = batch_df.join(
            spark.createDataFrame(
                [(int(d),) for d in got["doc_id"].unique()], "doc_id long"
            ),
            "doc_id",
            "left_semi",
        ).select("doc_id", "text")
        both = existing.select("doc_id", "text").unionByName(cand_docs)
        verified = emb.text_near_dup_pairs(both).toPandas()
        flagged = {
            int(b) for a, b in zip(verified["id_a"], verified["id_b"]) if b >= 100
        }
        assert flagged == {100, 101, 102, 103, 104}, verified

        # bit-equality of the in-row streaming banding vs the batch
        # path: the same function runs on a BATCH frame (pandas UDFs are
        # mode-agnostic). The semi-join filters to colliding rows only —
        # every one of them must appear in the JVM-path batch banding
        # (centered_band_buckets under the same frozen center) with an
        # identical (doc_id, band, key) triple.
        all_keys = want_keys.rename(columns={"vec_id": "doc_id"})
        got_all = (
            streaming_semantic_candidates(spark, batch_df, "t_stream_idx")
            .toPandas()
            .sort_values(["doc_id", "band"])
            .reset_index(drop=True)
        )
        assert len(got_all) > 0
        merged = got_all.merge(
            all_keys, on=["doc_id", "band", "key"], how="left", indicator=True
        )
        assert (merged["_merge"] == "both").all(), merged
    finally:
        spark.sql("DROP TABLE IF EXISTS t_stream_idx")


def test_streaming_semantic_verdicts_equal_batch_incremental(spark, tmp_path):
    """Round-5 verdict #6: the in-stream FULL verdict tier. A micro-batch
    flowing through streaming_semantic_verdicts (foreachBatch over the
    same embed→band→prune-probe→JVM-verify kernel) must produce verdicts
    equal to the batch incremental_text_semantic_dedup(index_table=…)
    at the same batch boundary; near-copies of indexed docs come back
    near_dup, novel and token-less docs come back new."""
    import pandas as pd

    from pyspark.sql import functions as F

    from ocr_pipeline_fastapi_latency_optimization_spark.operators import (
        embedding as emb,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.streaming.dedup import (
        streaming_semantic_verdicts,
    )

    def text(i, tag):
        return " ".join(f"{tag}{i}w{j}" for j in range(15))

    existing_rows = [(i, text(i, "base"), "s") for i in range(50)]
    batch_rows = (
        [(100 + i, text(i, "base") + " x", "s") for i in range(5)]  # near-dups
        + [(200 + i, text(i, "fresh"), "s") for i in range(5)]       # novel
        + [(300, "", "s"), (301, "   ", "s")]                        # token-less
    )
    existing = spark.createDataFrame(
        existing_rows, "doc_id long, text string, source string"
    )
    try:
        emb.persist_text_cosine_index(
            spark, existing, "t_sv_idx", str(tmp_path / "svidx"),
            n_storage_buckets=4,
        )
        # the batch-oracle form over the union table at boundary 100
        spark.createDataFrame(
            existing_rows + batch_rows, "doc_id long, text string, source string"
        ).write.parquet(f"{tmp_path}/documents.parquet")
        want = (
            emb.incremental_text_semantic_dedup(
                spark, str(tmp_path), boundary=100, index_table="t_sv_idx"
            )
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert set(want[want["verdict"] == "near_dup"]["doc_id"]) == {
            100, 101, 102, 103, 104
        }
        # the indexed reference runs the stream's own kernel; the
        # boundary-split path (the driver-oracle path) is independent
        split = (
            emb.incremental_text_semantic_dedup(spark, str(tmp_path), boundary=100)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(split, want)

        # stream the same batch through the verdict tier
        src = str(tmp_path / "in")
        spark.createDataFrame(
            [(d, t, "2024-01-01 00:00:00") for d, t, _ in batch_rows],
            "doc_id long, text string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(src)
        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp"
        ).parquet(src)
        out_dir = str(tmp_path / "verdicts")
        q = (
            streaming_semantic_verdicts(
                spark, stream, "t_sv_idx",
                existing.select("doc_id", "text"), out_dir,
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)
        got = (
            spark.read.parquet(out_dir)
            .select("doc_id", "verdict")
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want)

        # at-least-once replay is idempotent (round-6 review #2): a
        # fresh checkpoint reprocesses the same input as batch 0 again —
        # the batch_id-partition overwrite must leave the output
        # byte-identical, not doubled
        q2 = (
            streaming_semantic_verdicts(
                spark, stream, "t_sv_idx",
                existing.select("doc_id", "text"), out_dir,
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_replay"))
            .start()
        )
        q2.awaitTermination(120)
        got2 = (
            spark.read.parquet(out_dir)
            .select("doc_id", "verdict")
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got2, want)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_sv_idx")


def test_streaming_clustered_verdicts_equal_batch_incremental(spark, tmp_path):
    """The clustered family's streaming member: a micro-batch flowing
    through streaming_clustered_verdicts (foreachBatch over the frozen-
    quantizer soft-assign → frozen-center band → prune-probe →
    anchored-pair → JVM-verify kernel) must produce verdicts equal to
    the batch incremental_text_clustered_dedup(index_table=…) at the
    same boundary; replay with a fresh checkpoint stays idempotent."""
    import pandas as pd

    from pyspark.sql import functions as F

    from ocr_pipeline_fastapi_latency_optimization_spark.operators import (
        embedding as emb,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.streaming.dedup import (
        streaming_clustered_verdicts,
    )

    def text(i, tag):
        return " ".join(f"{tag}{i}w{j}" for j in range(15))

    existing_rows = [(i, text(i, "base"), "s") for i in range(50)]
    batch_rows = (
        [(100 + i, text(i, "base") + " x", "s") for i in range(5)]  # near-dups
        + [(200 + i, text(i, "fresh"), "s") for i in range(5)]       # novel
        + [(300, "", "s"), (301, "   ", "s")]                        # token-less
    )
    existing = spark.createDataFrame(
        existing_rows, "doc_id long, text string, source string"
    )
    try:
        emb.persist_text_clustered_index(
            spark, existing, "t_cv_idx", str(tmp_path / "cvidx"),
            n_storage_buckets=4,
        )
        spark.createDataFrame(
            existing_rows + batch_rows, "doc_id long, text string, source string"
        ).write.parquet(f"{tmp_path}/documents.parquet")
        want = (
            emb.incremental_text_clustered_dedup(
                spark, str(tmp_path), boundary=100, index_table="t_cv_idx"
            )
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert set(want[want["verdict"] == "near_dup"]["doc_id"]) == {
            100, 101, 102, 103, 104
        }
        # the indexed reference runs the stream's own kernel; the
        # boundary-split path (the driver-oracle path) is independent
        split = (
            emb.incremental_text_clustered_dedup(spark, str(tmp_path), boundary=100)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(split, want)

        src = str(tmp_path / "in")
        spark.createDataFrame(
            [(d, t, "2024-01-01 00:00:00") for d, t, _ in batch_rows],
            "doc_id long, text string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(src)
        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp"
        ).parquet(src)
        out_dir = str(tmp_path / "verdicts")
        q = (
            streaming_clustered_verdicts(
                spark, stream, "t_cv_idx",
                existing.select("doc_id", "text"), out_dir,
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)
        got = (
            spark.read.parquet(out_dir)
            .select("doc_id", "verdict")
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want)

        # replay idempotence (fresh checkpoint, same batch 0)
        q2 = (
            streaming_clustered_verdicts(
                spark, stream, "t_cv_idx",
                existing.select("doc_id", "text"), out_dir,
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_replay"))
            .start()
        )
        q2.awaitTermination(120)
        got2 = (
            spark.read.parquet(out_dir)
            .select("doc_id", "verdict")
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got2, want)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_cv_idx")


def test_multimodal_compression_envelopes_roundtrip(spark):
    """Stdlib compression envelopes are decoded for REAL: a
    gzip/bz2/xz-wrapped WAV (and gzip-wrapped Y4M) produces features
    bit-identical to the uncompressed payload, both directly and through
    the Spark mapInPandas path; a decompression bomb degrades to the
    per-row error sentinel, never an executor failure."""
    import bz2
    import gzip
    import lzma

    from ocr_pipeline_fastapi_latency_optimization_spark.sources import multimodal as mm

    wav = mm.gen_wav_bytes(n_samples=800)
    base = mm.CODECS["audio"](wav)
    assert mm.CODECS["audio"](gzip.compress(wav)) == base
    assert mm.CODECS["audio"](bz2.compress(wav)) == base
    assert mm.CODECS["audio"](lzma.compress(wav)) == base
    clip = mm.gen_y4m_bytes(n_frames=8)
    assert mm.CODECS["video"](gzip.compress(clip)) == mm.CODECS["video"](clip)

    rows = [
        (0, "audio", "audio/wav+gzip", bytearray(gzip.compress(wav)), None, None, None),
        (1, "audio", "audio/wav+xz", bytearray(lzma.compress(wav)), None, None, None),
        # a 64 MiB+ zero bomb compresses to ~64 KiB — must sentinel, not OOM
        (2, "audio", "audio/wav+gzip",
         bytearray(gzip.compress(b"\x00" * (mm.MAX_DECOMPRESSED_BYTES + 1024))),
         None, None, None),
    ]
    df = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
    out = mm.extract_features(df, codec="audio").toPandas().set_index("media_id")
    assert out.loc[0, "decode_status"] == "ok"
    assert out.loc[1, "decode_status"] == "ok"
    assert [round(f, 9) for f in out.loc[0, "feat"]] == [round(f, 9) for f in base]
    # the sentinel records the exception TYPE (ValueError from the bomb
    # guard), proving the row degraded instead of inflating 64 MiB
    assert out.loc[2, "decode_status"] == "error:ValueError"


def test_streaming_bloom_verdicts_match_batch_probe(spark, tmp_path):
    """The streaming membership tier (round-8 rewrite — r7 verdict #1):
    foreachBatch over the shared broadcast-join bloom kernel. Verdicts
    written per batch_id partition equal the batch
    bloom_dedup_probe(index_table=...) on the same docs — including a
    canonical-form duplicate and a novel doc; a replayed micro-batch
    (same batch re-handled) leaves the output unchanged (partition
    overwrite idempotence)."""
    import pandas as pd
    from datetime import datetime, timedelta

    from ocr_pipeline_fastapi_latency_optimization_spark.operators import dedup
    from ocr_pipeline_fastapi_latency_optimization_spark.streaming.dedup import (
        streaming_bloom_verdicts,
    )

    base = datetime(2026, 1, 1, 12, 0, 0)
    corpus = spark.createDataFrame(
        [(i, f"corpus document {i} body") for i in range(50)],
        "doc_id long, text string",
    )
    name = f"blm_{uuid.uuid4().hex[:8]}"
    try:
        dedup.persist_bloom_filter(
            spark, corpus, name, str(tmp_path / "blmidx")
        )
        arrivals = [
            (100, "  Corpus DOCUMENT 7 body ", base),  # canonical dup
            (101, "never seen before text", base + timedelta(seconds=1)),
            (102, "corpus document 23 body", base + timedelta(seconds=2)),
        ]
        src = tmp_path / "blm_src"
        src.mkdir()
        spark.createDataFrame(
            pd.DataFrame(arrivals, columns=["doc_id", "text", "ts"])
        ).select("doc_id", "text", F.col("ts").cast("timestamp")).coalesce(
            1
        ).write.parquet(str(src / "b0"))
        stream = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .parquet(str(src / "b*"))
        )
        out = str(tmp_path / "blm_out")
        q = (
            streaming_bloom_verdicts(spark, stream, name, out)
            .option("checkpointLocation", str(tmp_path / "blm_ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()

        def read_out():
            return {
                int(r["doc_id"]): (int(r["bits_set"]), r["verdict"])
                for r in spark.read.parquet(out).collect()
            }

        got = read_out()
        batch_docs = corpus.unionByName(
            spark.createDataFrame(
                [(d, t) for d, t, _ in arrivals], "doc_id long, text string"
            )
        )
        want = {
            int(r.doc_id): (int(r.bits_set), r.verdict)
            for r in dedup.bloom_dedup_probe(
                spark, "", boundary=100, docs=batch_docs, index_table=name
            )
            .toPandas()
            .itertuples(index=False)
        }
        assert got == want
        assert got[100][1] == "dup_candidate" and got[102][1] == "dup_candidate"
        assert got[101][1] == "new"
        # replay: re-handle the same micro-batch → byte-identical output
        batch = spark.createDataFrame(
            [(d, t) for d, t, _ in arrivals], "doc_id long, text string"
        )
        dedup.bloom_verdicts_for_batch(spark, batch, name).write.mode(
            "overwrite"
        ).parquet(f"{out}/batch_id=0")
        assert read_out() == got
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_streaming_bloom_kernel_has_no_filter_sized_literal(spark, tmp_path):
    """Scale guard for the round-8 rewrite (r7 verdict #1 'done'
    criterion): at an AUTO-SIZED geometry for 10⁵ planted keys
    (~25k filter words) the streaming micro-batch kernel's plan must
    attach the filter as a broadcast JOIN side, never as a parsed
    map literal — the plan text stays small and contains no inline
    (word, mask) entries."""
    import contextlib
    import io

    from ocr_pipeline_fastapi_latency_optimization_spark.operators import dedup

    n = 100_000
    corpus = spark.range(n).selectExpr(
        "id AS doc_id", "concat('planted key ', CAST(id AS STRING)) AS text"
    )
    name = f"blmbig_{uuid.uuid4().hex[:8]}"
    try:
        dedup.persist_bloom_filter(
            spark, corpus, name, str(tmp_path / "blmbigidx")
        )
        m = int(
            spark.sql(f"SHOW TBLPROPERTIES {name}('bloom.m_bits')")
            .collect()[0]["value"]
        )
        assert m >= n * 9  # auto-sized well past the sandbox floor
        batch = spark.createDataFrame(
            [(n + 1, "planted key 17"), (n + 2, "never seen")],
            "doc_id long, text string",
        )
        verdicts = dedup.bloom_verdicts_for_batch(spark, batch, name)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            verdicts.explain(mode="formatted")
        plan = buf.getvalue()
        assert "map(" not in plan, "filter inlined as a literal again"
        assert "BroadcastExchange" in plan or "broadcast" in plan.lower()
        # the plan must not scale with m: a filter-sized literal at this
        # geometry would be megabytes of expression text
        assert len(plan) < 100_000, len(plan)
        got = {r["doc_id"]: r["verdict"] for r in verdicts.collect()}
        assert got[n + 1] == "dup_candidate"  # exact member re-probed
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_streaming_sketches_merge_to_batch_equivalent(spark, tmp_path):
    """Sketch maintenance in motion: three micro-batches each write a
    partial CMS/HLL (batch_id partition overwrite), and the read-time
    merge equals the one-shot batch sketch over the union — the
    mergeability property driving the design. A simulated foreachBatch
    replay (same batch re-handled) leaves the merged result unchanged:
    partial-per-batch overwrite is what makes CMS replay-safe (a
    cumulative merge would double-count)."""
    import pandas as pd

    from ocr_pipeline_fastapi_latency_optimization_spark.operators import sketches
    from ocr_pipeline_fastapi_latency_optimization_spark.streaming.sketches import (
        read_cms,
        read_hll,
        streaming_sketch_update,
    )

    src = tmp_path / "sk_src"
    src.mkdir()
    batches = []
    for b in range(3):
        pdf = pd.DataFrame(
            {
                "doc_id": [b * 10 + i for i in range(5)],
                "text": [f"tok{b}_{i} common shared tok{b}" for i in range(5)],
            }
        )
        batches.append(pdf)
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / f"b{b}"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    out = str(tmp_path / "sk_out")
    q = (
        streaming_sketch_update(spark, stream, out)
        .option("checkpointLocation", str(tmp_path / "sk_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    union = spark.createDataFrame(pd.concat(batches, ignore_index=True))
    want_cms = {
        (r.d, r.pos): r.cnt
        for r in sketches.cms_sketch(sketches._tokens(union))
        .toPandas()
        .itertuples(index=False)
    }
    got_cms = {
        (r.d, r.pos): r.cnt
        for r in read_cms(spark, out).toPandas().itertuples(index=False)
    }
    assert got_cms == want_cms

    want_hll = {
        int(r.register): int(r.max_rank)
        for r in sketches.hll_register_sketch(spark, "", docs=union)
        .toPandas()
        .itertuples(index=False)
    }
    got_hll = {
        int(r.register): int(r.max_rank)
        for r in read_hll(spark, out).toPandas().itertuples(index=False)
    }
    assert got_hll == want_hll

    # simulated at-least-once replay: re-write batch 1's partials via a
    # fresh handler invocation with the same batch_id — merged results
    # must not move
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.sketches import (
        cms_sketch,
        hll_register_sketch,
        _tokens,
    )

    replay = spark.createDataFrame(batches[1])
    cms_sketch(_tokens(replay)).write.mode("overwrite").parquet(
        f"{out}/cms/batch_id=1"
    )
    hll_register_sketch(spark, "", docs=replay).write.mode(
        "overwrite"
    ).parquet(f"{out}/hll/batch_id=1")
    assert {
        (r.d, r.pos): r.cnt
        for r in read_cms(spark, out).toPandas().itertuples(index=False)
    } == want_cms
    assert {
        int(r.register): int(r.max_rank)
        for r in read_hll(spark, out).toPandas().itertuples(index=False)
    } == want_hll


def test_streaming_minhash_verdicts_equal_batch_incremental(spark, tmp_path, band_collider):
    """The minhash family's in-stream FULL verdict tier: a micro-batch
    flowing through streaming_minhash_verdicts (foreachBatch over the
    shared probe+verify kernel) equals the batch
    incremental_verified_dedup(index_table=…) at the same boundary —
    including the honest rejection of a deterministic banded false
    positive (superset-collision at Jaccard 1/2 streams out 'new')."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
        incremental_verified_dedup,
        persist_minhash_index,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.streaming.dedup import (
        streaming_minhash_verdicts,
    )

    base, collider = band_collider
    existing_rows = [(0, base), (10, "b b b b b b")]
    batch_rows = [
        (300, collider),                                    # candidate, J=1/2
        (310, "b b b b b b"),                               # true dup
        (320, "wholly unrelated text with plenty of words"),
    ]
    existing = spark.createDataFrame(existing_rows, "doc_id long, text string")
    persist_minhash_index(
        spark, existing, "t_smv_idx", str(tmp_path / "smvidx"), n_storage_buckets=4
    )
    try:
        spark.createDataFrame(
            [(d, t, "en", "s", 1) for d, t in existing_rows + batch_rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(f"{tmp_path}/documents.parquet")
        want = (
            incremental_verified_dedup(
                spark, str(tmp_path), boundary=100, index_table="t_smv_idx"
            )
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert list(want["verdict"]) == ["new", "near_dup", "new"]
        # the indexed reference runs the stream's own kernel; the
        # boundary-split path (the driver-oracle path) is independent
        split = (
            incremental_verified_dedup(spark, str(tmp_path), boundary=100)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(split, want)

        src = str(tmp_path / "in")
        spark.createDataFrame(
            [(d, t, "2024-01-01 00:00:00") for d, t in batch_rows],
            "doc_id long, text string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(src)
        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp"
        ).parquet(src)
        out_dir = str(tmp_path / "verdicts")
        q = (
            streaming_minhash_verdicts(
                spark, stream, "t_smv_idx", existing, out_dir
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)
        got = (
            spark.read.parquet(out_dir)
            .select("doc_id", "verdict")
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_smv_idx")
