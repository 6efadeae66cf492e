"""Job-store / maintenance queries (the operational surface of the
reference, re-expressed over an events table).

The reference keeps an in-memory ``ThreadSafeJobStore`` and answers
status/histogram/retention/stale queries under a lock
(``ocr_app.py:198-305``); at corpus scale these are plain DataFrame
aggregations and interval predicates over the checkpoint/metrics table.
``events(event_id, ts, user_id, event_type, value, props)`` stands in
for the job table (FIXTURES.md §4).

Every query here is a pure Catalyst plan: hash aggregates with map-side
partials, TakeOrderedAndProject for top-k, range-frame window for the
sliding rate limit — all shapes that scale linearly with input
partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..sources.transcripts import read_documents


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def status_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (``ocr_app.py:286-297``): count per status."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )


def active_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (``ocr_app.py:240-248``): count of rows in an 'active' state set."""
    return _events(spark, sf_dir).select(
        F.sum(
            F.when(F.col("event_type").isin("click", "view"), 1).otherwise(0)
        ).alias("n_active"),
        F.count("*").alias("n_total"),
    )


def top_k_recent(spark: SparkSession, sf_dir: str, k: int = 100) -> DataFrame:
    """O3 (``ocr_app.py:250-267``): newest-first listing with a clamped
    limit — Spark plans TakeOrderedAndProject (a true top-k, no full
    sort)."""
    k = min(int(k), 500)  # clamp, ocr_app.py:1405
    return (
        _events(spark, sf_dir)
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(k)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_timestamp("ts").alias("ts_epoch"),
        )
    )


def retention_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 (``ocr_app.py:269-274``): rows older than 24h before the
    corpus max timestamp, counted per type (the cleanup scan)."""
    ev = _events(spark, sf_dir)
    cutoff = ev.agg(
        (F.max(F.unix_timestamp("ts")) - F.lit(24 * 3600)).alias("cutoff")
    )
    return (
        ev.crossJoin(F.broadcast(cutoff))
        .filter(F.unix_timestamp("ts") < F.col("cutoff"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_expired"))
        .orderBy("event_type")
    )


def stale_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 (``ocr_app.py:276-284``): 'processing'-analog rows not updated
    within 1800 s of the corpus max timestamp."""
    ev = _events(spark, sf_dir)
    cutoff = ev.agg(
        (F.max(F.unix_timestamp("ts")) - F.lit(1800)).alias("cutoff")
    )
    return (
        ev.crossJoin(F.broadcast(cutoff))
        .filter(
            (F.col("event_type") == "error")
            & (F.unix_timestamp("ts") < F.col("cutoff"))
        )
        .select(F.count("*").alias("n_stale"), F.min("event_id").alias("first_id"))
    )


def rate_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sliding-window rate limiter (``ocr_app.py:312-357``) as a
    60-second range-frame count per key: for every event, how many events
    the same user produced in the preceding minute (inclusive), plus the
    admission verdict at limit 30/min."""
    ev = _events(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-60, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_last_60s"),
        (F.count("*").over(w) <= 30).alias("admitted"),
    )


def row_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5 (``DLA.py:605-616`` ↔ ``ContentMasker.py:56-77``): the
    per-(partition, class) running counter that names crops and stamps
    placeholders — one window, one ordering, so the two enumerations can
    never diverge (INV-3)."""
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        (F.row_number().over(w) - 1).alias("k"),
    )


def ordered_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 shape (``PageProcessor.py:112``) over events: per-user
    event-type trail concatenated in (ts, event_id) order — ordering from
    data via array_sort, never from the scheduler."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ).event_type,
                "-",
            ).alias("trail"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


def line_bucketing(spark: SparkSession, sf_dir: str, lines_per_page: int = 53) -> DataFrame:
    """S5 (``FileIngestor.py:223-226``): the ≈53-lines-per-page
    pagination as fixed-size bucketing of a row_number."""
    w = W.partitionBy("source").orderBy("doc_id")
    docs = read_documents(spark, sf_dir)
    return (
        docs.select(
            "source",
            F.floor((F.row_number().over(w) - 1) / lines_per_page).alias("page"),
        )
        .groupBy("source", "page")
        .agg(F.count("*").alias("n_lines"))
        .orderBy("source", "page")
    )


def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 (``utils.py:70-111``): pull a typed value out of an embedded
    JSON payload, with a null-safe fallback, then aggregate."""
    ev = _events(spark, sf_dir)
    k = F.coalesce(
        F.get_json_object("props", "$.k").cast("long"), F.lit(-1)
    )
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def enrichment_join_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JN1 shape (``MarkdownEnricher.py:69-94``): left join + coalesce to
    a missing-marker, aggregated — lineitem rows surviving without an
    order match the way skeleton rows survive without a crop."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # no broadcast hint: the filtered orders side is corpus-cardinality
    # (grows with scale factor) — per-slice crop lookups in the
    # reference are bounded, but this analog's right side is not, so
    # AQE decides (broadcasts while small, shuffles when not)
    joined = li.join(
        orders.filter(F.col("o_totalprice") > 100000.0),
        li.l_orderkey == orders.o_orderkey,
        "left",
    )
    return (
        joined.select(
            F.coalesce("o_orderpriority", F.lit("MISSING_CROP")).alias("priority")
        )
        .groupBy("priority")
        .agg(F.count("*").alias("n"))
        .orderBy("priority")
    )
