"""Structured Streaming surface.

The reference has no true streaming operators (SURVEY §2.11) — its only
stream-shaped structures are the per-IP sliding-window rate limiter
(``ocr_app.py:312-357``) and the periodic cleanup loops
(``ocr_app.py:1461-1487``). This module provides their Structured
Streaming analogs so the engine covers the streaming ingestion path:

* ``streaming_rate_counts`` — windowed admission counts per key with a
  watermark for late data;
* ``streaming_extract`` — the extraction stage applied to a stream
  (``readStream`` → the same narrow ``mapInPandas`` → sink), proving the
  extract core is execution-mode agnostic.

Both are exercised in tests with the file/memory sink pattern
(``processAllAvailable`` drives a parquet directory to completion
synchronously).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

RATE_WINDOW = "60 seconds"
RATE_SLIDE = "30 seconds"
WATERMARK = "10 minutes"
RATE_LIMIT = 30  # requests/min/key, ocr_app.py:142


def streaming_rate_counts(events: DataFrame) -> DataFrame:
    """Sliding 60s/30s windowed counts per user with late-data watermark;
    ``admitted`` mirrors the reject-at-30/min verdict."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", RATE_WINDOW, RATE_SLIDE), F.col("user_id"))
        .agg(F.count("*").alias("n_in_window"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "user_id",
            "n_in_window",
            (F.col("n_in_window") <= RATE_LIMIT).alias("admitted"),
        )
    )


def streaming_sessions(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Stateful sessionization on a stream: ``session_window`` groups
    events into gap-closed sessions per user under a watermark — the
    streaming twin of ``operators/olap.py::sessionize``."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def streaming_conv_progress(transcripts_stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-conversation progress (turns seen, chars seen) carried across
    micro-batches — the streaming analog of the job-progress record
    (``ocr_app.py:932-952``). State schema: (n_turns, chars_seen)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state):
        (conv_id,) = key
        n_turns, chars = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n_turns += len(pdf)
            chars += int(pdf["text"].fillna("").str.len().sum())
        state.update((n_turns, chars))
        yield pd.DataFrame(
            {"conv_id": [conv_id], "n_turns": [n_turns], "chars_seen": [chars]}
        )

    return (
        transcripts_stream.select("conv_id", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType="conv_id string, n_turns long, chars_seen long",
            stateStructType="n_turns long, chars_seen long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_extract(transcripts_stream: DataFrame, merge_visual: bool = False) -> DataFrame:
    """The per-turn extract stage on a stream. The stage is stateless and
    narrow, so it runs unchanged under micro-batch execution; the
    enrichment join stays *within* the mapInPandas-free path here by
    finalizing inline per turn (stream-side joins of two derived streams
    would need state; per-turn finalize is semantically identical because
    sentinel keys never cross turns)."""
    from ..functions.extract import extract_turn_full
    from typing import Iterator
    import pandas as pd

    mv = bool(merge_visual)

    def run(batches: "Iterator[pd.DataFrame]"):
        for pdf in batches:
            results = [
                extract_turn_full(t, int(i), merge_visual=mv)
                for t, i in zip(pdf["text"], pdf["turn_idx"])
            ]
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].values,
                    "turn_idx": pdf["turn_idx"].astype("int32").values,
                    "extracted_text": [r["extracted_text"] for r in results],
                    "n_blocks_kept": [r["n_blocks_kept"] for r in results],
                    "n_blocks_dropped": [r["n_blocks_dropped"] for r in results],
                    "chars_extracted": [r["chars_extracted"] for r in results],
                }
            )

    return transcripts_stream.select("conv_id", "turn_idx", "text").mapInPandas(
        run,
        schema=(
            "conv_id string, turn_idx int, extracted_text string, "
            "n_blocks_kept int, n_blocks_dropped int, chars_extracted long"
        ),
    )
