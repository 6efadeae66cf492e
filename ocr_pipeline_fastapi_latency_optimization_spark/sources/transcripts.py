"""Transcripts source: schema-checked reader, deterministic synthetic
generator (seed=42, FIXTURES.md §1), and the documents-table adapter.

The generator is the engine's test corpus factory — no wall-clock, no
unseeded randomness, so golden outputs are bit-stable. Payload mix
mirrors the reference's format dispatch surface
(``FileIngestor.py:119-168``): plain / html-ish / pdf-layout /
mangled-sentinel.
"""

from __future__ import annotations

import hashlib
import json
import random
from datetime import datetime, timedelta, timezone
from typing import List, Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schema import TRANSCRIPTS_SCHEMA

ROLES = ["user", "assistant", "tool", "system"]
ROLE_WEIGHTS = [40, 40, 15, 5]
TOOLS = ["search", "code", "browser"]
EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)

_WORDS = (
    "the quick brown fox jumps over lazy dog data spark shuffle partition "
    "extract content block density anchor caption table figure formula "
    "merge mask stamp stitch turn conversation transcript markdown layout "
    "column reading order boilerplate navigation footer header link"
).split()

_RAW_LABELS = [
    "paragraph_title", "image", "text", "number", "abstract", "content",
    "figure_title", "formula", "table", "reference", "doc_title",
    "footnote", "header", "algorithm", "footer", "seal", "chart",
    "formula_number", "aside_text", "reference_content",
]


def _rng_for(conv_id: str, turn_idx: int, seed: int) -> random.Random:
    key = f"{seed}:{conv_id}:{turn_idx}".encode()
    return random.Random(int.from_bytes(hashlib.sha256(key).digest()[:8], "big"))


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n)).capitalize() + "."


def _gen_plain(rng: random.Random) -> str:
    paras = []
    for _ in range(rng.randint(1, 4)):
        lines = [_sentence(rng, rng.randint(4, 12)) for _ in range(rng.randint(1, 3))]
        if rng.random() < 0.3:
            lines[0] = "\t" + lines[0]
        if rng.random() < 0.2:
            lines.append("***")
        paras.append("\n".join(lines))
    lead = "  " if rng.random() < 0.3 else ""
    return lead + "\n\n".join(paras) + ("\n" if rng.random() < 0.5 else "")


def _gen_html(rng: random.Random) -> str:
    parts: List[str] = []
    if rng.random() < 0.7:
        links = " ".join(
            f'<a href="/{w}">{w}</a>' for w in rng.sample(_WORDS, rng.randint(2, 5))
        )
        parts.append(f"<nav>{links}</nav>")
    n_paras = rng.randint(1, 4)
    for _ in range(n_paras):
        if rng.random() < 0.3:  # fragmented run that must merge (M1a analog)
            parts.append(
                f"<p>{_sentence(rng, rng.randint(3, 6))}</p>"
                f"<p>{_sentence(rng, rng.randint(3, 6))}</p>"
            )
        else:
            parts.append(f"<p>{_sentence(rng, rng.randint(5, 14))}</p>")
    if rng.random() < 0.4:
        ncols = rng.randint(2, 4)
        header = "".join(f"<th>{rng.choice(_WORDS)}</th>" for _ in range(ncols))
        body = "".join(
            "<tr>" + "".join(f"<td>{rng.randint(0, 999)}</td>" for _ in range(ncols)) + "</tr>"
            for _ in range(rng.randint(1, 4))
        )
        parts.append(f"<table><tr>{header}</tr>{body}</table>")
    if rng.random() < 0.3:
        parts.append(
            f"<figure><img src='x.png'/><figcaption>{_sentence(rng, 5)}</figcaption></figure>"
        )
    if rng.random() < 0.6:
        parts.append("<footer><a href='/c'>contact</a> © 2026</footer>")
    # document order is load-bearing: parts are never shuffled
    return "\n".join(parts)


def _gen_pdf(rng: random.Random) -> str:
    pages = []
    for _ in range(rng.randint(1, 3)):
        w, h = 1654, 2339
        blocks = []
        y = 120
        two_col = rng.random() < 0.4
        blocks.append(
            {
                "bbox": [200, y, 1450, y + 80],
                "label": "doc_title",
                "conf": round(rng.uniform(0.6, 0.99), 4),
                "text": _sentence(rng, 4),
            }
        )
        y += 140
        n = rng.randint(2, 6)
        for i in range(n):
            hgt = rng.randint(80, 240)
            label = rng.choice(_RAW_LABELS)
            if two_col:
                x0, x1 = (120, 790) if i % 2 == 0 else (860, 1530)
            else:
                x0, x1 = 120, 1530
            blocks.append(
                {
                    "bbox": [x0, y, x1, min(h - 60, y + hgt)],
                    "label": label,
                    "conf": round(rng.uniform(0.2, 0.99), 4),  # some below 0.38
                    "text": _sentence(rng, rng.randint(3, 10)),
                }
            )
            if not two_col or i % 2 == 1:
                y += hgt + rng.randint(10, 60)
            if y > h - 200:
                break
        if rng.random() < 0.5:  # overlapping duplicate exercising pass (d)
            base = rng.choice(blocks)
            bx = list(base["bbox"])
            blocks.append(
                {
                    "bbox": [bx[0] + 10, bx[1] + 10, bx[2] - 10, bx[3] - 10],
                    "label": "text",
                    "conf": round(rng.uniform(0.4, 0.99), 4),
                    "text": _sentence(rng, 3),
                }
            )
        blocks.append(
            {
                "bbox": [120, h - 50, 1530, h - 10],
                "label": "footer",
                "conf": 0.9,
                "text": f"page {rng.randint(1, 40)}",
            }
        )
        pages.append({"w": w, "h": h, "blocks": blocks})
    return json.dumps({"pages": pages}, ensure_ascii=False, sort_keys=True)


def _gen_mangled(rng: random.Random) -> str:
    variants = [
        "PAGE 3 table\\_0: HERE",
        "page 12 figure : here",
        f"[[TURN {rng.randint(0, 9)} table_{rng.randint(0, 3)}]]",
        "[[ turn 4 FIGURE .. ]]",
    ]
    return (
        _sentence(rng, 6)
        + "\n"
        + rng.choice(variants)
        + "\n"
        + _sentence(rng, 5)
    )


def gen_transcripts(
    n_convs: int = 20,
    mean_turns: int = 10,
    seed: int = 42,
    skew_conv: Optional[str] = None,
    skew_turns: int = 0,
) -> pd.DataFrame:
    """Deterministic synthetic transcripts (FIXTURES.md §1). Rows are
    emitted in a *shuffled* turn order per conversation (ordering
    discipline is the pipeline's job, never the generator's)."""
    rows = []
    master = random.Random(seed)
    conv_offsets = {}
    for i in range(n_convs):
        conv_id = f"conv{i:06d}"
        n_turns = (
            skew_turns
            if skew_conv == conv_id and skew_turns
            else max(1, int(master.gauss(mean_turns, mean_turns / 3)))
        )
        conv_offsets[conv_id] = timedelta(hours=i)
        for t in range(n_turns):
            rng = _rng_for(conv_id, t, seed)
            role = rng.choices(ROLES, weights=ROLE_WEIGHTS, k=1)[0]
            kind_draw = rng.random()
            if kind_draw < 0.40:
                text = _gen_plain(rng)
            elif kind_draw < 0.75:
                text = _gen_html(rng)
            elif kind_draw < 0.95:
                text = _gen_pdf(rng)
            else:
                text = _gen_mangled(rng)
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": t,
                    "role": role,
                    "text": text,
                    "tool": rng.choice(TOOLS) if role == "tool" else None,
                    "ts": EPOCH + conv_offsets[conv_id] + timedelta(seconds=30 * t),
                }
            )
    master.shuffle(rows)
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def gen_transcripts_spark(
    spark: SparkSession,
    n_convs: int,
    mean_turns: int = 10,
    seed: int = 42,
    skew_conv: Optional[str] = None,
    skew_turns: int = 0,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Distributed deterministic corpus generator for benchmarks: the
    per-turn payload is a pure function of ``(conv_id, turn_idx, seed)``
    (seeded sha256 RNG), so the output is identical under any
    partitioning or parallelism — which is exactly what lets the scaling
    benchmark compare local[8] vs local[32] on *the same* input.

    Conversation lengths come from a hash (mean ≈ ``mean_turns``), with
    an optional planted skew conversation.
    """
    from pyspark.sql import types as T

    conv = spark.range(n_convs, numPartitions=partitions).select(
        F.format_string("conv%06d", F.col("id")).alias("conv_id"),
        F.col("id").alias("conv_no"),
    )
    n_turns = F.lit(1) + F.pmod(
        F.xxhash64(F.col("conv_id"), F.lit(seed)), F.lit(max(1, 2 * mean_turns - 1))
    )
    if skew_conv and skew_turns:
        n_turns = F.when(F.col("conv_id") == skew_conv, F.lit(skew_turns)).otherwise(
            n_turns
        )
    skeleton = conv.select(
        "conv_id",
        "conv_no",
        F.explode(F.sequence(F.lit(0), (n_turns - 1).cast("int"))).alias("turn_idx"),
    )

    def fill(batches):
        for pdf in batches:
            roles, texts, tools, tss = [], [], [], []
            for conv_id, conv_no, t in zip(
                pdf["conv_id"], pdf["conv_no"], pdf["turn_idx"]
            ):
                rng = _rng_for(conv_id, int(t), seed)
                role = rng.choices(ROLES, weights=ROLE_WEIGHTS, k=1)[0]
                draw = rng.random()
                if draw < 0.40:
                    text = _gen_plain(rng)
                elif draw < 0.75:
                    text = _gen_html(rng)
                elif draw < 0.95:
                    text = _gen_pdf(rng)
                else:
                    text = _gen_mangled(rng)
                roles.append(role)
                texts.append(text)
                tools.append(rng.choice(TOOLS) if role == "tool" else None)
                tss.append(
                    EPOCH
                    + timedelta(hours=int(conv_no) % 8760)
                    + timedelta(seconds=30 * int(t))
                )
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].values,
                    "turn_idx": pdf["turn_idx"].astype("int32").values,
                    "role": roles,
                    "text": texts,
                    "tool": tools,
                    "ts": tss,
                }
            )

    return skeleton.mapInPandas(
        fill,
        schema=(
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"
        ),
    )


def transcripts_df(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """pandas → Spark with the fixed schema (Arrow path)."""
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)


def read_transcripts(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Schema-checked transcript read. ``fmt`` ∈ parquet|json|csv — the
    table-level analog of the reference's multi-format ingestion
    dispatch (``FileIngestor.py:119-168``): whatever the container, the
    same fixed schema and the same downstream plan. Parquet is the
    production default (Iceberg in a real deployment); JSON/CSV cover
    interchange dumps."""
    reader = spark.read.schema(TRANSCRIPTS_SCHEMA)
    if fmt == "parquet":
        # enforcing a schema on mismatched parquet silently yields null
        # columns — validate the footer names instead of ingesting garbage
        # (the S2 allow-list's table-level analog, ocr_app.py:589-598)
        actual = {f.name for f in spark.read.parquet(path).schema.fields}
        required = {f.name for f in TRANSCRIPTS_SCHEMA.fields}
        missing = required - actual
        if missing:
            raise ValueError(
                f"not a transcripts table: {path} lacks columns {sorted(missing)}"
            )
        return reader.parquet(path)
    if fmt == "json":
        return reader.json(path)
    if fmt == "csv":
        return reader.option("header", True).option("multiLine", True).option(
            "escape", '"'
        ).csv(path)
    raise ValueError(f"unsupported transcript format: {fmt}")


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``documents`` table of a scale-factor directory — the one
    reader every corpus operator uses."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def documents_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapter: the driver-generated ``documents`` table as a transcript
    corpus — ``source`` becomes the conversation, a deterministic
    row_number per source becomes ``turn_idx``. Lets the flagship
    pipeline run against /root/testdata without synthesizing input."""
    from pyspark.sql import Window as W

    docs = read_documents(spark, sf_dir)
    w = W.partitionBy("source").orderBy("doc_id")
    return docs.select(
        F.col("source").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
