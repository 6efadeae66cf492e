"""Fixed-size mergeable sketches: count-min (heavy-hitter counts) and
HyperLogLog registers (distinct cardinality).

Why sketches, when the exact aggregates exist one module over: at
corpus scale the exact versions shuffle STATE PROPORTIONAL TO THE KEY
SPACE — ``vocab_top_tokens`` moves one row per distinct token, exact
``countDistinct`` moves every distinct value. The sketch versions
shuffle a CONSTANT number of cells (CMS: depth·width counters; HLL:
2^p registers) no matter how many distinct keys the corpus holds, and
both merge associatively (CMS by cell-wise ``+``, HLL by register-wise
``max``) — so partial sketches combine across partitions, snapshots,
or days without ever materializing the key space. That is the property
that matters at 10⁹+ distinct n-grams; the constants here are sandbox-
sized (the cell count is one conf knob).

Determinism discipline (house rule): every hash is a 60-bit md5 prefix,
every aggregate is integer, so the DuckDB twins are bit-exact. The
statistical properties (CMS never under-counts; the HLL harmonic
estimator's relative error) are pinned in pytest, not in the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..sources.transcripts import read_documents

CMS_DEPTH = 4  # independent hash rows; P(overestimate > eps) ~ exp(-depth)
CMS_WIDTH = 512  # counters per row; overestimate eps ~ total_count / width
CMS_TOPK = 20

HLL_LOG2M = 8  # 2^8 = 256 registers; relative error ~ 1.04 / sqrt(m)
HLL_WBITS = 52  # 60-bit hash minus the 8 register-index bits


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
        ).alias("token")
    )


def cms_sketch(tokens: DataFrame, depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> DataFrame:
    """The count-min table as ``(d, pos, cnt)`` rows — at most
    depth·width of them. One narrow fan-out of ``depth`` cells per
    token, then a single map-side-combined aggregate whose shuffle
    carries at most depth·width rows per map partition regardless of
    vocabulary size."""
    cell = (
        "transform(sequence(0, {d} - 1), s -> named_struct("
        "'d', s, "
        "'pos', pmod(CAST(conv(substring(md5(concat(token, ':', "
        "CAST(s AS STRING))), 1, 15), 16, 10) AS BIGINT), {w})))"
    ).format(d=depth, w=width)
    return (
        tokens.select(F.explode(F.expr(cell)).alias("c"))
        .select(F.col("c.d").alias("d"), F.col("c.pos").alias("pos"))
        .groupBy("d", "pos")
        .agg(F.count("*").alias("cnt"))
    )


def cms_token_counts(
    spark: SparkSession,
    sf_dir: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    k: int = CMS_TOPK,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Count-min estimates next to exact counts for the corpus's top-k
    tokens — the sketch's guarantee made visible: ``est >= exact``
    always (hash collisions only ever ADD), with the overestimate
    bounded by total_tokens/width per colliding row and the min over
    ``depth`` rows taking the least-collided one.

    Plan: the sketch is depth·width cells (≤ 2k rows here) and joins
    broadcast; the exact side is the same bounded
    TakeOrderedAndProject top-k as ``vocab_top_tokens``. At scale you
    keep ONLY the sketch and the candidate set; the exact column here
    is the audit the sandbox can afford.
    """
    if depth <= 0 or width <= 1 or k <= 0:
        raise ValueError(f"invalid cms params depth={depth} width={width} k={k}")
    from .scanpar import ensure_scan_parallelism

    docs = ensure_scan_parallelism(
        docs if docs is not None else read_documents(spark, sf_dir)
    )
    toks = _tokens(docs)
    sketch = cms_sketch(toks, depth, width)
    top = (
        toks.groupBy("token")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), F.col("token").asc())
        .limit(k)
    )
    probe_pos = (
        "pmod(CAST(conv(substring(md5(concat(token, ':', "
        "CAST(s AS STRING))), 1, 15), 16, 10) AS BIGINT), {w})"
    ).format(w=width)
    probes = top.select(
        "token",
        "exact_count",
        F.explode(F.expr(f"sequence(0, {depth} - 1)")).alias("s"),
    ).select(
        "token",
        "exact_count",
        F.col("s").alias("d"),
        F.expr(probe_pos).alias("pos"),
    )
    return (
        probes.join(F.broadcast(sketch), ["d", "pos"])
        .groupBy("token", "exact_count")
        .agg(F.min("cnt").alias("est_count"))
        .select(
            "token",
            "exact_count",
            "est_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy(F.col("exact_count").desc(), F.col("token").asc())
    )


def _hll_rank(w: Column) -> Column:
    """Leading-zero rank of the 52-bit suffix: 1 + zeros before the
    highest set bit; an all-zero suffix ranks WBITS + 1. ``bin()``
    (identical no-leading-zeros semantics in Spark and DuckDB) turns
    "position of highest set bit" into pure string length — no
    float log2 anywhere near the boundary cases."""
    return (
        F.when(w == 0, F.lit(HLL_WBITS + 1))
        .otherwise(F.lit(HLL_WBITS) + 1 - F.length(F.expr("bin(w)")))
        .cast("long")
    )


def hll_register_sketch(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
) -> DataFrame:
    """HyperLogLog registers over the corpus's distinct tokens:
    ``(register, max_rank)`` for each non-empty register of a 2^8
    register sketch.

    The register table IS the sketch: 256 rows of integer state that
    merge by register-wise ``max`` across any partitioning of the data
    (the mergeability pytest proves sketch(A ∪ B) == max-merge of
    sketch(A), sketch(B)). The cardinality ESTIMATE is derived state —
    the harmonic-mean estimator runs on these 256 rows anywhere
    (pytest pins its relative error against the exact distinct count);
    keeping the float estimator out of the operator keeps the oracle
    contract pure-integer.

    Plan: one token explode, a 60-bit md5 split into (register, suffix)
    per row, then a single map-side-combined ``max`` aggregate whose
    shuffle carries ≤ 256 rows per map partition — distinct-counting
    state that never grows with the vocabulary.
    """
    from .scanpar import ensure_scan_parallelism

    docs = ensure_scan_parallelism(
        docs if docs is not None else read_documents(spark, sf_dir)
    )
    m = 1 << HLL_LOG2M
    h = (
        "CAST(conv(substring(md5(token), 1, 15), 16, 10) AS BIGINT)"
    )
    return (
        _tokens(docs)
        .select(F.expr(h).alias("h"))
        .select(
            F.expr(f"h % {m}").alias("register"),
            F.expr(f"h div {m}").alias("w"),
        )
        .select("register", _hll_rank(F.col("w")).alias("rank"))
        .groupBy("register")
        .agg(F.max("rank").alias("max_rank"))
        .orderBy("register")
    )


def hll_estimate(registers: dict[int, int], log2m: int = HLL_LOG2M) -> float:
    """Driver-side harmonic-mean estimator over a materialized register
    dict (register -> max_rank); empty registers rank 0. Float math is
    confined here — the distributed operator ships only integers."""
    m = 1 << log2m
    s = sum(2.0 ** -registers.get(j, 0) for j in range(m))
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = alpha * m * m / s
    zeros = sum(1 for j in range(m) if registers.get(j, 0) == 0)
    if raw <= 2.5 * m and zeros > 0:  # small-range linear counting
        import math

        return m * math.log(m / zeros)
    return raw
