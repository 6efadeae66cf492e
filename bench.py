"""Headline benchmark. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
 "sf": ..., "turns_per_sec": ..., ...}

Runs on local[$SPARK_GRAFT_CPUS] (default 32) against
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) plus a deterministic
synthetic transcript corpus (generated once, cached on disk, generation
time reported separately and excluded from query timings).

Scaling evidence (local[8] vs local[32]) lives in bench/scaling_run.py →
BENCH/BASELINE.md.

Every run also reports `control_turns_per_sec` (the same extraction
kernel under plain multiprocessing, no Spark, measured in-session before
the JVM starts) and `turns_per_sec_normalized` = Spark rate / control
rate — the host-independent number to diff across rounds on a VM whose
ambient load drifts ±30% (round-6 verdict #3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_CONVS = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "12000"))
MEAN_TURNS = int(os.environ.get("SPARK_GRAFT_BENCH_MEAN_TURNS", "12"))
SEED = 42
CORPUS_DIR = f"/tmp/spark_graft_bench_corpus_c{BENCH_CONVS}_m{MEAN_TURNS}_s{SEED}"


def _force(df) -> int:
    """Materialize a plan without collecting it (noop sink)."""
    df.write.format("noop").mode("overwrite").save()
    return 0


# --- ambient normalizer (round-6 verdict #3) -------------------------------
# The recorded best-window baselines stopped reproducing on this shared VM
# (driver 23.8k t/s vs the 92.4k record on git-identical extract code), so
# every bench run now carries a ~5 s NO-SPARK control: the same extraction
# kernel under plain multiprocessing.Pool at the same worker count.
# turns_per_sec / control_turns_per_sec is host-independent — ambient
# contention moves numerator and denominator together. The control runs
# BEFORE the SparkSession exists (fork() with a live JVM is unsafe).

def _ctl_setup():
    global _CTL_ROWS
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
        gen_transcripts,
    )

    pdf = gen_transcripts(n_convs=60, mean_turns=10, seed=3)
    _CTL_ROWS = list(zip(pdf["text"], pdf["turn_idx"]))


def _ctl_work(reps: int) -> int:
    from ocr_pipeline_fastapi_latency_optimization_spark.functions.extract import (
        extract_turn_full,
    )

    n = 0
    for _ in range(reps):
        for t, i in _CTL_ROWS:
            extract_turn_full(t, int(i))
            n += 1
    return n


def control_rate(workers: int, reps: int = 3) -> float:
    """Aggregate no-framework turns/sec at ``workers`` processes —
    the same kernel + fan-out as bench/scaling_run.py's mp_control."""
    import multiprocessing as mp

    with mp.Pool(workers, initializer=_ctl_setup) as pool:
        pool.map(_ctl_work, [1] * workers)  # warm: imports + JIT, untimed
        t0 = time.time()
        counts = pool.map(_ctl_work, [reps] * workers * 2)
        wall = time.time() - t0
    return sum(counts) / wall


def ensure_corpus(spark) -> None:
    """Generate the synthetic transcript corpus once (cached on disk)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
        gen_transcripts_spark,
    )

    if not os.path.exists(os.path.join(CORPUS_DIR, "_SUCCESS")):
        gen_transcripts_spark(
            spark, BENCH_CONVS, MEAN_TURNS, seed=SEED, partitions=CPUS * 2
        ).write.mode("overwrite").parquet(CORPUS_DIR)


def query_builders(spark, corpus) -> dict:
    """The bench query registry: name -> zero-arg builder of the
    DataFrame that key times, in bench order (``bench_extra.py`` reads
    the same registry). Materializes the per-turn extraction output the
    stitch query reads, once per corpus and untimed."""
    from pyspark.sql import functions as F

    from ocr_pipeline_fastapi_latency_optimization_spark.functions.textstats import (
        bpe_ish_token_count,
        fingerprint,
        lang_id,
        quality_score_e4,
        token_count,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import (
        chunking,
        curation,
        dedup,
        embedding,
        maintenance,
        similarity,
        sketches,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.extraction import (
        blocks_table,
        extract_pipeline,
        stitch_conversations_salted,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
        documents_as_transcripts,
    )

    # skew-safe stitch input: materialized per-turn output, so the
    # stitch timing is the stitch, not re-extraction
    per_turn_dir = f"{CORPUS_DIR}_per_turn"
    if not os.path.exists(os.path.join(per_turn_dir, "_SUCCESS")):
        extract_pipeline(corpus).write.mode("overwrite").parquet(per_turn_dir)
    per_turn = spark.read.parquet(per_turn_dir)

    # text analysis single-pass over documents
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    stats = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tok"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe"),
        quality_score_e4(F.col("text")).alias("q"),
        lang_id(F.col("text")).alias("lang"),
        fingerprint(F.col("text")).alias("fp"),
    )

    def sem_decon():
        # every 13th doc suffix-planted as a paraphrase-analog eval doc
        # (same construction as the driver wrapper), probed against the
        # full corpus
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        ev = d.filter(F.col("doc_id") % 13 == 0).select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" heldout benchmark answer")).alias(
                "text"
            ),
        )
        return curation.semantic_decontaminate(spark, SF_DIR, eval_docs=ev)

    return {
        # headline: full per-turn extraction (fused single-stage plan —
        # zero shuffles); the JN1 join-shaped plan runs the extract
        # stage once per join side
        "extract_transcripts": lambda: extract_pipeline(corpus),
        "extract_join_mode": lambda: extract_pipeline(corpus, mode="join"),
        "extract_documents": lambda: extract_pipeline(
            documents_as_transcripts(spark, SF_DIR)
        ),
        "stitch_salted": lambda: stitch_conversations_salted(per_turn),
        # dedup: minhash LSH (fast JVM hash) + exact groups
        "dedup_minhash_lsh": lambda: dedup.minhash_lsh_pairs(
            spark, SF_DIR, hash_fn="affine"
        ),
        "dedup_exact": lambda: dedup.exact_duplicate_groups(spark, SF_DIR),
        "verified_near_dedup": lambda: dedup.verified_near_dedup(spark, SF_DIR),
        "knn_ivf": lambda: similarity.ivf_knn(spark, SF_DIR),
        "textstats": lambda: stats,
        # curation: PII masking (narrow regex), C4 boilerplate removal,
        # the two-pass percentile quality gate, and the end-to-end
        # funnel (extract → quality → lang → dedup → split) as ONE plan
        "pii_mask": lambda: curation.pii_mask(spark, SF_DIR),
        "boilerplate_lines": lambda: curation.boilerplate_lines(spark, SF_DIR),
        "quality_threshold_filter": lambda: curation.quality_threshold_filter(
            spark, SF_DIR
        ),
        "curation_funnel_full": lambda: curation.curation_funnel_full(
            spark, SF_DIR
        ),
        # text→embedding and the closed extract→embed→dedup loop over
        # the corpus's OWN text: global, per-source and k-means-derived
        # (anchored soft-2) domains
        "embed_documents": lambda: embedding.embed_documents(spark, SF_DIR),
        "semantic_text_dedup": lambda: embedding.semantic_dedup_text_corpus(
            spark, SF_DIR
        ),
        "semantic_text_dedup_domain": lambda: (
            embedding.semantic_dedup_text_by_domain(spark, SF_DIR)
        ),
        "semantic_text_dedup_clustered": lambda: (
            embedding.semantic_dedup_text_clustered(spark, SF_DIR)
        ),
        # CCNet-style head/middle/tail LM-score bucketing
        "ccnet_perplexity_buckets": lambda: curation.ccnet_perplexity_buckets(
            spark, SF_DIR
        ),
        "semantic_decontaminate": sem_decon,
        # span-level substring dedup, the bigram-LM quality scorer,
        # winnowing overlap, bloom membership and content-defined chunks
        "substring_span_dedup": lambda: dedup.substring_span_dedup(spark, SF_DIR),
        "lm_bigram_score": lambda: curation.lm_bigram_score(spark, SF_DIR),
        "winnowing_overlap": lambda: dedup.winnowing_overlap(spark, SF_DIR),
        "incremental_winnowing": lambda: dedup.incremental_winnowing_overlap(
            spark, SF_DIR
        ),
        "bloom_dedup_probe": lambda: dedup.bloom_dedup_probe(spark, SF_DIR),
        "cdc_chunks": lambda: chunking.cdc_chunks(spark, SF_DIR),
        # fixed-size sketches: constant-state heavy hitters + cardinality
        "cms_token_counts": lambda: sketches.cms_token_counts(spark, SF_DIR),
        "hll_register_sketch": lambda: sketches.hll_register_sketch(
            spark, SF_DIR
        ),
        # similarity scale path + block inspection
        "cosine_lsh": lambda: similarity.cosine_lsh_pairs(spark, SF_DIR),
        "blocks_table": lambda: blocks_table(
            documents_as_transcripts(spark, SF_DIR)
        ),
        # maintenance shapes over events
        "rate_window": lambda: maintenance.rate_window(spark, SF_DIR),
        "top_k_recent": lambda: maintenance.top_k_recent(spark, SF_DIR),
    }


def main() -> None:
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.extraction import (
        extract_pipeline,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.session import get_spark
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
        read_transcripts,
    )

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    # ambient control BEFORE the JVM exists (fork safety); best-of-2
    # like the scaling runner — the control is as contention-exposed
    # as the Spark numbers it normalizes
    t0 = time.time()
    ctl = max(control_rate(CPUS) for _ in range(2))
    extras["control_turns_per_sec"] = round(ctl, 1)
    extras["control_sec"] = round(time.time() - t0, 3)

    spark = get_spark(app_name="bench", cpus=CPUS, shuffle_partitions=CPUS)

    # --- corpus (generated once, reused across rounds) ---
    t0 = time.time()
    ensure_corpus(spark)
    extras["corpus_gen_sec"] = round(time.time() - t0, 3)
    corpus = read_transcripts(spark, CORPUS_DIR)
    n_turns = corpus.count()
    extras["bench_turns"] = n_turns

    # untimed warm-up: spin up all Python workers (spark.python.worker.reuse
    # keeps them) and JIT the extract path, so timings below are steady-state
    _force(extract_pipeline(corpus.sample(0.05, seed=1)))

    warm = os.environ.get("SPARK_GRAFT_BENCH_WARM", "1") == "1"
    # median-of-N steady-state runs per query (round-2 verdict #2: a
    # single contaminated run on a ±30%-ambient-drift VM must never be
    # the number of record)
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    def timed(name: str, fn) -> None:
        if warm:  # steady-state: first run pays per-shape codegen/shuffle setup
            fn()
        runs = []
        for _ in range(max(1, reps)):
            t = time.time()
            fn()
            runs.append(time.time() - t)
        timings[name] = round(sorted(runs)[len(runs) // 2], 3)

    for name, build in query_builders(spark, corpus).items():
        timed(name, lambda: _force(build()))
        if name == "extract_transcripts":
            extras["turns_per_sec"] = round(n_turns / timings[name], 1)
            # host-independent ratio: Spark extraction rate / no-Spark
            # control rate measured in the same session (control_rate)
            extras["turns_per_sec_normalized"] = round(
                extras["turns_per_sec"] / extras["control_turns_per_sec"], 4
            )

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline query wall time (extraction + dedup + similarity + maintenance)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                **extras,
            }
        )
    )


if __name__ == "__main__":
    main()
