"""Keyword retrieval over the document corpus: BM25 top-k search.

The engine's similarity family answers "what is NEAR this vector";
a training-data pipeline equally needs "which documents match these
TERMS" — inspecting contamination hits, auditing what a filter kept,
pulling eval-adjacent documents. This is the classic inverted-index
scoring, expressed as three bounded aggregates instead of an index
build.

Scale design:

* the only wide operations are (a) one hash aggregate on
  ``(doc_id, term)`` over the token explode RESTRICTED to the query's
  terms (the filter runs before the shuffle, so shuffled volume is
  O(docs containing a query term), not O(corpus tokens)), and (b) the
  bounded ``TakeOrderedAndProject`` top-k (per-partition heaps, never
  a global sort);
* document length rides the explode as a carried column — no
  corpus-wide join to re-attach it;
* per-term document frequencies and the corpus totals are tiny
  (|terms| rows / 1 row) and broadcast.

Exactness: textbook BM25 uses ``ln`` in the idf term; two engines'
libm can differ in the last ulp and flip a floor at the quantization
boundary, so the oracle could never be exact. This implementation
replaces it with a RATIONAL idf surrogate

    idf_e4(t) = ((N - df_t + 1) * 10000) div (df_t + 1)

(same monotonicity: rare term → large idf; df = N → ~1e4·1/(N+1)) and
keeps the saturation/length-normalization term exactly rational with
k1 = 1.2 and b = 0.75:

    tf_norm = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

multiplied through by ``10·total`` (avgdl = total/N):

    score_term = (idf_e4 · 22 · tf · total)
                 div (tf·10·total + 3·total + 9·dl·N)

— every operand integer, every division an integer ``div``, the
per-term floors summed (order-independent), so Spark and DuckDB agree
bit-for-bit. Headroom: idf_e4 ≤ (N·10⁴)/2 for any matched term
(df ≥ 1), so the numerator stays under int64 for corpora through
~10⁹ tokens; beyond that the e4 scale would be dropped to e2 (the
score is a rank, not a probability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.transcripts import read_documents

# default query: terms present in the sandbox corpus vocabulary with
# differing frequencies, so ranking is non-vacuous at every SF
BM25_QUERY = ("spark", "join", "window")
BM25_K = 20
BM25_K1_E1 = 12  # k1 = 1.2
BM25_B_E2 = 75  # b = 0.75


def bm25_search(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple = BM25_QUERY,
    k: int = BM25_K,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` documents for ``terms`` under rational BM25 (module
    docstring). Returns (doc_id, n_terms_matched, score_e4) with the
    deterministic total order (score desc, doc_id asc)."""
    if not terms:
        raise ValueError("terms must be non-empty")
    docs = docs if docs is not None else read_documents(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    # dl rides the explode; the term filter runs BEFORE the shuffle
    tf = (
        docs.select(
            "doc_id",
            F.size(toks).cast("long").alias("dl"),
            F.explode(toks).alias("term"),
        )
        .filter(F.col("term").isin(*[str(t) for t in terms]))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    stats = docs.select(F.size(toks).cast("long").alias("d")).agg(
        F.count("*").alias("n_docs"), F.sum("d").alias("total")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf_e4", F.expr("((n_docs - df + 1) * 10000) div (df + 1)")
        )
        .withColumn(
            "s",
            F.expr(
                "(idf_e4 * 22 * tf * total) div "
                "(tf * 10 * total + 3 * total + 9 * dl * n_docs)"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_matched"),
            F.sum("s").alias("score_e4"),
        )
        .orderBy(F.col("score_e4").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "n_terms_matched", "score_e4")
    )
