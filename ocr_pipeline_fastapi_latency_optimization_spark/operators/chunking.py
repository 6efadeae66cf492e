"""Training-sequence preparation: fixed-window document chunking with
overlap, and greedy sequence packing over a distributed prefix sum.

Both are deterministic and exactly replicable in DuckDB (driver
oracles). Chunking is a narrow JVM-only plan (split → sequence →
explode → slice); packing needs a corpus-wide *ordered prefix sum*,
which Spark has no scale-safe primitive for — a naive
``sum().over(Window.orderBy(...))`` with no partition key collapses the
corpus into ONE task. ``global_prefix_sum`` is the two-pass
construction (the same shape as ``dedup.global_sorted_rank``):

1. ``repartitionByRange`` + ``sortWithinPartitions`` puts rows in
   ordered, non-overlapping range partitions;
2. one narrow ``mapInPandas`` emits each row's exclusive local prefix;
3. per-partition totals (one tiny agg, ≤ n_ranges rows) become
   broadcast offsets added to the local prefix.

O(N) work, no single-partition stage anywhere.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.transcripts import read_documents

CHUNK_WORDS = 64
CHUNK_STRIDE = 48  # overlap = CHUNK_WORDS - CHUNK_STRIDE = 16 words
PACK_CONTEXT = 512


def chunk_documents(
    spark: SparkSession,
    sf_dir: str,
    chunk_words: int = CHUNK_WORDS,
    stride: int = CHUNK_STRIDE,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Overlapping fixed-window chunks per document — the step that turns
    curated documents into trainable pieces bounded by a model context.
    Chunk i covers words [i·stride, i·stride + chunk_words); the final
    chunk is short rather than padded. Pure narrow JVM expressions
    (split → sequence → explode → slice): per-row fan-out is
    ceil-bounded by the document's own length, so the plan has no
    shuffle and no skew beyond the documents themselves.

    Emits the chunk fingerprint (md5) instead of the chunk text so the
    oracle comparison is exact without hashing megabytes of prose."""
    docs = docs if docs is not None else read_documents(spark, sf_dir)
    w, s = int(chunk_words), int(stride)
    n = F.size(F.col("wds"))
    n_chunks = F.lit(1) + F.greatest(
        F.ceil((n - F.lit(w)) / F.lit(float(s))), F.lit(0)
    )
    d = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("wds")
    ).withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
    )
    piece = F.slice(F.col("wds"), F.col("chunk_idx") * s + 1, w)
    return d.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(piece).cast("int").alias("n_words"),
        F.md5(F.array_join(piece, " ")).alias("chunk_fp"),
    ).orderBy("doc_id", "chunk_idx")


def global_prefix_sum(
    df: DataFrame, value_col: str, order_cols: List[str], n_ranges: int = 32
) -> DataFrame:
    """Exclusive prefix sum of ``value_col`` over the total order given
    by ``order_cols`` (must include a unique tie-break key), WITHOUT a
    single-partition window — adds a ``prefix`` column. Scale shape:
    one range shuffle, one narrow pandas pass, one ≤ n_ranges-row
    aggregate broadcast back."""
    from pyspark.sql import Window as W
    from pyspark.sql import types as T

    ranged = df.repartitionByRange(n_ranges, *order_cols).sortWithinPartitions(
        *order_cols
    )
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())

    def local_prefix(batches):
        run = 0
        for pdf in batches:
            out = pdf.copy()
            vals = pdf[value_col].astype("int64")
            out["_lsum"] = vals.cumsum() - vals + run
            run += int(vals.sum())
            yield out

    schema = T.StructType(
        list(with_pid.schema.fields) + [T.StructField("_lsum", T.LongType())]
    )
    local = with_pid.mapInPandas(local_prefix, schema=schema)
    totals = local.groupBy("_pid").agg(F.sum(value_col).alias("_t"))
    offsets = totals.withColumn(
        "_off",
        F.coalesce(
            F.sum("_t").over(W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).select("_pid", "_off")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("prefix", F.col("_lsum") + F.col("_off"))
        .drop("_pid", "_lsum", "_off")
    )


def pack_sequences(
    spark: SparkSession,
    sf_dir: str,
    context: int = PACK_CONTEXT,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Greedy sequence packing: lay documents end-to-end in doc_id order
    and cut the token stream every ``context`` tokens; a document
    belongs to the sequence its first token lands in (seq_id =
    prefix ÷ context). This is the concat-then-split packing LLM
    pretraining uses to avoid padding waste; compose with
    ``chunk_documents`` first when documents must not straddle a
    boundary. Per-sequence output: document count, token total, and the
    covered doc-id range."""
    docs = docs if docs is not None else read_documents(spark, sf_dir)
    from ..functions.textstats import token_count

    t = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    p = global_prefix_sum(t, "n_tokens", ["doc_id"])
    return (
        p.select(
            F.floor(F.col("prefix") / F.lit(float(context))).alias("seq_id"),
            "n_tokens",
            "doc_id",
        )
        .groupBy("seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("seq_id")
    )


ENCODE_VOCAB_SIZE = 16  # sandbox-scale default: below the fixture
# corpus's distinct-token count, so the OOV (id 0) path is exercised by
# the driver contract; production passes the real vocabulary size


def _vocab_with_ids(
    spark: SparkSession, sf_dir: str, vocab_size: int
) -> DataFrame:
    """(token, tok_id) for the top-``vocab_size`` corpus tokens:
    tok_id = 1-based rank under (occurrences desc, token asc) — the
    deterministic frequency vocabulary ``vocab_top_tokens`` ranks.
    The vocabulary is a BOUNDED artifact (≤ vocab_size rows — a
    control-plane collect, never corpus cardinality), re-emitted as a
    broadcastable literal frame so the encode join needs no window."""
    from .curation import vocab_top_tokens

    rows = vocab_top_tokens(spark, sf_dir, k=vocab_size).collect()
    return spark.createDataFrame(
        [(r["token"], i + 1) for i, r in enumerate(rows)],
        "token string, tok_id long",
    )


def encode_documents_df(
    spark: SparkSession, sf_dir: str, vocab_size: int = ENCODE_VOCAB_SIZE
) -> DataFrame:
    """(doc_id, ids array<long>) — every document's whitespace tokens
    mapped to frequency-vocabulary ids (OOV → 0), in document order:
    the tensor-export step after curation (compose with
    ``chunk_documents`` / ``pack_sequences`` for fixed-context
    training sequences). Narrow shape: posexplode → broadcast
    vocabulary join → one per-doc aggregate; order is restored with
    the array_sort(collect_list(struct(pos, id))) pattern
    (collect_list alone is partition-order dependent). Token-less
    documents have no encoding (consistent with the embed path)."""
    docs = read_documents(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
        ).alias("pos", "token"),
    )
    vocab = _vocab_with_ids(spark, sf_dir, vocab_size)
    enc = toks.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos", F.coalesce(F.col("tok_id"), F.lit(0)).alias("tok_id")
    )
    return enc.groupBy("doc_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, tok_id))), "
            "s -> s.tok_id)"
        ).alias("ids")
    )


def encode_documents(
    spark: SparkSession, sf_dir: str, vocab_size: int = ENCODE_VOCAB_SIZE
) -> DataFrame:
    """Driver-facing encode query: per document the token count and an
    md5 fingerprint of the ordered id sequence — scalars, so the
    cross-engine comparison is exact (the ids array itself is what
    ``encode_documents_df`` serves downstream)."""
    enc = encode_documents_df(spark, sf_dir, vocab_size=vocab_size)
    return enc.select(
        "doc_id",
        F.size("ids").cast("long").alias("n_tokens"),
        F.expr(
            "md5(array_join(transform(ids, x -> CAST(x AS STRING)), ','))"
        ).alias("ids_fp"),
    ).orderBy("doc_id")


SHUFFLE_SALT = "epoch0"


def global_shuffle(
    spark: SparkSession,
    sf_dir: str,
    salt: str = SHUFFLE_SALT,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Deterministic global corpus shuffle — the training-order step
    between packing and export: every epoch reads the corpus in a
    pseudo-random but REPRODUCIBLE order (salt = epoch tag), so a
    resumed run continues at the same permutation and two trainers
    given the same salt see identical batches.

    Order key = the 60-bit md5 grid over (salt, doc_id) — the same
    content-addressed kernel as the sampler/splits, so the permutation
    depends only on ids, never on partitioning — with doc_id as the
    total-order tie-break. Positions come from
    ``dedup.global_sorted_rank`` (range shuffle + narrow local rank +
    broadcast offsets), NOT a single-partition ``row_number`` window:
    one O(N) shuffle and a ≤ n_ranges-row control aggregate is the
    whole cost at any corpus size. Output (pos, ord_key, doc_id) is the
    manifest a sharded export writes; production follows with
    ``write.partitionBy(pos div shard_size)``."""
    from .dedup import global_sorted_rank

    docs = docs if docs is not None else read_documents(spark, sf_dir)
    key = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt + ":"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("ord_key")
    )
    ranked = global_sorted_rank(
        docs.select("doc_id", key), ["ord_key", "doc_id"]
    )
    return ranked.select(
        F.col("rank").alias("pos"), "ord_key", "doc_id"
    ).orderBy("pos")


SHARD_SEQS = 8  # sandbox-scale default: several shards at every SF so
# the driver contract exercises real shard boundaries; production sets
# this from target shard bytes (e.g. 2^14 sequences ≈ 1 GB at 4-byte
# tokens and 16k context)


def export_shards(
    spark: SparkSession,
    sf_dir: str,
    context: int = PACK_CONTEXT,
    seqs_per_shard: int = SHARD_SEQS,
    docs: DataFrame | None = None,
    path: str | None = None,
) -> DataFrame:
    """Shard manifest for the packed training stream — the EXPORT step
    after ``pack_sequences``: consecutive packed sequences are grouped
    into fixed-count shards (``shard_id = seq_id div seqs_per_shard``
    — deterministic, contiguous, so a consumer can stream shard k
    without reading shard k−1, and epoch shuffling can permute at
    shard granularity). Per shard the manifest carries row counts,
    token totals, the covered doc-id range, and ``content_fp`` — an
    ORDER-INDEPENDENT integer checksum (decimal sum of the 60-bit
    md5 prefix of each sequence's stat row, the checkpoint-manifest
    convention) that pins the shard's exact content: a re-export from
    changed input cannot collide silently, and a resumed export can
    verify staged shards before trusting them.

    With ``path`` the sequence rows are also written as parquet
    partitioned by ``shard_id`` (directory-prunable — a consumer
    reads exactly its shard) with the manifest alongside under
    ``_manifest``; the returned manifest is identical either way.
    Scale shape: everything up to the manifest is the proven
    pack_sequences plan (two-pass distributed prefix sum) plus one
    bounded groupBy on the ~N/context-row sequence table — no new
    corpus-sized shuffle."""
    seqs = pack_sequences(spark, sf_dir, context=context, docs=docs)
    sh = seqs.withColumn(
        "shard_id", F.expr(f"CAST(seq_id DIV {int(seqs_per_shard)} AS BIGINT)")
    )
    row_fp = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("seq_id").cast("string"),
                    F.col("n_docs").cast("string"),
                    F.col("n_tokens").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("decimal(38,0)")
    manifest = (
        sh.groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_seqs"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("first_doc").alias("first_doc"),
            F.max("last_doc").alias("last_doc"),
            # string, not decimal(38,0): an int128-range checksum survives
            # a pandas/Arrow result path exactly only as text (decimal and
            # HUGEINT both degrade to float64 and lose exactness past 2^53)
            F.sum(row_fp).cast("decimal(38,0)").cast("string").alias("content_fp"),
        )
        .orderBy("shard_id")
    )
    if path is not None:
        sh.write.mode("overwrite").partitionBy("shard_id").parquet(
            f"{path}/shards"
        )
        manifest.write.mode("overwrite").parquet(f"{path}/_manifest")
    return manifest


# --- content-defined chunking -------------------------------------------------
#
# chunk_documents cuts at FIXED offsets, so inserting one word early in
# a document shifts every later window and changes every downstream
# chunk fingerprint — the "boundary-shift problem" that defeats
# chunk-level dedup across document revisions. Content-defined chunking
# (CDC — the rsync/LBFS/backup-dedup family) cuts where the CONTENT
# says to: a boundary falls after any token whose hash ≡ 0 (mod D), so
# boundaries are a property of the local text alone. An insertion only
# perturbs chunks up to the first boundary after the edit; everything
# beyond re-fingerprints identically (asserted in tests).

CDC_DIVISOR = 16  # expected chunk length in tokens (geometric lengths;
#   a production min/max clamp is a parameter lever, not added here
#   because a max-cut re-introduces offset dependence within long runs)


def cdc_chunks(
    spark: SparkSession,
    sf_dir: str,
    divisor: int = CDC_DIVISOR,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Content-defined chunks per document: boundary after token t iff
    its 60-bit md5 hash ≡ 0 (mod ``divisor``).

    Plan shape: entirely per-row narrow JVM expressions — tokenize,
    compute the boundary-position array, cut the token array between
    consecutive boundaries, explode. No shuffle except the output sort;
    fan-out is bounded by the doc's own token count exactly like
    ``chunk_documents``. Chunk lengths are geometric with mean
    ``divisor``; emitted as (doc_id, chunk_idx, n_words, chunk_fp) with
    the md5 fingerprint standing in for the chunk text so cross-engine
    comparison stays exact and compact.
    """
    if divisor <= 1:
        raise ValueError(f"divisor must be > 1, got {divisor}")
    from .scanpar import ensure_scan_parallelism

    docs = ensure_scan_parallelism(
        docs if docs is not None else read_documents(spark, sf_dir)
    )
    tok_hash = (
        "pmod(CAST(conv(substring(md5(element_at(toks, p)), 1, 15), 16, 10) "
        f"AS BIGINT), {int(divisor)})"
    )
    # cut positions: 0, every boundary token position, n (deduplicated —
    # the last token may itself be a boundary)
    cuts = (
        "concat(array(0), array_distinct(concat("
        f"filter(sequence(1, size(toks)), p -> {tok_hash} = 0), "
        "array(size(toks)))))"
    )
    # cuts is strictly increasing (0 < first boundary, distinct, n last),
    # so every piece between consecutive cuts is non-empty by construction
    pieces = (
        "transform(sequence(1, size(cuts) - 1), i -> "
        "slice(toks, element_at(cuts, i) + 1, "
        "element_at(cuts, i + 1) - element_at(cuts, i)))"
    )
    return (
        docs.select(
            "doc_id",
            F.expr("filter(split(text, ' '), t -> t != '')").alias("toks"),
        )
        .filter(F.size("toks") > 0)
        .select("doc_id", "toks", F.expr(cuts).alias("cuts"))
        .select("doc_id", F.posexplode(F.expr(pieces)).alias("chunk_idx", "c"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.size("c").cast("int").alias("n_words"),
            F.md5(F.array_join(F.col("c"), " ")).alias("chunk_fp"),
        )
        .orderBy("doc_id", "chunk_idx")
    )
