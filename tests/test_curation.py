"""Curation operators on planted fixtures: PII masking, C4-style
boilerplate line removal, Gopher-style repetition and layout signals."""

import pandas as pd
import pytest

from ocr_pipeline_fastapi_latency_optimization_spark.operators import curation
from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
    read_documents,
)


@pytest.fixture()
def corpus(spark, tmp_path):
    rows = [
        (0, "reach me at jane.doe@corp.example.com or 192.168.1.1", "en", "s", 1),
        (1, "call +123-456-7890 and 555 123 4567 today", "en", "s", 1),
        (2, "clean text with no pii at all", "en", "s", 1),
        (3, "body three\nSHARED FOOTER\nunique 3", "en", "s", 1),
        (4, "body four\nSHARED FOOTER\nunique 4", "en", "s", 1),
        (5, "body five\nSHARED FOOTER\nunique 5", "en", "s", 1),
        (6, "spam spam spam spam spam spam spam spam", "en", "s", 1),
        (7, "- bullet\n* bullet\nplain line\ntrailing off...", "en", "s", 1),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    path = str(tmp_path / "c")
    spark.createDataFrame(pdf).write.parquet(f"{path}/documents.parquet")
    return path


def test_pii_mask_counts_and_fingerprint(spark, corpus):
    out = curation.pii_mask(spark, corpus).toPandas().set_index("doc_id")
    assert out.loc[0, "n_emails"] == 1 and out.loc[0, "n_ips"] == 1
    assert out.loc[1, "n_phones"] == 2
    assert out.loc[2, ["n_emails", "n_ips", "n_phones"]].sum() == 0
    # a clean doc's fingerprint equals the md5 of its unchanged text
    import hashlib

    assert out.loc[2, "masked_fp"] == hashlib.md5(
        b"clean text with no pii at all"
    ).hexdigest()


def test_boilerplate_removes_only_cross_doc_lines(spark, corpus):
    out = (
        curation.boilerplate_lines(spark, corpus)
        .toPandas()
        .set_index("doc_id")
    )
    # SHARED FOOTER appears in 3 docs -> dropped exactly once per doc
    for d in (3, 4, 5):
        assert out.loc[d, "n_dropped"] == 1
        assert out.loc[d, "n_kept"] == 2
    # within-doc repetition (doc 6 one line) is NOT boilerplate
    assert out.loc[6, "n_dropped"] == 0


def test_boilerplate_rebuild_preserves_order(spark, corpus):
    import hashlib

    out = (
        curation.boilerplate_lines(spark, corpus)
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[3, "cleaned_fp"] == hashlib.md5(
        b"body three\nunique 3"
    ).hexdigest()


def test_repetition_flags_degenerate_text(spark, corpus):
    out = (
        curation.repetition_stats(spark, corpus).toPandas().set_index("doc_id")
    )
    # doc 6: 8x 'spam' -> 6 trigrams, all identical
    assert out.loc[6, "top_gram_count"] == 6
    assert out.loc[6, "dup_ratio_e4"] == 8333  # floor(5/6 * 1e4)
    assert out.loc[2, "dup_ratio_e4"] == 0


def test_symbol_ratios_layout_signals(spark, corpus):
    out = curation.symbol_ratios(spark, corpus).toPandas().set_index("doc_id")
    assert out.loc[7, "bullet_ratio_e4"] == 5000  # 2 of 4 lines
    assert out.loc[7, "ellipsis_ratio_e4"] == 2500  # 1 of 4 lines
    assert out.loc[2, "bullet_ratio_e4"] == 0


def test_hash_sample_deterministic_and_stratified(spark):
    """Membership is content-addressed: identical across reruns and
    partitionings, and rates land near their targets per stratum."""
    sf = "/root/testdata/sf0.01"
    a = curation.stratified_hash_sample(spark, sf).toPandas()
    b = (
        curation.stratified_hash_sample(
            spark, sf,
            docs=read_documents(spark, sf).repartition(13),
        )
        .toPandas()
    )
    assert sorted(a["doc_id"]) == sorted(b["doc_id"])
    docs = read_documents(spark, sf).groupBy("lang").count().toPandas()
    totals = dict(zip(docs["lang"], docs["count"]))
    got = a.groupby("lang").size().to_dict()
    for lang, rate in (("en", 0.5), ("de", 0.25)):
        if totals.get(lang, 0) >= 50:
            frac = got.get(lang, 0) / totals[lang]
            assert abs(frac - rate) < 0.15, (lang, frac)


def test_dataset_split_stable_under_corpus_growth(spark):
    """Adding documents must never move an existing doc across splits —
    the leakage guarantee. Check by splitting a half corpus and the full
    corpus and comparing the half's assignments."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    full = read_documents(spark, sf)
    half = full.filter(F.col("doc_id") < 250)

    def assign(docs):
        cell = curation._hash_grid(F.col("doc_id"))
        return {
            r["doc_id"]: ("train" if r["c"] < 9000 else "val" if r["c"] < 9500 else "test")
            for r in docs.select("doc_id", cell.alias("c")).collect()
        }

    a_half = assign(half)
    a_full = assign(full)
    assert all(a_full[d] == s for d, s in a_half.items())


def test_dedup_cluster_survivor_invariants(spark, tmp_path):
    """Every cluster has exactly one survivor and it is the minimum
    member id (the canonical-resolution contract)."""
    import pandas as pd

    from ocr_pipeline_fastapi_latency_optimization_spark.operators import dedup

    base = " ".join(f"w{i}" for i in range(40))
    rows = [(i, base, "en", "s", 1) for i in range(4)] + [
        (10, "another doc " + " ".join(f"x{i}" for i in range(40)), "en", "s", 1),
        (11, "another doc " + " ".join(f"x{i}" for i in range(40)), "en", "s", 1),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    path = str(tmp_path / "cl")
    spark.createDataFrame(pdf).write.parquet(f"{path}/documents.parquet")
    out = dedup.dedup_clusters(spark, path).toPandas()
    for cid, grp in out.groupby("cluster_id"):
        assert grp["survivor"].sum() == 1
        assert grp.loc[grp["survivor"], "doc_id"].iloc[0] == grp["doc_id"].min() == cid
        assert (grp["cluster_size"] == len(grp)).all()


def test_decontaminate_flags_eval_ngram_overlap(spark):
    """A training doc sharing any 8-gram with the eval set is flagged
    with the exact distinct-gram count; clean docs come back
    (0, false). Overlap windows spanning the doc/eval boundary must NOT
    count (they are not eval grams)."""
    import pandas as pd

    eval_text = "alpha beta gamma delta epsilon zeta eta theta iota"  # 9 words
    rows = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "completely unrelated words here nothing shared at all today",
                # contains the eval sentence verbatim mid-document
                "prefix words " + eval_text + " suffix words",
                # shares a 7-gram only — NOT a hit at n=8
                "alpha beta gamma delta epsilon zeta eta DIFFERENT tail",
            ],
        }
    )
    docs = spark.createDataFrame(rows)
    ev = spark.createDataFrame([("e0", eval_text)], "eval_id string, text string")
    out = (
        curation.decontaminate(spark, "unused", eval_docs=ev, docs=docs)
        .toPandas()
        .set_index("doc_id")
    )
    assert not out.loc[0, "contaminated"] and out.loc[0, "n_shared_grams"] == 0
    assert out.loc[1, "contaminated"] and out.loc[1, "n_shared_grams"] == 2
    assert not out.loc[2, "contaminated"] and out.loc[2, "n_shared_grams"] == 0


def test_quality_percentile_filter_per_stratum(spark):
    """Exactly the bottom decile per source is dropped (ties broken by
    doc_id, so the cut is deterministic), and the cut is RELATIVE: every
    stratum loses ~10% regardless of its absolute quality level."""
    out = curation.quality_percentile_filter(
        spark, "/root/testdata/sf0.01"
    ).toPandas()
    for src, grp in out.groupby("source"):
        n = len(grp)
        dropped = (~grp["kept"]).sum()
        # ntile puts ceil/floor(n/10) rows in tile 1
        assert dropped in (n // 10, -(-n // 10))
        # dropped docs are the lowest-quality ones of THIS stratum
        assert grp[~grp.kept]["q"].max() <= grp[grp.kept]["q"].min()


def test_quality_threshold_filter_semantics_and_skewed_stratum(spark):
    """The two-pass histogram cut (round-3 verdict #3): per stratum,
    kept == (q strictly above the k-th smallest q) where
    k = (N * frac) div 1e4 — verified against a pandas recomputation on
    a deliberately SKEWED fixture (one mega-stratum holding ~95% of the
    corpus, the shape that breaks the ntile form at scale), and a
    sub-1/frac stratum keeps everything (k == 0 → threshold -1)."""
    import pandas as pd

    rows = []
    # mega-stratum: 950 docs, quality spread via text length
    for i in range(950):
        rows.append((i, "word " * (5 + i % 97), "en", "mega", 1))
    # small stratum: 40 docs
    for i in range(40):
        rows.append((1000 + i, "text " * (3 + i % 11), "en", "small", 1))
    # tiny stratum: 5 docs < 1/frac -> k == 0 -> keep all
    for i in range(5):
        rows.append((2000 + i, "tiny " * (2 + i), "en", "tiny", 1))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    docs = spark.createDataFrame(pdf)
    out = curation.quality_threshold_filter(spark, "unused", docs=docs).toPandas()
    assert len(out) == len(pdf)
    for src, grp in out.groupby("source"):
        n = len(grp)
        k = (n * curation.THRESHOLD_FRAC_E4) // 10000
        if k == 0:
            assert grp["kept"].all()
            assert (grp["threshold_q"] == -1).all()
            continue
        t = sorted(grp["q"])[k - 1]  # k-th smallest q
        assert (grp["threshold_q"] == t).all()
        assert (grp["kept"] == (grp["q"] > t)).all()
        # everything at-or-below the boundary value drops (>= k docs)
        assert (~grp["kept"]).sum() >= k


def test_vocab_and_bigram_counts(spark, tmp_path):
    """Vocabulary statistics: exact occurrence + document-frequency
    counts, deterministic top-k cut under ties (total order), bigrams
    from adjacent tokens only (no cross-document pairs, no pairs from
    single-token docs), and the plan uses the bounded TakeOrdered
    top-k — never a global sort."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        token_bigram_counts,
        vocab_top_tokens,
    )

    rows = [
        (0, "a b a", "s"),      # a×2, b×1; bigrams: "a b", "b a"
        (1, "b a", "s"),        # bigram "b a"
        (2, "c", "s"),          # single token — no bigrams
        (3, "", "s"),           # token-less
        (4, "d d d d", "s"),    # d×4; "d d"×3
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)

    vocab = vocab_top_tokens(spark, sf, k=3).toPandas()
    assert vocab[["token", "occurrences", "docs"]].values.tolist() == [
        ["d", 4, 1],
        ["a", 3, 2],
        ["b", 2, 2],  # ties with... none; c(1) cut by k=3
    ]
    bi = token_bigram_counts(spark, sf, k=10).toPandas()
    assert bi[["bigram", "occurrences"]].values.tolist() == [
        ["d d", 3],
        ["b a", 2],
        ["a b", 1],
    ]
    # tie at the cut: k=2 keeps ("b a", 2) over ("a b", 1); among equal
    # counts the lexicographically smaller bigram wins deterministically
    bi2 = token_bigram_counts(spark, sf, k=2).toPandas()
    assert bi2["bigram"].tolist() == ["d d", "b a"]

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        vocab_top_tokens(spark, sf, k=3).explain(mode="simple")
    assert "TakeOrderedAndProject" in buf.getvalue(), buf.getvalue()


def test_dataset_mixture_binding_constraint_and_rates(spark, tmp_path):
    """Mixture math: the scarcest source relative to its target pins the
    achievable total (T = min n_s*1e4/share_s), the binding source is
    kept in FULL (derived rate 10000), over-supplied sources are
    under-sampled toward their wants, a targeted-but-absent source
    neither constrains nor contributes, and invalid shares raise."""
    import pytest

    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        dataset_mixture,
    )

    rows = (
        [(i, "x", "A") for i in range(100)]
        + [(1000 + i, "x", "B") for i in range(30)]
        + [(2000 + i, "x", "C") for i in range(50)]
    )
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)
    shares = {"A": 5000, "B": 3000, "C": 2000}
    # T = min(100/0.5, 30/0.3, 50/0.2) = 100 -> binding source B:
    # wants A=50, B=30, C=20; rates A=5000, B=10000, C=4000
    out = dataset_mixture(spark, sf, shares_e4=shares).toPandas()
    per = out.groupby("source")["doc_id"].count()
    assert per["B"] == 30  # binding source kept in full (rate 10^4)
    # hash-rate realization is binomial around the wants
    assert 30 <= per["A"] <= 70 and 8 <= per["C"] <= 32, per.to_dict()

    # a targeted source absent from the corpus changes nothing
    base = {"A": 5000, "B": 3000, "C": 1500}
    with_absent = dataset_mixture(
        spark, sf, shares_e4={**base, "Z": 500}
    ).toPandas()
    without = dataset_mixture(spark, sf, shares_e4=base).toPandas()
    assert with_absent.equals(without)

    with pytest.raises(ValueError, match="positive"):
        dataset_mixture(spark, sf, shares_e4={"A": 0})
    with pytest.raises(ValueError, match="10000"):
        dataset_mixture(spark, sf, shares_e4={"A": 9000, "B": 9000})


def test_lm_bigram_score_salad_below_typical(spark):
    """The LM-quality property: documents made of the corpus's common
    bigrams score high; shuffled word salad over the same vocabulary
    scores low; a doc of never-seen tokens scores lowest (smoothing
    floor). Ten 'typical' docs establish the model; the salad doc uses
    the same words in corpus-unseen orders."""
    typical = "the cat sat on the mat and the dog sat on the rug"
    rows = [(i, typical) for i in range(10)]
    rows.append((10, "mat the on cat rug sat dog the and on the sat"))
    rows.append((11, "zq xw vv kj pp qq zz ww"))
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import (
        curation,
    )

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        curation.lm_bigram_score(spark, "", docs=docs)
        .toPandas()
        .set_index("doc_id")
    )
    # typical text beats BOTH degenerate docs; the ordering BETWEEN the
    # two degenerates is not asserted — under self-training an
    # unseen-token doc has rare histories (c1 ~ 1) and its smoothed
    # conditionals approach 1/V, which can exceed the salad's common-
    # history penalties (documented property of mean-probability
    # scoring; a reference-trained model pushes both to the floor)
    assert out.loc[0, "lm_score_e6"] > out.loc[10, "lm_score_e6"]
    assert out.loc[0, "lm_score_e6"] > out.loc[11, "lm_score_e6"]
    assert out.loc[10, "lm_score_e6"] > 0  # add-one smoothing floor
    assert out.loc[11, "lm_score_e6"] > 0


def test_lm_bigram_score_short_docs_zero(spark):
    """Docs with fewer than two tokens have no bigrams: score 0, no
    NULLs (the toPandas float64-NaN gotcha)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import (
        curation,
    )

    docs = spark.createDataFrame(
        [(0, "solo"), (1, ""), (2, "a b")], "doc_id long, text string"
    )
    out = curation.lm_bigram_score(spark, "", docs=docs).toPandas()
    assert out["n_bigrams"].tolist() == [0, 0, 1]
    assert out["lm_score_e6"].dtype.kind == "i"
    assert out.loc[0, "lm_score_e6"] == 0 and out.loc[1, "lm_score_e6"] == 0


def test_train_bpe_merges_planted_fixture(spark):
    """Hand-computable BPE trainer fixture exercising all the training
    semantics at once: overlapping pair COUNTING ('aaa' contributes two
    (a,a) pairs), non-overlapping greedy APPLICATION ('aaab' merges to
    aa,a,b — not aa,aa-less), cross-word weight aggregation, chained
    merges consuming earlier outputs ((aa,ab) at rank 3), and the
    printable-ASCII word guard (the é-word would dominate every count
    if it leaked in)."""
    rows = (
        [(i, "aaab") for i in range(10)]
        + [(100 + i, "ab") for i in range(5)]
        + [(200 + i, "xy") for i in range(3)]
        + [(300 + i, "ééé") for i in range(100)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = [
        tuple(r)
        for r in curation.train_bpe_merges(
            spark, "", n_merges=3, docs=docs
        ).collect()
    ]
    # pass 1: (a,a) 2 per 'aaab' x10 = 20 beats (a,b) 15
    # pass 2: 'aaab'→[aa,a,b] so (a,b) 10+5 beats (aa,a) 10
    # pass 3: 'aaab'→[aa,ab]: the chained (aa,ab) merge
    assert out == [
        (1, "a", "a", "aa", 20),
        (2, "a", "b", "ab", 15),
        (3, "aa", "ab", "aaab", 10),
    ]


def test_train_bpe_merges_exhaustion_stops_early(spark):
    """A corpus whose words all collapse before n_merges is reached
    returns only the learnable merges (the twin's empty-m CTEs
    contribute no rows — same shape both engines)."""
    docs = spark.createDataFrame(
        [(1, "ab ab ab"), (2, "ab")], "doc_id long, text string"
    )
    out = [
        tuple(r)
        for r in curation.train_bpe_merges(
            spark, "", n_merges=5, docs=docs
        ).collect()
    ]
    assert out == [(1, "a", "b", "ab", 4)]


def test_semantic_decontaminate_flags_paraphrase_not_unrelated(spark):
    """The semantic complement of the 8-gram decontaminate: an eval doc
    that is a lightly-edited copy of a training doc (shares almost no
    8-grams after the edit spread) must flag that doc; an unrelated
    eval doc must flag nothing; clean docs carry 0-sentinels."""
    base = " ".join(f"tok{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (0, base, "en", "s", 1),
            (1, " ".join(f"other{i}" for i in range(60)), "en", "s", 1),
            (2, " ".join(f"third{i}" for i in range(60)), "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # paraphrase analog: two tokens swapped for fresh ones (norm moves
    # by ~2 of 60 token vectors — cosine far above 0.95)
    edited = base.replace("tok7", "EDIT7").replace("tok31", "EDIT31")
    ev = spark.createDataFrame(
        [(100, edited), (101, "completely unrelated benchmark phrase")],
        "eval_id long, text string",
    )
    out = (
        curation.semantic_decontaminate(spark, "", eval_docs=ev, docs=docs)
        .toPandas()
        .set_index("doc_id")
    )
    assert bool(out.loc[0, "contaminated"])
    assert out.loc[0, "n_eval_near"] == 1
    assert out.loc[0, "max_score_e6"] >= 950000
    for d in (1, 2):
        assert not bool(out.loc[d, "contaminated"])
        assert out.loc[d, "n_eval_near"] == 0
        assert out.loc[d, "max_score_e6"] == 0


def test_semantic_decontaminate_defeats_ngram_matching(spark):
    """The case that MOTIVATES the semantic pass: a WORD-ORDER
    paraphrase (even-indexed tokens then odd-indexed — no adjacent
    pair of the source survives, so not even a shared 2-gram, let
    alone an 8-gram) scores zero overlap under the exact n-gram
    decontaminate — while the bag-of-features embedding is IDENTICAL
    (cosine 10⁶ exactly). Token-replacement edits dense enough to
    break all 8-grams (≥ every 7th token) necessarily move ≥12% of
    the bag and drop cosine to ~0.87 — correctly below the 0.95
    near-dup bar; reordering is the evasion class this operator
    uniquely catches."""
    toks = [f"w{i}" for i in range(60)]
    base = " ".join(toks)
    permuted = " ".join(toks[0::2] + toks[1::2])
    docs = spark.createDataFrame(
        [(0, base, "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    ev = spark.createDataFrame(
        [(100, permuted)], "eval_id long, text string"
    )
    ng = (
        curation.decontaminate(spark, "", eval_docs=ev, docs=docs)
        .toPandas()
        .set_index("doc_id")
    )
    assert ng.loc[0, "n_shared_grams"] == 0 and not bool(
        ng.loc[0, "contaminated"]
    )
    sem = (
        curation.semantic_decontaminate(spark, "", eval_docs=ev, docs=docs)
        .toPandas()
        .set_index("doc_id")
    )
    assert bool(sem.loc[0, "contaminated"])
    assert sem.loc[0, "max_score_e6"] == 1000000


def test_semantic_decontaminate_index_probe_agrees(spark, tmp_path):
    """The O(eval) production path: probing the PERSISTED text cosine
    index (frozen family + center, prune-restricted scan, corpus sums
    recomputed for candidate ids only) must return byte-identical
    verdicts to the in-memory path over the index's build corpus."""
    import pandas as pd

    from ocr_pipeline_fastapi_latency_optimization_spark.operators import (
        embedding,
    )
    from pyspark.sql import functions as F

    def text(i, tag):
        return " ".join(f"{tag}{i}w{j}" for j in range(20))

    docs = spark.createDataFrame(
        [(i, text(i, "c"), "en", "s", 1) for i in range(50)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # eval set: paraphrase analogs of docs 3 and 17 + one unrelated
    ev = spark.createDataFrame(
        [
            (100, text(3, "c") + " tail"),
            (101, text(17, "c") + " tail"),
            (102, "nothing in common with the corpus at all"),
        ],
        "eval_id long, text string",
    )
    try:
        embedding.persist_text_cosine_index(
            spark, docs, "t_decon_idx", str(tmp_path / "didx"),
            n_storage_buckets=4,
        )
        got = (
            curation.semantic_decontaminate(
                spark, "", eval_docs=ev, docs=docs, index_table="t_decon_idx"
            )
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        want = (
            curation.semantic_decontaminate(spark, "", eval_docs=ev, docs=docs)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want)
        assert set(got[got["contaminated"]]["doc_id"]) == {3, 17}
        # index side of the probe plans no Exchange: the pruned scan +
        # broadcast-able eval side never shuffle the index
        plan = (
            curation.semantic_decontaminate(
                spark, "", eval_docs=ev, docs=docs, index_table="t_decon_idx"
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "t_decon_idx" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_decon_idx")


def test_bpe_encode_replays_trainer_state(spark):
    """Encoding applies merges in rank order = the trainer's own state
    updates: 'abab' collapses via a+b -> ab, ab+ab -> abab into ONE
    token; 'xyz' (no trained merges apply) stays 3 character tokens;
    non-ASCII words are OOV and skipped; empty docs carry the
    (0, 0, md5('')) sentinel. via_vocab (distinct-word encode + join)
    is byte-identical to the narrow expression path."""
    import hashlib

    docs = spark.createDataFrame(
        [
            (0, "abab abab abc", "en", "s", 1),
            (1, "abc xyz", "en", "s", 1),
            (2, "éé café", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = (
        curation.bpe_encode(spark, "", n_merges=3, docs=docs)
        .toPandas()
        .set_index("doc_id")
    )
    # merges learned: (a,b)->ab, (ab,ab)->abab, (ab,c)->abc
    assert out.loc[0, "n_words"] == 3 and out.loc[0, "n_bpe_tokens"] == 3
    assert out.loc[1, "n_words"] == 2 and out.loc[1, "n_bpe_tokens"] == 4
    assert out.loc[2, "n_words"] == 0 and out.loc[2, "n_bpe_tokens"] == 0
    assert out.loc[2, "tokens_fp"] == hashlib.md5(b"").hexdigest()
    sep = curation.BPE_SEP
    assert out.loc[0, "tokens_fp"] == hashlib.md5(
        (sep + "abab" + sep + "abab" + sep + "abc").encode()
    ).hexdigest()
    import pandas as pd

    ov = (
        curation.bpe_encode(spark, "", n_merges=3, docs=docs, via_vocab=True)
        .toPandas()
        .set_index("doc_id")
    )
    pd.testing.assert_frame_equal(out, ov)


def test_bpe_encode_accepts_external_merges(spark):
    """The production shape: merges trained ONCE on one corpus, applied
    to another — the encode must not retrain (a different corpus's
    statistics would silently change the vocabulary)."""
    train_docs = spark.createDataFrame(
        [(0, "abab abab", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    merges = curation.train_bpe_merges(spark, "", n_merges=2, docs=train_docs)
    apply_docs = spark.createDataFrame(
        [(7, "ab ba", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = (
        curation.bpe_encode(spark, "", docs=apply_docs, merges=merges)
        .toPandas()
        .set_index("doc_id")
    )
    # 'ab' -> 1 token under the (a,b) merge; 'ba' -> 2 tokens ('b','a'
    # — replace is positional, never commutative)
    assert out.loc[7, "n_bpe_tokens"] == 3


@pytest.fixture()
def dsir_corpus(spark, tmp_path):
    """Two vocabularies: target-lang docs speak 'alpha beta', non-target
    docs speak 'zeta omega', plus one non-target doc written in the
    TARGET vocabulary (the doc DSIR exists to find) and one bigram-less
    doc (sentinel path)."""
    rows = [
        (0, "alpha beta alpha beta gamma alpha beta", "en", "s", 1),
        (1, "beta alpha beta gamma alpha beta alpha", "en", "s", 1),
        (2, "zeta omega zeta omega psi zeta omega", "de", "s", 1),
        (3, "omega zeta omega psi zeta omega zeta", "de", "s", 1),
        (4, "alpha beta gamma alpha beta alpha", "de", "s", 1),  # target-like
        (5, "single", "de", "s", 1),  # no bigrams
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    path = str(tmp_path / "d")
    spark.createDataFrame(pdf).write.parquet(f"{path}/documents.parquet")
    return path


def test_dsir_importance_ranks_target_like_text(spark, dsir_corpus):
    out = (
        curation.dsir_importance(spark, dsir_corpus)
        .toPandas()
        .set_index("doc_id")
    )
    # the non-target doc written in the target vocabulary outranks the
    # non-target docs written in their own vocabulary
    assert out.loc[4, "avg_e4"] > out.loc[2, "avg_e4"]
    assert out.loc[4, "avg_e4"] > out.loc[3, "avg_e4"]
    # target-language docs score far above the non-target vocabulary
    assert out.loc[0, "avg_e4"] > 2 * out.loc[2, "avg_e4"]
    assert out.loc[1, "avg_e4"] > 2 * out.loc[3, "avg_e4"]
    # bigram-less doc takes the 0 sentinels, not NULL
    assert out.loc[5, "n_feat"] == 0
    assert out.loc[5, "score_e4"] == 0 and out.loc[5, "avg_e4"] == 0
    # occurrence-weighted: score_e4 = sum over features, so n_feat
    # equals the doc's bigram count (6 for a 7-token doc)
    assert out.loc[0, "n_feat"] == 6


def test_dsir_importance_partitioning_invariant(spark, dsir_corpus):
    a = curation.dsir_importance(spark, dsir_corpus).toPandas()
    docs = (
        spark.read.parquet(f"{dsir_corpus}/documents.parquet").repartition(7)
    )
    b = curation.dsir_importance(spark, dsir_corpus, docs=docs).toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values("doc_id").reset_index(drop=True),
        b.sort_values("doc_id").reset_index(drop=True),
    )


def test_dsir_importance_rejects_bad_buckets(spark, dsir_corpus):
    with pytest.raises(ValueError):
        curation.dsir_importance(spark, dsir_corpus, n_buckets=0)


@pytest.fixture()
def neardup_corpus(spark, tmp_path):
    """Many near-duplicate pairs (one-word edits of a long template) so
    MinHash-LSH clusters them, plus unrelated singletons."""
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "jugglers rehearse beside the quiet harbor under pale morning light"
    )
    rows = []
    for i in range(12):
        rows.append((2 * i, f"{base} variant {i}", "en", "s", 1))
        rows.append((2 * i + 1, f"{base} variant {i} extra", "en", "s", 1))
    for j in range(6):
        rows.append(
            (
                100 + j,
                f"only{j} words{j} carrying{j} suffix{j} number{j} appear{j} "
                f"here{j} item{j} token{j} word{j} flora{j} "
                f"fauna{j} stone{j} river{j} cloud{j}",
                "en",
                "s",
                1,
            )
        )
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    path = str(tmp_path / "nd")
    spark.createDataFrame(pdf).write.parquet(f"{path}/documents.parquet")
    return path


def test_cluster_safe_split_never_straddles_pairs(spark, neardup_corpus):
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import dedup

    out = curation.cluster_safe_split(spark, neardup_corpus).toPandas()
    split_of = dict(zip(out["doc_id"], out["split"]))
    cluster_of = dict(zip(out["doc_id"], out["cluster_id"]))
    pairs = dedup.minhash_lsh_pairs(spark, neardup_corpus).toPandas()
    assert len(pairs) >= 6  # the fixture really clusters
    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        assert split_of[a] == split_of[b]
        assert cluster_of[a] == cluster_of[b]
    # non-vacuous: the plain doc-id hash WOULD have straddled at least
    # one of these pairs (the leakage cluster_safe_split exists to stop)
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        SPLIT_BOUNDS,
        _hash_grid,
    )
    import pyspark.sql.functions as F

    cells = (
        spark.read.parquet(f"{neardup_corpus}/documents.parquet")
        .select("doc_id", _hash_grid(F.col("doc_id")).alias("cell"))
        .toPandas()
    )
    id_split = {
        r.doc_id: (
            "train" if r.cell < SPLIT_BOUNDS[0] else "val" if r.cell < SPLIT_BOUNDS[1] else "test"
        )
        for r in cells.itertuples()
    }
    straddled = [
        (a, b)
        for a, b in zip(pairs["doc_a"], pairs["doc_b"])
        if id_split[a] != id_split[b]
    ]
    assert straddled, "fixture must demonstrate doc-id-hash leakage"


def test_cluster_safe_split_singletons_match_plain_split(spark, neardup_corpus):
    """Docs in no candidate cluster get exactly the dataset_split
    assignment (cluster_id = doc_id), so adopting the cluster-safe
    split does not move the un-clustered 99% of the corpus."""
    out = (
        curation.cluster_safe_split(spark, neardup_corpus)
        .toPandas()
        .set_index("doc_id")
    )
    singles = out[out.index == out["cluster_id"]]
    clustered = out[out.index != out["cluster_id"]]
    assert len(singles) >= 6 and len(clustered) >= 12


# --- dsir resampling ----------------------------------------------------------


def test_dsir_resample_rate_and_weight_proportionality(spark):
    """On a mixed-weight fixture the realized keep rate lands near the
    target, higher-weight docs are kept at a measurably higher rate
    than lower-weight docs, and membership is stable across runs
    (hash-of-id, not position)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import curation

    rng = __import__("random").Random(5)
    rows = []
    for i in range(600):
        if i % 2 == 0:  # target-like docs: repeated en bigrams
            txt = " ".join("alpha beta".split() * 10)
            lang = "en"
        else:  # off-target docs
            txt = " ".join(f"x{rng.randrange(999)}" for _ in range(20))
            lang = "de"
        rows.append((i, txt, lang))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = curation.dsir_resample(spark, "", rate_e4=3000, docs=docs).toPandas()
    assert len(out) == 600
    rate = out.kept.mean()
    assert 0.2 < rate < 0.4, rate  # near the 30% target
    hi = out[out.doc_id % 2 == 0].kept.mean()
    lo = out[out.doc_id % 2 == 1].kept.mean()
    assert hi > lo + 0.2, (hi, lo)  # weight proportionality is real
    again = curation.dsir_resample(spark, "", rate_e4=3000, docs=docs).toPandas()
    assert (out.kept == again.kept).all()  # deterministic membership


def test_dsir_resample_rejects_bad_rate(spark):
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import curation

    with pytest.raises(ValueError):
        curation.dsir_resample(spark, "", rate_e4=0)
    with pytest.raises(ValueError):
        curation.dsir_resample(spark, "", rate_e4=10001)


def test_bpe_compression_eval_flags_underserved_source(spark):
    """The per-source view is the point: a source whose vocabulary
    dominated merge training gets low fertility (few tokens per word);
    an unseen-vocabulary source encodes near character-level — higher
    tokens_per_100w and lower chars_per_token."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators import curation

    rows = []
    for i in range(40):  # dominant source: tiny repeated vocabulary
        t = "the quick brown fox jumps " * 4
        rows.append((i, t.strip(), "en", "major", len(t.strip())))
    rng = __import__("random").Random(3)
    for i in range(40, 50):  # minor source: unseen words
        t = " ".join(
            "".join(rng.choice("qxzjvwk") for _ in range(8)) for _ in range(12)
        )
        rows.append((i, t, "en", "minor", len(t)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = curation.bpe_compression_eval(spark, "", docs=docs).toPandas()
    r = {x.source: x for x in out.itertuples(index=False)}
    assert r["minor"].tokens_per_100w > r["major"].tokens_per_100w
    assert r["minor"].chars_per_token_e2 < r["major"].chars_per_token_e2
    assert r["major"].n_docs == 40 and r["minor"].n_docs == 10


def test_temperature_mixture_flattens_and_is_content_addressed(spark, tmp_path):
    """alpha=1/2 temperature math on hand-checkable counts (400/100/25):
    isqrt weights 20/10/5, W=35, T=min(700,350,175)=175 -> binding
    source C kept in FULL; derived rates A=2500/B=5000/C=10000; the
    kept SET is exactly the md5-grid recompute (deterministic,
    shuffle-free keep decision); the mix flattens: the dominant
    source's kept share drops below its raw share, the scarce source's
    rises above."""
    import hashlib

    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        temperature_mixture,
    )

    rows = (
        [(i, "x", "A") for i in range(400)]
        + [(1000 + i, "x", "B") for i in range(100)]
        + [(2000 + i, "x", "C") for i in range(25)]
    )
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = temperature_mixture(spark, str(tmp_path)).toPandas()

    rates = {"A": 2500, "B": 5000, "C": 10000}
    expected = {
        (i, s)
        for i, _, s in rows
        if int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 10000
        < rates[s]
    }
    assert set(zip(out.doc_id, out.source)) == expected

    per = out.groupby("source")["doc_id"].count()
    assert per["C"] == 25  # binding source kept in full
    kept_share_A = per["A"] / per.sum()
    assert kept_share_A < 400 / 525  # dominant source down-weighted
    assert per["B"] / per.sum() > 100 / 525  # mid source up-weighted


def test_vocab_coverage_hand_computed(spark, tmp_path):
    """Exact coverage curve on a hand-computed histogram — token counts
    a=8, b=4, c=4, d=2, e=1, f=1 (total 20): p50 needs 1 of the two
    equal-count-4 types (the within-group ceil), p90 reaches through d,
    p99's threshold rounds up to the full stream."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        vocab_coverage,
    )

    rows = [
        (0, "a a a a a a a a", "en", "s", 1),
        (1, "b b b b c c c c", "en", "s", 1),
        (2, "d d e f", "en", "s", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = vocab_coverage(spark, str(tmp_path)).toPandas()
    got = [tuple(r) for r in out.to_numpy()]
    assert got == [
        (50, 2, 10, 20),
        (90, 4, 18, 20),
        (95, 5, 19, 20),
        (99, 6, 20, 20),
    ]


def test_contamination_report_four_classes(spark, tmp_path):
    """The per-eval report's class boundaries on controlled leakage:
    an exact copy hits BOTH detectors; a word-reversed copy has cosine
    1.0 (identical token bag; the e6 quantization floors the
    sqrt-roundtrip to 999999) but zero shared 8-grams —
    semantic_only, the paraphrase class n-gram matching cannot catch;
    an 8-word verbatim quote diluted by 12 unrelated words keeps one
    8-gram alive while the whole-doc cosine falls below threshold —
    lexical_only, the quote class embeddings cannot catch; unrelated
    text is clean."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        contamination_report,
    )

    d0 = " ".join(f"w{i}" for i in range(20))
    rows = [
        (0, d0, "en", "s", 1),
        (1, "completely different corpus filler text here today", "en", "s", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    evals = [
        (100, d0),                                              # both
        (101, " ".join(f"w{i}" for i in reversed(range(20)))),  # semantic_only
        (102, " ".join(f"w{i}" for i in range(8))
              + " " + " ".join(f"zz{i}" for i in range(12))),   # lexical_only
        (103, "nothing shared with anything at all honestly"),  # clean
    ]
    ev = spark.createDataFrame(evals, "eval_id long, text string")
    out = (
        contamination_report(spark, str(tmp_path), eval_docs=ev)
        .toPandas()
        .set_index("eval_id")
    )
    assert out.loc[100, "verdict"] == "both"
    assert out.loc[100, "max_cosine_e6"] >= 999999  # floor(1e6*x/(sqrt(x)*sqrt(x)))
    assert out.loc[101, "verdict"] == "semantic_only"
    assert out.loc[101, "max_cosine_e6"] >= 999999  # identical token bag
    assert out.loc[102, "verdict"] == "lexical_only"
    assert out.loc[103, "verdict"] == "clean"


def test_vocab_coverage_matches_brute_force_rank_walk(spark):
    """Independent third implementation (the twin-SQL incident guard:
    both engines once shared a first-qualifying-row bug, so an oracle
    match alone proves nothing about the math): brute-force pandas —
    sort token counts desc, cumulative sum, first rank reaching
    ceil(total*p/100) — must agree with the histogram-walk operator on
    the real sf0.001 corpus for every p."""
    import pandas as pd

    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        vocab_coverage,
    )

    sf = "/root/testdata/sf0.001"
    out = vocab_coverage(spark, sf).toPandas().set_index("p")

    docs = pd.read_parquet(f"{sf}/documents.parquet")
    toks = pd.Series(
        [t for text in docs["text"] for t in text.split(" ") if t != ""]
    )
    counts = toks.value_counts().sort_values(ascending=False).to_numpy()
    total = int(counts.sum())
    cum = counts.cumsum()
    for p in (50, 90, 95, 99):
        thresh = -(-total * p // 100)  # ceil
        brute = int((cum >= thresh).argmax()) + 1  # first rank covering
        assert out.loc[p, "vocab_size"] == brute, (p, brute)
        assert out.loc[p, "threshold_occ"] == thresh
        assert out.loc[p, "total_occ"] == total


def test_blocklist_filter_c4_rule(spark, tmp_path):
    """Any-hit drops (the published C4 rule), the integer ratio counts
    every occurrence, empty docs are keep=True with ratio 0, matching
    is exact bytes (no case folding here — that belongs upstream), and
    invalid lists raise."""
    import pytest as _pytest

    from ocr_pipeline_fastapi_latency_optimization_spark.operators.curation import (
        blocklist_filter,
    )

    rows = [
        (0, "clean text entirely fine", "en", "s", 1),
        (1, "one bad apple here", "en", "s", 1),
        (2, "bad bad bad fine", "en", "s", 1),
        (3, "", "en", "s", 1),
        (4, "BAD is not bad here", "en", "s", 1),  # case-sensitive: 1 hit
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = (
        blocklist_filter(spark, str(tmp_path), blocklist=("bad",))
        .toPandas()
        .set_index("doc_id")
    )
    assert bool(out.loc[0, "keep"]) and out.loc[0, "n_blocked"] == 0
    assert not bool(out.loc[1, "keep"]) and out.loc[1, "n_blocked"] == 1
    assert out.loc[2, "n_blocked"] == 3
    assert out.loc[2, "blocked_ratio_e4"] == 7500  # 3 of 4 tokens
    assert bool(out.loc[3, "keep"]) and out.loc[3, "blocked_ratio_e4"] == 0
    assert out.loc[4, "n_blocked"] == 1  # 'BAD' does not match 'bad'

    with _pytest.raises(ValueError, match="simple tokens"):
        blocklist_filter(spark, str(tmp_path), blocklist=("two words",))
    with _pytest.raises(ValueError, match="simple tokens"):
        blocklist_filter(spark, str(tmp_path), blocklist=())


def test_ccnet_buckets_hand_fixture(spark, tmp_path):
    """Hand-computed head/middle/tail: one language with 6 docs at 4
    distinct LM scores (ties across the boundary share the boundary
    bucket), one language with 2 docs (k_head = 0 -> empty head, k_mid
    = 1 -> the top doc lands middle, the other tail)."""
    rows = []
    # lang 'aa': base doc of repeated well-modeled bigrams scores high;
    # progressively noisier docs score lower. We don't hand-compute the
    # LM itself — we hand-compute the BUCKETING from the scores the
    # operator reports (the LM math is pinned by the lm_bigram twin).
    rows.append((0, "x y " * 30, "aa", "s", 1))
    rows.append((1, "x y " * 30, "aa", "s", 1))
    rows.append((2, "x y " * 15 + "q1 q2 q3 q4", "aa", "s", 1))
    rows.append((3, "x y " * 15 + "q5 q6 q7 q8", "aa", "s", 1))
    rows.append((4, "r1 r2 r3 r4 r5 r6", "aa", "s", 1))
    rows.append((5, "r7 r8 r9 r10 r11 r12", "aa", "s", 1))
    # lang 'bb': 2 docs -> n//3 = 0
    rows.append((6, "x y x y x y", "bb", "s", 1))
    rows.append((7, "z1 z2 z3", "bb", "s", 1))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = (
        curation.ccnet_perplexity_buckets(spark, str(tmp_path))
        .toPandas()
        .set_index("doc_id")
    )
    assert len(out) == 8
    aa = out[out["lang"] == "aa"].sort_values(
        "lm_score_e6", ascending=False
    )
    scores = aa["lm_score_e6"].tolist()
    # docs 0/1 are identical -> identical top scores; n=6 -> k_head=2,
    # k_mid=4: t_head = 2nd highest = the tied top score -> BOTH ties
    # are head; t_mid = 4th highest
    t_head = sorted(scores, reverse=True)[1]
    t_mid = sorted(scores, reverse=True)[3]
    for doc_id, row in out[out["lang"] == "aa"].iterrows():
        want = (
            "head" if row["lm_score_e6"] >= t_head
            else "middle" if row["lm_score_e6"] >= t_mid
            else "tail"
        )
        assert row["bucket"] == want, (doc_id, row.to_dict(), t_head, t_mid)
    assert set(out.loc[[0, 1], "bucket"]) == {"head"}
    # lang 'bb': k_head=0 -> no head; k_mid=1 -> top doc middle
    bb = out[out["lang"] == "bb"]
    assert "head" not in set(bb["bucket"])
    top_bb = bb["lm_score_e6"].max()
    for _, row in bb.iterrows():
        assert row["bucket"] == (
            "middle" if row["lm_score_e6"] >= top_bb else "tail"
        )


def test_token_budget_plan_hand_numbers(spark, tmp_path):
    """Integer-exact epoch plan on hand-sized sources: src0 is scarce
    (epoch cap binds -> deficit), src1 is abundant (uncapped, deficit
    only the floor residue), untargeted sources are absent."""
    rows = [
        (0, "a b c d e", "en", "src0", 1),        # 5 tokens
        (1, " ".join(["t"] * 200), "en", "src1", 1),  # 200 tokens
        (2, "x y", "en", "src9", 1),              # untargeted
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = (
        curation.token_budget_plan(
            spark,
            str(tmp_path),
            budget_tokens=1000,
            shares_e4={"src0": 4000, "src1": 3000},
            max_epochs_e4=40000,
        )
        .toPandas()
        .set_index("source")
    )
    assert set(out.index) == {"src0", "src1"}
    s0 = out.loc["src0"]
    # target = 1000*4000//10000 = 400; epochs = 400*1e4//5 = 800000 ->
    # capped at 4 epochs; granted = 5*40000//10000 = 20; deficit 380
    assert s0["tokens_available"] == 5
    assert s0["target_tokens"] == 400
    assert s0["epochs_e4"] == 800000
    assert s0["capped_epochs_e4"] == 40000
    assert s0["granted_tokens"] == 20
    assert s0["deficit_tokens"] == 380
    s1 = out.loc["src1"]
    # target = 300; epochs = 300*1e4//200 = 15000 (1.5 epochs, under
    # cap); granted = 200*15000//10000 = 300; deficit 0
    assert s1["tokens_available"] == 200
    assert s1["target_tokens"] == 300
    assert s1["epochs_e4"] == 15000
    assert s1["capped_epochs_e4"] == 15000
    assert s1["granted_tokens"] == 300
    assert s1["deficit_tokens"] == 0
    with pytest.raises(ValueError):
        curation.token_budget_plan(
            spark, str(tmp_path), budget_tokens=0
        )
    with pytest.raises(ValueError):
        curation.token_budget_plan(
            spark, str(tmp_path), shares_e4={"a": 9000, "b": 2000}
        )


def test_script_mix_report_planted_scripts(spark, tmp_path):
    """Planted per-script rows: counts equal an independent Python
    codepoint-range count, dominance follows max-count with the fixed
    tie-break order, all-zero rows report 'none'."""
    texts = {
        0: "hello world 42",
        1: "مرحبا بالعالم",
        2: "привет мир",
        3: "你好世界",
        4: "abc 123456",   # digits 6 > latin 3
        5: "!!! ???",       # none
        6: "ab12",          # tie 2=2 -> latin wins the fixed order
    }
    rows = [(i, t, "en", "s", 1) for i, t in texts.items()]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = (
        curation.script_mix_report(spark, str(tmp_path))
        .toPandas()
        .set_index("doc_id")
    )

    def pycount(t, lo, hi):
        return sum(1 for ch in t if lo <= ord(ch) <= hi)

    ranges = {
        "n_latin": [(0x41, 0x5A), (0x61, 0x7A)],
        "n_arabic": [(0x600, 0x6FF)],
        "n_cyrillic": [(0x400, 0x4FF)],
        "n_cjk": [(0x4E00, 0x9FFF)],
        "n_digit": [(0x30, 0x39)],
    }
    for i, t in texts.items():
        for col, rs in ranges.items():
            want = sum(pycount(t, lo, hi) for lo, hi in rs)
            assert out.loc[i, col] == want, (i, col)
    assert out.loc[0, "dominant"] == "latin"
    assert out.loc[1, "dominant"] == "arabic"
    assert out.loc[2, "dominant"] == "cyrillic"
    assert out.loc[3, "dominant"] == "cjk"
    assert out.loc[4, "dominant"] == "digit"
    assert out.loc[5, "dominant"] == "none"
    assert out.loc[6, "dominant"] == "latin"


def test_lang_mismatch_report_classes(spark, tmp_path):
    rows = [
        (0, "the cat and the dog of the house is in town", "en", "s", 1),
        (1, "der hund und die katze ist nicht das haus", "en", "s", 1),  # de text, en label
        (2, "the quick brown fox and the hen", "zh", "s", 1),            # zh label can't agree
        (3, "zz qq ww", "en", "s", 1),                                   # und
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = (
        curation.lang_mismatch_report(spark, str(tmp_path))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[0, "lang_pred"] == "en" and out.loc[0, "agrees"]
    assert out.loc[1, "lang_pred"] == "de" and not out.loc[1, "agrees"]
    assert out.loc[2, "lang_pred"] == "en" and not out.loc[2, "agrees"]
    assert out.loc[3, "lang_pred"] == "und" and not out.loc[3, "agrees"]


def test_gram_novelty_planted(spark, tmp_path):
    """Exact copies share every gram (novelty 0), unique docs score 10^4,
    sub-gram docs report the vacuous 10^4, and a half-shared doc lands
    at the hand-computed integer ratio."""
    a = " ".join(f"a{i}" for i in range(10))          # 3 distinct 8-grams
    c = " ".join(f"c{i}" for i in range(10))
    # doc 3: first 8 words of a (1 gram, shared) + 8 unique words
    # => grams: positions 1..9 of a 16-word text: 9 grams, 1 shared
    d3 = " ".join([f"a{i}" for i in range(8)] + [f"d{i}" for i in range(8)])
    rows = [
        (0, a, "en", "s", 1),
        (1, a, "en", "s", 1),       # exact copy of 0
        (2, c, "en", "s", 1),       # unique
        (3, d3, "en", "s", 1),
        (4, "tiny doc here", "en", "s", 1),  # < 8 words
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = (
        curation.gram_novelty(spark, str(tmp_path))
        .toPandas()
        .set_index("doc_id")
    )
    # docs 0/1: 3 grams each, every gram in both (df=2) => novelty 0
    for d in (0, 1):
        assert out.loc[d, "n_grams"] == 3
        assert out.loc[d, "n_unique"] == 0
        assert out.loc[d, "novelty_e4"] == 0
    assert out.loc[2, "n_grams"] == 3 and out.loc[2, "novelty_e4"] == 10000
    # doc 3: 9 grams; gram 'a0..a7' also appears in docs 0/1 => 8 unique
    assert out.loc[3, "n_grams"] == 9
    assert out.loc[3, "n_unique"] == 8
    assert out.loc[3, "novelty_e4"] == (8 * 10000) // 9
    assert out.loc[4, "n_grams"] == 0 and out.loc[4, "novelty_e4"] == 10000


def test_collocations_pmi_planted(spark, tmp_path):
    """A planted always-together pair tops the list and its integer PMI
    equals an independent Python computation over the token stream."""
    from collections import Counter

    texts = [
        "new york " * 6 + "filler one two",
        "new york is big and new york is busy",
        "one two three four one two three four",
    ]
    rows = [(i, t.strip(), "en", "s", 1) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = curation.collocations_pmi(
        spark, str(tmp_path), min_count=2, k=10
    ).toPandas()

    toks = [t.strip().split() for t in texts]
    uni = Counter(w for ws in toks for w in ws)
    big = Counter((a, b) for ws in toks for a, b in zip(ws, ws[1:]))
    tt = sum(uni.values())

    def pmi(a, b):
        return ((big[(a, b)] * 1000000) // uni[a]) * tt // uni[b]

    expect = sorted(
        (
            (pmi(a, b), a, b, c)
            for (a, b), c in big.items()
            if c >= 2
        ),
        key=lambda x: (-x[0], x[1], x[2]),
    )[:10]
    got = list(zip(out["pmi_e6"], out["w1"], out["w2"], out["c2"]))
    assert got == [(p, a, b, c) for p, a, b, c in expect]
    assert (out.loc[0, "w1"], out.loc[0, "w2"]) == expect[0][1:3]
    with pytest.raises(ValueError):
        curation.collocations_pmi(spark, str(tmp_path), min_count=0)


def test_decontaminate_spans_surgery(spark, tmp_path):
    """Span-level decontamination on hand-built leaks: a mid-document
    leak removes exactly its covering positions (one span), two nearby
    leaks MERGE into one span when their windows touch, buffer pads the
    cut, full-leak docs fingerprint empty, clean docs keep everything."""
    import hashlib

    ev_text = "e1 e2 e3 e4 e5 e6 e7 e8 e9"  # 9 tokens -> 2 distinct 8-grams
    pre = [f"a{i}" for i in range(5)]
    post = [f"b{i}" for i in range(5)]
    leak = ev_text.split()
    rows = [
        # doc 0: clean
        (0, " ".join(pre + post), "en", "s", 1),
        # doc 1: pre + full eval text + post -> one middle span
        (1, " ".join(pre + leak + post), "en", "s", 1),
        # doc 2: the eval text alone -> fully removed
        (2, ev_text, "en", "s", 1),
        # doc 3: leak, 3 clean tokens, leak again -> windows of the two
        # hits (each 9 tokens wide via 2 grams) leave the 3 middle
        # tokens kept -> two spans
        (3, " ".join(leak + ["m1", "m2", "m3"] + leak), "en", "s", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    ev = spark.createDataFrame([("e", ev_text)], "eval_id string, text string")
    out = (
        curation.decontaminate_spans(spark, str(tmp_path), eval_docs=ev)
        .toPandas()
        .set_index("doc_id")
    )

    def md5(tokens):
        return hashlib.md5(" ".join(tokens).encode()).hexdigest()

    assert out.loc[0].tolist() == [0, 0, 0, md5(pre + post)]
    # doc 1: 2 hit grams at i=6,7 -> removed positions 6..14 (9 tokens)
    assert out.loc[1, "n_hit_grams"] == 2
    assert out.loc[1, "tokens_removed"] == 9
    assert out.loc[1, "n_spans"] == 1
    assert out.loc[1, "kept_fp"] == md5(pre + post)
    # doc 2: everything removed
    assert out.loc[2, "tokens_removed"] == 9
    assert out.loc[2, "n_spans"] == 1
    assert out.loc[2, "kept_fp"] == md5([])
    # doc 3: two separated spans, middles kept
    assert out.loc[3, "n_hit_grams"] == 4
    assert out.loc[3, "tokens_removed"] == 18
    assert out.loc[3, "n_spans"] == 2
    assert out.loc[3, "kept_fp"] == md5(["m1", "m2", "m3"])

    # buffer=2 pads each cut: doc 1 loses 2 tokens each side of the
    # leak; doc 3's two windows now cover the 3 middle tokens -> MERGED
    # into one span and fully removed
    out2 = (
        curation.decontaminate_spans(spark, str(tmp_path), eval_docs=ev, buffer=2)
        .toPandas()
        .set_index("doc_id")
    )
    assert out2.loc[1, "tokens_removed"] == 13
    assert out2.loc[1, "n_spans"] == 1
    assert out2.loc[1, "kept_fp"] == md5(pre[:3] + post[2:])
    assert out2.loc[3, "tokens_removed"] == 21
    assert out2.loc[3, "n_spans"] == 1
    assert out2.loc[3, "kept_fp"] == md5([])
    with pytest.raises(ValueError):
        curation.decontaminate_spans(
            spark, str(tmp_path), eval_docs=ev, buffer=-1
        )
