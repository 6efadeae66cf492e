"""The seven bucketed index families through their shared persist/append
core (``sources/catalog.py``): the exact TBLPROPERTIES manifest each
family writes, and the append crash window exercised by fault
injection rather than simulated. The three text variants also share one
probe core (``embedding._text_index_verdicts``): degenerate batches and
tampered recorded centroids go through it."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from ocr_pipeline_fastapi_latency_optimization_spark.operators import (
    dedup,
    embedding,
    similarity,
)
from ocr_pipeline_fastapi_latency_optimization_spark.sources import catalog
from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
    read_documents,
)

SF_DIR = "/root/testdata/sf0.001"
BUILD_END = 250  # persist ids < 250
BATCH_END = 300  # append ids [250, 300); probes judge ids >= 300

COMMON = {"path", "n_storage_buckets", "bucket_cols", "sort_cols"}
TEXT_COSINE = {"cosine." + k for k in ("n_planes", "bands", "seed", "max_vec_id")}


def _docs(spark):
    return read_documents(spark, SF_DIR)


def _emb(spark):
    return similarity._emb(spark, SF_DIR)


def _ivf_batch(spark):
    # copies of the eight query vectors: each query's top neighbour is
    # its copy, so a duplicated index row would show in the ranking
    return _emb(spark).filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + BUILD_END).alias("vec_id"), "embedding"
    )


def _id_window(frame, id_col, lo, hi):
    return frame.filter((F.col(id_col) >= lo) & (F.col(id_col) < hi))


# per family: its TBLPROPERTIES prefix, the source id and content
# columns, its own keys beyond the common manifest, the recorded layout,
# the build and batch frames, and its public persist/append/probe
FAMILIES = {
    "minhash": dict(
        prefix="minhash",
        id_col="doc_id",
        content_col="text",
        keys={"minhash.n_perms", "minhash.bands", "minhash.hash_fn",
              "minhash.max_doc_id"},
        bucket_cols="band,bucket",
        sort_cols="band,bucket",
        source=lambda s: _id_window(_docs(s), "doc_id", 0, BUILD_END),
        batch=lambda s: _id_window(_docs(s), "doc_id", BUILD_END, BATCH_END),
        persist=dedup.persist_minhash_index,
        append=dedup.append_to_minhash_index,
        probe=lambda s, t: dedup.incremental_minhash_dedup(
            s, SF_DIR, boundary=BATCH_END, index_table=t
        ),
    ),
    "winnowing": dict(
        prefix="winnow",
        id_col="doc_id",
        content_col="text",
        keys={"winnow.k", "winnow.w", "winnow.max_doc_id"},
        bucket_cols="fp",
        sort_cols="fp",
        source=lambda s: _id_window(_docs(s), "doc_id", 0, BUILD_END),
        batch=lambda s: _id_window(_docs(s), "doc_id", BUILD_END, BATCH_END),
        persist=dedup.persist_winnowing_index,
        append=dedup.append_to_winnowing_index,
        probe=lambda s, t: dedup.incremental_winnowing_overlap(
            s, SF_DIR, boundary=BATCH_END, index_table=t
        ),
    ),
    "cosine": dict(
        prefix="cosine",
        id_col="vec_id",
        content_col="embedding",
        keys=set(TEXT_COSINE),
        bucket_cols="band,key",
        sort_cols="band,key",
        source=lambda s: _id_window(_emb(s), "vec_id", 0, BUILD_END),
        batch=lambda s: _id_window(_emb(s), "vec_id", BUILD_END, BATCH_END),
        persist=similarity.persist_cosine_index,
        append=similarity.append_to_cosine_index,
        probe=lambda s, t: similarity.incremental_cosine_dedup(
            s, SF_DIR, boundary=BATCH_END, index_table=t
        ),
    ),
    "ivf": dict(
        prefix="ivf",
        id_col="vec_id",
        content_col="embedding",
        keys={"ivf.n_centroids", "ivf.trained", "ivf.centroids",
              "ivf.max_vec_id"},
        bucket_cols="bucket",
        sort_cols="bucket,vec_id",
        source=lambda s: _id_window(_emb(s), "vec_id", 0, BUILD_END),
        batch=_ivf_batch,
        persist=similarity.persist_ivf_index,
        append=similarity.append_to_ivf_index,
        probe=lambda s, t: similarity.ivf_knn(s, SF_DIR, index_table=t),
    ),
    "text_cosine": dict(
        prefix="cosine",
        id_col="doc_id",
        content_col="text",
        keys=TEXT_COSINE | {"text.center_n", "text.center_t"},
        bucket_cols="band,key",
        sort_cols="band,key",
        source=lambda s: _id_window(_docs(s), "doc_id", 0, BUILD_END),
        batch=lambda s: _id_window(_docs(s), "doc_id", BUILD_END, BATCH_END),
        persist=embedding.persist_text_cosine_index,
        append=embedding.append_to_text_cosine_index,
        probe=lambda s, t: embedding.incremental_text_semantic_dedup(
            s, SF_DIR, boundary=BATCH_END, index_table=t
        ),
    ),
    "text_domain": dict(
        prefix="cosine",
        id_col="doc_id",
        content_col="text",
        keys=TEXT_COSINE | {"text.domain_centers", "text.domain_col"},
        bucket_cols="domain,band,key",
        sort_cols="domain,band,key",
        source=lambda s: _id_window(_docs(s), "doc_id", 0, BUILD_END),
        batch=lambda s: _id_window(_docs(s), "doc_id", BUILD_END, BATCH_END),
        persist=embedding.persist_text_domain_index,
        append=embedding.append_to_text_domain_index,
        probe=lambda s, t: embedding.incremental_text_domain_dedup(
            s, SF_DIR, boundary=BATCH_END, index_table=t
        ),
    ),
    "text_clustered": dict(
        prefix="cosine",
        id_col="doc_id",
        content_col="text",
        keys=TEXT_COSINE
        | {"text.domain_centers", "clustered.centroids",
           "clustered.n_clusters", "clustered.soft_assign"},
        bucket_cols="domain,band,key",
        sort_cols="domain,band,key",
        source=lambda s: _id_window(_docs(s), "doc_id", 0, BUILD_END),
        batch=lambda s: _id_window(_docs(s), "doc_id", BUILD_END, BATCH_END),
        persist=embedding.persist_text_clustered_index,
        append=embedding.append_to_text_clustered_index,
        probe=lambda s, t: embedding.incremental_text_clustered_dedup(
            s, SF_DIR, boundary=BATCH_END, index_table=t
        ),
    ),
}


def _spark_own_keys(spark, tmp_path):
    """Properties Spark itself records on a bucketed saveAsTable."""
    name = "t_core_bare"
    try:
        catalog.write_bucketed_table(
            _docs(spark).select("doc_id"), name, str(tmp_path / "bare"),
            ["doc_id"], 2,
        )
        return set(catalog.get_table_properties(spark, name))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _persist(spark, fam, name, path):
    fam["persist"](spark, fam["source"](spark), name, path, n_storage_buckets=4)


def _fingerprint(frame, id_col, content_col):
    r = frame.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(id_col, content_col).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{r['n']}:{r['h']}"


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_index_manifest_keys_pinned(spark, tmp_path, family):
    """Every family's persist writes exactly its own keys plus the
    common ``<prefix>.path/.n_storage_buckets/.bucket_cols/.sort_cols``
    manifest, and an append adds exactly ``<prefix>.applied_batches``
    and advances the watermark — keys and layout values pinned."""
    fam = FAMILIES[family]
    p = fam["prefix"]
    own = _spark_own_keys(spark, tmp_path)
    name = f"t_core_keys_{family}"
    path = str(tmp_path / "idx")
    try:
        _persist(spark, fam, name, path)
        props = catalog.get_table_properties(spark, name)
        written = set(props) - own
        assert written == fam["keys"] | {f"{p}.{k}" for k in COMMON} | {
            "option.parquet.block.size"  # the small-row-group layout
        }, family
        assert props["option.parquet.block.size"] == str(
            catalog.INDEX_ROWGROUP_BYTES
        )
        wm_key = next(k for k in fam["keys"] if ".max_" in k)
        src_max = fam["source"](spark).agg(F.max(fam["id_col"])).collect()[0][0]
        assert props[wm_key] == str(src_max)
        assert props[f"{p}.path"] == path
        assert props[f"{p}.n_storage_buckets"] == "4"
        assert props[f"{p}.bucket_cols"] == fam["bucket_cols"]
        assert props[f"{p}.sort_cols"] == fam["sort_cols"]

        batch = fam["batch"](spark)
        r = fam["append"](spark, batch, name)
        fp = _fingerprint(batch, fam["id_col"], fam["content_col"])
        assert r == {"status": "appended", "batch_fp": fp, "table": name}
        after = catalog.get_table_properties(spark, name)
        assert set(after) - own == written | {f"{p}.applied_batches"}
        assert after[f"{p}.applied_batches"] == fp
        batch_max = batch.agg(F.max(fam["id_col"])).collect()[0][0]
        assert after[wm_key] == str(batch_max)
        unchanged = {k: v for k, v in props.items() if k != wm_key}
        assert {k: after[k] for k in unchanged} == unchanged

        # replay is the recorded no-op; an empty batch is the empty no-op
        assert fam["append"](spark, batch, name)["status"] == "noop"
        assert fam["append"](spark, batch.limit(0), name) == {
            "status": "noop", "batch_fp": "empty", "table": name,
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _sorted(df):
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_append_crash_window_fault_injection(spark, tmp_path, monkeypatch, family):
    """A crash between the data append and the properties update: the
    properties write raises once, the retry re-appends the batch (no
    receipt was recorded), the probe verdicts still equal those of an
    index that never crashed, ``compact_bucketed_index`` restores the
    row count, and the next append still works."""
    fam = FAMILIES[family]
    p = fam["prefix"]
    crashed, clean = f"t_core_crash_{family}", f"t_core_clean_{family}"
    try:
        _persist(spark, fam, clean, str(tmp_path / "clean"))
        _persist(spark, fam, crashed, str(tmp_path / "crashed"))
        batch = fam["batch"](spark)
        fam["append"](spark, batch, clean)
        base_rows = spark.table(crashed).count()
        clean_rows = spark.table(clean).count()
        batch_rows = clean_rows - base_rows
        assert batch_rows > 0

        real = catalog.set_table_properties
        calls = []

        def crash_once(*args, **kwargs):
            if not calls:
                calls.append(args)
                raise RuntimeError("injected crash after the data append")
            return real(*args, **kwargs)

        monkeypatch.setattr(catalog, "set_table_properties", crash_once)
        with pytest.raises(RuntimeError, match="injected crash"):
            fam["append"](spark, batch, crashed)
        assert spark.table(crashed).count() == clean_rows  # data landed
        props = catalog.get_table_properties(spark, crashed)
        assert f"{p}.applied_batches" not in props  # receipt lost

        r = fam["append"](spark, batch, crashed)  # the retry
        assert r["status"] == "appended"
        assert spark.table(crashed).count() == clean_rows + batch_rows
        monkeypatch.setattr(catalog, "set_table_properties", real)

        want = _sorted(fam["probe"](spark, clean))
        pd.testing.assert_frame_equal(_sorted(fam["probe"](spark, crashed)), want)

        receipt = catalog.compact_bucketed_index(spark, crashed, p)
        assert receipt["rows_after"] == clean_rows
        assert spark.table(crashed).count() == clean_rows
        pd.testing.assert_frame_equal(_sorted(fam["probe"](spark, crashed)), want)

        nxt = fam["batch"](spark).select(
            (F.col(fam["id_col"]) + 1000).alias(fam["id_col"]),
            *[c for c in fam["batch"](spark).columns if c != fam["id_col"]],
        )
        assert fam["append"](spark, nxt, crashed)["status"] == "appended"
        assert spark.table(crashed).count() == clean_rows + batch_rows
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {crashed}")
        spark.sql(f"DROP TABLE IF EXISTS {clean}")


# --- the text probe core: three variants, one banding and probe path ---

TEXT_VARIANTS = {
    "text_cosine": (
        embedding._TEXT_GLOBAL, embedding.incremental_text_semantic_dedup
    ),
    "text_domain": (
        embedding._TEXT_DOMAIN, embedding.incremental_text_domain_dedup
    ),
    "text_clustered": (
        embedding._TEXT_CLUSTERED, embedding.incremental_text_clustered_dedup
    ),
}


@pytest.fixture(scope="module")
def text_indexes(spark, tmp_path_factory):
    """Each text variant persisted once over ids < BUILD_END."""
    root = tmp_path_factory.mktemp("text_core")
    names = {}
    for variant in TEXT_VARIANTS:
        names[variant] = f"t_core_probe_{variant}"
        _persist(spark, FAMILIES[variant], names[variant], str(root / variant))
    yield names
    for name in names.values():
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _degenerate_batch(spark, case):
    """(doc_id, text, lang, source, n_chars) rows at ids >= BUILD_END."""
    if case == "empty":
        return []
    r = _docs(spark).filter(F.col("doc_id") == 7).collect()[0]
    if case == "one":  # an exact copy of an indexed document
        return [(BUILD_END, r["text"], r["lang"], r["source"], r["n_chars"])]
    return [
        (BUILD_END + i, text, r["lang"], r["source"], len(text))
        for i, text in enumerate(["", "   ", " "])
    ]


@pytest.mark.parametrize("case", ["empty", "one", "tokenless"])
@pytest.mark.parametrize("variant", sorted(TEXT_VARIANTS))
def test_text_probe_core_degenerate_batches(
    spark, tmp_path, text_indexes, variant, case
):
    """An empty batch, a one-document batch and a batch of token-less
    documents, through ``incremental_text_*(index_table=)`` and through
    the probe kernel: no error, no rows for the empty batch, ``new`` for
    every token-less document, and the indexed document's copy flagged
    ``near_dup``."""
    spec, incremental = TEXT_VARIANTS[variant]
    table = text_indexes[variant]
    rows = _degenerate_batch(spark, case)
    schema = _docs(spark).schema
    docs = _id_window(_docs(spark), "doc_id", 0, BUILD_END).unionByName(
        spark.createDataFrame(rows, schema)
    )
    docs.write.parquet(f"{tmp_path}/documents.parquet")
    want = {
        "empty": [],
        "one": [(BUILD_END, "near_dup")],
        "tokenless": [(d, "new") for d, *_ in rows],
    }[case]

    def got(df):
        return [(r["doc_id"], r["verdict"]) for r in df.collect()]

    assert got(
        incremental(spark, str(tmp_path), boundary=BUILD_END, index_table=table)
    ) == want
    batch = spark.read.parquet(f"{tmp_path}/documents.parquet").filter(
        F.col("doc_id") >= BUILD_END
    )
    assert got(
        embedding._text_index_verdicts(
            spark, spec, batch, table, _docs(spark),
            embedding.TEXT_NEAR_DUP_THRESHOLD_E6,
        )
    ) == want


def test_adopted_clustered_centroids_are_validated(spark, tmp_path):
    """Recorded centroids pass ``similarity._cents_matrix``'s checks
    before any assignment: a tampered ``clustered.centroids`` with an id
    of 2**20 (the top-n key's id field would bleed into the score) or a
    short vector fails the probe and the append with a named error."""
    import json

    fam = FAMILIES["text_clustered"]
    name = "t_core_tampered"
    try:
        _persist(spark, fam, name, str(tmp_path / "idx"))
        recorded = json.loads(
            catalog.get_table_properties(spark, name)["clustered.centroids"]
        )
        first = min(recorded, key=int)
        batch = fam["batch"](spark)

        big_id = dict(recorded)
        big_id[str(1 << 20)] = big_id.pop(first)
        catalog.set_table_properties(
            spark, name, {"clustered.centroids": json.dumps(big_id)}
        )
        with pytest.raises(ValueError, match=r"outside \[0, 2\*\*20\)"):
            embedding.text_clustered_verdicts_for_batch(
                spark, batch, name, _docs(spark)
            )
        with pytest.raises(ValueError, match=r"outside \[0, 2\*\*20\)"):
            fam["append"](spark, batch, name)

        short = dict(recorded)
        short[first] = short[first][:-1]
        catalog.set_table_properties(
            spark, name, {"clustered.centroids": json.dumps(short)}
        )
        with pytest.raises(ValueError, match="ragged"):
            embedding.text_clustered_verdicts_for_batch(
                spark, batch, name, _docs(spark)
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
