"""The three workloads. Each drives the program only through its public
functions and has the same shape:

* ``write_inputs()`` — generate the seeded inputs and write them as
  tables (benchmark code; part of the set-up);
* ``round(spark, rec)`` — the timed operations, each run through
  ``rec.op`` so that it is recorded as a span and, if it raises (or an
  operation it needs failed), counted as failed;
* ``operations()`` — how many operations one round attempts;
* ``check(spark)`` — the output checks of ``checks.py`` on the last
  round's outputs;
* ``metrics(rec)`` — the round's end-to-end figures; ``report(rec)`` —
  the same under the names users of the workload know them by.
"""

from __future__ import annotations

import os
import shutil
import statistics
from typing import Dict, List

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
from tracing import Recorder

from ocr_pipeline_fastapi_latency_optimization_spark.operators import dedup, embedding
from ocr_pipeline_fastapi_latency_optimization_spark.operators.extraction import (
    stitch_conversations_salted,
)
from ocr_pipeline_fastapi_latency_optimization_spark.oracle import extract_frame
from ocr_pipeline_fastapi_latency_optimization_spark.plans.checkpoint import (
    lineage_metrics,
    read_output,
    run_with_checkpoint,
)
from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
    read_transcripts,
)


def du(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def median_s(spans) -> float:
    """Median duration of ``spans``; NaN when every one of them failed
    before it started."""
    return statistics.median(s.seconds for s in spans) if spans else float("nan")


def read_parquet_dir(path: str) -> pd.DataFrame:
    """Read a Spark-written parquet directory with pyarrow, not Spark
    (``bucket=N`` directories become a column)."""
    return pq.read_table(path, partitioning="hive").to_pandas()


class TranscriptJob:
    """job.py's flow over a generated transcripts table: checkpointed
    extraction, lineage, salted stitch; then resumes, each after a
    quarter of the buckets lose their lineage commit."""

    N_CONVS, MEAN_TURNS, LONG_TURNS = 1000, 8, 400
    BUCKETS = 4
    RESUMES = 5  # step_s is the median of this many resumes
    FILES = 8  # the input table's files, as a writer with 8 tasks leaves it
    ORACLE_SAMPLE = 300

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.rounds = 0

    def write_inputs(self) -> None:
        self.frame, self.truth = gen.transcripts(
            self.seed, self.N_CONVS, self.MEAN_TURNS, self.LONG_TURNS
        )
        self.input_path = os.path.join(self.work, "transcripts")
        _write_parts(self.frame, self.input_path, self.FILES)
        self.input_bytes = du(self.input_path)

    def _run(self, spark):
        return run_with_checkpoint(
            spark, read_transcripts(spark, self.input_path), self.dirs["out"], self.dirs["ckpt"],
            run_id="run", n_buckets=self.BUCKETS,
        )

    def round(self, spark, rec: Recorder) -> None:
        self.rounds += 1
        self.dirs = {k: os.path.join(self.work, f"run_{k}") for k in ("out", "ckpt", "conversations")}
        for d in self.dirs.values():
            shutil.rmtree(d, ignore_errors=True)
        ck = "job:checkpoint"
        with rec.span("job"):
            rec.op(ck, lambda: self._run(spark))
            self.lineage = rec.op(
                "job:lineage",
                lambda: lineage_metrics(spark, self.dirs["ckpt"]).collect()[0].asDict(),
                needs=[ck],
            )
            rec.op(
                "job:stitch",
                lambda: stitch_conversations_salted(read_output(spark, self.dirs["out"])).write.parquet(
                    self.dirs["conversations"]
                ),
                needs=[ck],
            )
        if rec.ok(ck):
            self.fresh = read_parquet_dir(self.dirs["out"])  # untimed snapshot
        self.stored = sum(du(p) for p in self.dirs.values())
        for i in range(self.RESUMES):
            if rec.ok(ck):
                for b in self.quarter(i):
                    # a resume that failed may have left it uncommitted
                    shutil.rmtree(
                        os.path.join(self.dirs["ckpt"], "lineage", f"bucket={b}"),
                        ignore_errors=not rec.ok("resume"),
                    )
            self.resumed = rec.op("resume", lambda: self._run(spark), needs=[ck])

    def quarter(self, i: int) -> List[int]:
        """The buckets resume ``i`` recomputes: a quarter of them, rotating
        through all four quarters, so that ``step_s`` follows the typical
        bucket rather than the size of one seed's first bucket."""
        n = self.BUCKETS // 4
        return list(range((i % 4) * n, (i % 4 + 1) * n))

    def operations(self) -> int:
        return 3 + self.RESUMES  # checkpointed run, lineage, stitch, resumes

    def check(self, spark) -> List[str]:
        out = read_parquet_dir(self.dirs["out"])
        stitched = read_parquet_dir(self.dirs["conversations"])
        problems = []
        want = self.quarter(self.RESUMES - 1)
        if sorted(self.resumed or []) != want:
            problems.append(f"resume processed buckets {self.resumed}, expected {want}")
        problems += checks.job_properties(self.frame, self.fresh, self.lineage, stitched)
        problems += checks.planted_truth(self.fresh, self.truth)
        problems += checks.same_turns(self.fresh, out, "resumed vs fresh output")
        sample = self.frame.sample(n=self.ORACLE_SAMPLE, random_state=self.seed)
        keys = set(zip(sample["conv_id"], sample["turn_idx"].astype(int)))
        got = self.fresh[[k in keys for k in zip(self.fresh["conv_id"], self.fresh["turn_idx"])]]
        problems += checks.same_turns(got, extract_frame(sample), "oracle sample")
        return problems

    def metrics(self, rec: Recorder) -> Dict[str, float]:
        return {
            "pass_s": rec.named("job")[-1].seconds,
            "step_s": median_s(rec.named("resume")[-self.RESUMES:]),
            "stored_bytes_per_input_byte": self.stored / self.input_bytes,
        }

    def report(self, rec: Recorder) -> Dict[str, float]:
        """The figures under the names users of the job know them by."""
        m = self.metrics(rec)
        return {
            "job_turns_per_s": len(self.frame) / m["pass_s"],
            "resume_s": m["step_s"],
            "stored_bytes_per_input_byte": m["stored_bytes_per_input_byte"],
        }


def _write(frame: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path, coerce_timestamps="us")


def _write_parts(frame: pd.DataFrame, path: str, n_files: int) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(frame)), n_files)):
        _write(frame.iloc[part], os.path.join(path, f"part-{i:05d}.parquet"))


class CorpusDedup:
    """One pass over similarity queries of ``__spark_entry__.queries()``
    on a generated documents/embeddings pair. The corpus content is fixed,
    so its DuckDB twins are computed once and reused; the seed shuffles
    the row order of both tables, which no query result may depend on."""

    QUERIES = ["semantic_dedup_text_clustered", "cosine_lsh_pairs"]
    # step_s: the pair-verify query (ROADMAP direction 4). One run of it
    # takes under 3 s and its first runs in a JVM still get faster, so
    # after its cold run in the pass it repeats STEP_REPEATS times and
    # step_s is the median of the repeats.
    STEP, STEP_REPEATS = "cosine_lsh_pairs", 7
    CORPUS_SEED, N_DOCS, N_VECS, N_DUP_PAIRS = 20260101, 1000, 500, 24

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.rounds = 0
        import __spark_entry__

        self.queries = __spark_entry__.queries()

    def write_inputs(self) -> None:
        docs, emb = gen.corpus(self.CORPUS_SEED, self.N_DOCS, self.N_VECS, self.N_DUP_PAIRS)
        self.tables = {"documents": docs, "embeddings": emb}
        rng = np.random.default_rng(self.seed)
        self.sf_dir = os.path.join(self.work, "corpus")
        os.makedirs(self.sf_dir, exist_ok=True)
        for name, frame in self.tables.items():
            shuffled = frame.iloc[rng.permutation(len(frame))].reset_index(drop=True)
            _write(shuffled, os.path.join(self.sf_dir, f"{name}.parquet"))
        self.input_bytes = du(self.sf_dir)

    def round(self, spark, rec: Recorder) -> None:
        self.rounds += 1
        self.out_dir = os.path.join(self.work, "results")
        shutil.rmtree(self.out_dir, ignore_errors=True)
        with rec.span("pass"):
            for q in self.QUERIES:
                rec.op(
                    f"query:{q}",
                    lambda q=q: self.queries[q](spark, self.sf_dir).write.parquet(os.path.join(self.out_dir, q)),
                )
        self.stored = du(self.out_dir)
        for _ in range(self.STEP_REPEATS):  # checked too: each rewrites the output
            rec.op(
                f"repeat:{self.STEP}",
                lambda: self.queries[self.STEP](spark, self.sf_dir)
                .write.mode("overwrite")
                .parquet(os.path.join(self.out_dir, self.STEP)),
            )

    def operations(self) -> int:
        return len(self.QUERIES) + self.STEP_REPEATS

    def check(self, spark) -> List[str]:
        import duckdb

        import twins

        want = twins.load_or_compute(self.tables, self.sf_dir, self.QUERIES)
        con = duckdb.connect()
        problems = []
        for q in self.QUERIES:
            if not os.path.isdir(os.path.join(self.out_dir, q)):
                problems.append(f"{q}: no output")
                continue
            cur = con.execute(f"SELECT * FROM read_parquet('{os.path.join(self.out_dir, q)}/*.parquet')")
            problems += checks.same_rows(q, [d[0] for d in cur.description], cur.fetchall(), want[q])
        return problems

    def metrics(self, rec: Recorder) -> Dict[str, float]:
        return {
            "pass_s": rec.named("pass")[-1].seconds,
            "step_s": median_s(rec.named(f"repeat:{self.STEP}")[-self.STEP_REPEATS:]),
            "stored_bytes_per_input_byte": self.stored / self.input_bytes,
        }

    def report(self, rec: Recorder) -> Dict[str, float]:
        m = self.metrics(rec)
        return {"dedup_pass_s": m["pass_s"], f"{self.STEP}_s": m["step_s"]}


class IndexIngest:
    """Persist a MinHash index and a text-cosine index over a base slice,
    then for K batches in id order: probe each family, then append."""

    N_BASE, N_BATCHES, PER_KIND = 800, 1, 8
    FAMILIES = ("minhash", "text_cosine")

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.rounds = 0

    def write_inputs(self) -> None:
        self.base, self.batches = gen.ingest(self.seed, self.N_BASE, self.N_BATCHES, self.PER_KIND)
        self.docs = pd.concat([self.base] + [b.frame for b in self.batches], ignore_index=True)
        self.paths = {"base": os.path.join(self.work, "base.parquet"), "docs": os.path.join(self.work, "docs.parquet")}
        _write(self.base, self.paths["base"])
        _write(self.docs, self.paths["docs"])
        for k, b in enumerate(self.batches):
            self.paths[f"batch{k}"] = os.path.join(self.work, f"batch{k}.parquet")
            _write(b.frame, self.paths[f"batch{k}"])
        self.input_bytes = du(self.paths["docs"])

    def _build(self, spark, rec: Recorder) -> Dict[str, tuple]:
        """Persist both families over the base slice; (table, path) by family."""
        tables = {f: (f"pb_{f}", os.path.join(self.work, f"idx_{f}")) for f in self.FAMILIES}
        for name, path in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(path, ignore_errors=True)
        base = spark.read.parquet(self.paths["base"])
        with rec.span("build"):
            rec.op("build:minhash", lambda: dedup.persist_minhash_index(spark, base, *tables["minhash"]))
            rec.op(
                "build:text_cosine",
                lambda: embedding.persist_text_cosine_index(spark, base, *tables["text_cosine"]),
            )
        return tables

    def _batch(self, spark, rec: Recorder, batch, docs, tables) -> Dict[str, Dict[int, str]]:
        mh, tc = tables["minhash"][0], tables["text_cosine"][0]
        with rec.span("batch"):
            v_mh = rec.op(
                "probe:minhash",
                lambda: dedup.minhash_verified_verdicts_for_batch(spark, batch, mh, docs).collect(),
                needs=["build:minhash"],
            )
            v_tc = rec.op(
                "probe:text_cosine",
                lambda: embedding.text_semantic_verdicts_for_batch(spark, batch, tc, docs).collect(),
                needs=["build:text_cosine"],
            )
            rec.op(
                "append:minhash",
                lambda: dedup.append_to_minhash_index(spark, batch, mh),
                needs=["build:minhash"],
            )
            rec.op(
                "append:text_cosine",
                lambda: embedding.append_to_text_cosine_index(spark, batch, tc),
                needs=["build:text_cosine"],
            )
        return {
            "minhash": {r["doc_id"]: r["verdict"] for r in v_mh or []},
            "text_cosine": {r["doc_id"]: r["verdict"] for r in v_tc or []},
        }

    def round(self, spark, rec: Recorder) -> None:
        self.rounds += 1
        self.tables = self._build(spark, rec)
        docs = spark.read.parquet(self.paths["docs"])
        self.verdicts = [
            self._batch(spark, rec, spark.read.parquet(self.paths[f"batch{k}"]), docs, self.tables)
            for k in range(self.N_BATCHES)
        ]
        self.stored = sum(du(p) for _, p in self.tables.values())

    def operations(self) -> int:
        return 2 + 4 * self.N_BATCHES

    def check(self, spark) -> List[str]:
        problems = []
        texts = dict(zip(self.docs["doc_id"].astype(int), self.docs["text"]))
        for b, v in zip(self.batches, self.verdicts):
            for f in self.FAMILIES:
                problems += checks.planted_verdicts(f, v[f], b.planted)
            problems += checks.minhash_witnesses(v["minhash"], texts)
        # after K appends, the MinHash index equals a one-pass persist
        name, path = self.tables["minhash"]
        one_name, one_path = "pb_onepass_minhash", os.path.join(self.work, "idx_onepass")
        spark.sql(f"DROP TABLE IF EXISTS {one_name}")
        shutil.rmtree(one_path, ignore_errors=True)
        dedup.persist_minhash_index(spark, spark.read.parquet(self.paths["docs"]), one_name, one_path)
        cols = ["band", "bucket", "doc_id"]
        rows = lambda p: list(read_parquet_dir(p)[cols].itertuples(index=False, name=None))
        problems += checks.same_index("minhash", rows(path), rows(one_path))
        # the text-cosine family freezes its centre and planes at build,
        # so a one-pass persist hashes differently: check instead that
        # every document sits in every band exactly once
        tc = read_parquet_dir(self.tables["text_cosine"][1])
        per_doc = tc.groupby("vec_id")["band"].agg(["count", "nunique"])
        n_bands = tc["band"].nunique()
        if set(per_doc.index) != set(texts) or not (per_doc == n_bands).all().all():
            problems.append("text_cosine: index rows are not one per (document, band)")
        # re-appending an applied batch is a recorded no-op
        last = spark.read.parquet(self.paths[f"batch{self.N_BATCHES - 1}"])
        for f, fn in (("minhash", dedup.append_to_minhash_index), ("text_cosine", embedding.append_to_text_cosine_index)):
            receipt = fn(spark, last, self.tables[f][0])
            if receipt.get("status") != "noop":
                problems.append(f"{f}: re-append of an applied batch returned {receipt}")
        return problems

    def metrics(self, rec: Recorder) -> Dict[str, float]:
        return {
            "pass_s": rec.named("build")[-1].seconds,
            "step_s": median_s(rec.named("batch")[-self.N_BATCHES:]),
            "stored_bytes_per_input_byte": self.stored / self.input_bytes,
        }

    def report(self, rec: Recorder) -> Dict[str, float]:
        m = self.metrics(rec)
        return {"index_build_s": m["pass_s"], "ingest_batch_s": m["step_s"]}


WORKLOADS = {
    "transcript_job": TranscriptJob,
    "corpus_dedup": CorpusDedup,
    "index_ingest": IndexIngest,
}
