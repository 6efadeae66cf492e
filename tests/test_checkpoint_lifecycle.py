"""Checkpoint staging lifecycle, crash windows and lineage exactness.

Staging holds only uncommitted buckets (reaped once a bucket's lineage
row commits), each bucket's lineage metrics are observed on its output
write, and the two crash windows of a bucket commit — between the
output write and the lineage commit, and between the lineage commit and
the reap — recover to a clean run's output. Lineage rows are checked
against the written output read with pyarrow, outside Spark."""

import ast
import inspect
import os

import pyarrow.parquet as pq
import pytest

from ocr_pipeline_fastapi_latency_optimization_spark.plans import checkpoint as cp
from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
    gen_transcripts,
    transcripts_df,
)

N_BUCKETS = 4
LAST = N_BUCKETS - 1


@pytest.fixture()
def corpus():
    # the conversations land in buckets 0, 2 and 3; bucket 1 is empty
    return gen_transcripts(n_convs=12, mean_turns=6, seed=11)


def _sorted_output(spark, out_dir):
    return (
        cp.read_output(spark, out_dir)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )


def _clean_output(spark, df, tmp_path):
    out = str(tmp_path / "clean_out")
    cp.run_with_checkpoint(spark, df, out, str(tmp_path / "clean_ckpt"), "c", n_buckets=N_BUCKETS)
    return _sorted_output(spark, out)


def _plain(v):
    """A cell as plain Python values (arrays of structs arrive as numpy
    arrays of dicts)."""
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return v


def _assert_same_turns(got, want):
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for col in want.columns:
        assert [_plain(v) for v in got[col]] == [_plain(v) for v in want[col]], col


def _staging_entries(ckpt):
    staging = os.path.join(ckpt, "staging")
    if not os.path.exists(staging):
        return set()
    return {n for n in os.listdir(staging) if n.startswith(("bucket=", "_staged_"))}


def _staged(buckets, nonempty):
    return {f"_staged_{b}" for b in buckets} | {f"bucket={b}" for b in buckets & nonempty}


def _nonempty(spark, df, n_buckets):
    rows = cp.with_bucket(df, n_buckets).select("bucket").distinct().collect()
    return {r["bucket"] for r in rows}


def test_checkpoint_builds_no_python_rows_and_never_reads_output():
    """The manifest and lineage rows are JVM-only frames (a
    ``createDataFrame`` of a Python list starts a Python worker task),
    and ``run_with_checkpoint`` takes each bucket's lineage metrics from
    its write — nothing in it reads ``out_dir`` back."""
    tree = ast.parse(inspect.getsource(cp))
    calls = [n for n in ast.walk(tree) if isinstance(n, ast.Call)]
    assert not [
        c for c in calls
        if isinstance(c.func, ast.Attribute) and c.func.attr == "createDataFrame"
    ]

    fn = next(
        n for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "run_with_checkpoint"
    )

    def names(node):
        return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}

    # out_dir and every name assigned from an expression that uses it
    tainted = {"out_dir"}
    for node in ast.walk(fn):
        if isinstance(node, ast.Assign) and names(node.value) & tainted:
            for t in node.targets:
                tainted |= names(t)

    def is_read(call):
        f = call.func
        while isinstance(f, (ast.Attribute, ast.Call)):
            if isinstance(f, ast.Attribute) and f.attr in ("read", "read_output"):
                return True
            f = f.value if isinstance(f, ast.Attribute) else f.func
        return isinstance(f, ast.Name) and f.id == "read_output"

    reads = [c for c in ast.walk(fn) if isinstance(c, ast.Call) and is_read(c)]
    assert reads, "expected the staging read"
    for c in reads:
        args = c.args + [k.value for k in c.keywords]
        assert not set().union(*(names(a) for a in args)) & tainted, ast.unparse(c)


def test_crash_between_output_write_and_lineage_commit(spark, tmp_path, corpus, monkeypatch):
    """The bucket's output is written but its lineage row never commits:
    the resume recomputes exactly that bucket from its still-recorded
    staging (no restage, no direct input read) and the output equals a
    clean run's, turn by turn."""
    df = transcripts_df(spark, corpus)
    want = _clean_output(spark, df, tmp_path)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    commit = cp._commit_lineage

    def crash_last(spark_, ckpt_, run_id, b, metrics):
        if b == LAST:
            raise RuntimeError("injected crash before lineage commit")
        commit(spark_, ckpt_, run_id, b, metrics)

    monkeypatch.setattr(cp, "_commit_lineage", crash_last)
    with pytest.raises(RuntimeError, match="before lineage commit"):
        cp.run_with_checkpoint(spark, df, out_dir, ckpt, "r1", n_buckets=N_BUCKETS)
    monkeypatch.setattr(cp, "_commit_lineage", commit)
    assert cp.completed_buckets(spark, ckpt) == [0, 1, 2]
    assert os.path.isdir(os.path.join(out_dir, f"bucket={LAST}"))
    assert _staging_entries(ckpt) == _staged({LAST}, _nonempty(spark, df, N_BUCKETS))

    bucketed = []
    with_bucket = cp.with_bucket
    monkeypatch.setattr(cp, "with_bucket", lambda *a: bucketed.append(a) or with_bucket(*a))
    assert cp.run_with_checkpoint(spark, df, out_dir, ckpt, "r2", n_buckets=N_BUCKETS) == [LAST]
    assert bucketed == []  # served from staging, not from the input
    _assert_same_turns(_sorted_output(spark, out_dir), want)
    assert sorted(os.listdir(ckpt)) == ["lineage", "manifest"]


@pytest.mark.parametrize("crash_bucket", [LAST, 0])
def test_crash_between_lineage_commit_and_reap(spark, tmp_path, corpus, monkeypatch, crash_bucket):
    """The bucket's lineage row commits but its staging is not reaped.
    Crash at the last bucket: the next run processes nothing and leaves
    only the manifest and lineage. Crash at the first: the next run
    reaps the committed bucket's staging before it works, so after a
    further injected failure staging holds the uncommitted bucket only."""
    df = transcripts_df(spark, corpus)
    nonempty = _nonempty(spark, df, N_BUCKETS)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    reap = cp._reap

    def crash(spark_, staging, buckets):
        if list(buckets) == [crash_bucket]:
            raise RuntimeError("injected crash before reap")
        reap(spark_, staging, buckets)

    monkeypatch.setattr(cp, "_reap", crash)
    with pytest.raises(RuntimeError, match="before reap"):
        cp.run_with_checkpoint(spark, df, out_dir, ckpt, "r1", n_buckets=N_BUCKETS)
    monkeypatch.setattr(cp, "_reap", reap)
    done = set(cp.completed_buckets(spark, ckpt))
    assert done == set(range(crash_bucket + 1))
    left = set(range(crash_bucket, N_BUCKETS))
    assert _staging_entries(ckpt) == _staged(left, nonempty)

    if crash_bucket == LAST:
        assert cp.run_with_checkpoint(spark, df, out_dir, ckpt, "r2", n_buckets=N_BUCKETS) == []
    else:
        with pytest.raises(RuntimeError, match="injected failure"):
            cp.run_with_checkpoint(
                spark, df, out_dir, ckpt, "r2", n_buckets=N_BUCKETS, fail_buckets={LAST}
            )
        assert _staging_entries(ckpt) == _staged({LAST}, nonempty)
        assert cp.run_with_checkpoint(spark, df, out_dir, ckpt, "r3", n_buckets=N_BUCKETS) == [LAST]
    assert sorted(os.listdir(ckpt)) == ["lineage", "manifest"]
    _assert_same_turns(_sorted_output(spark, out_dir), _clean_output(spark, df, tmp_path))


def test_restage_covers_only_the_todo_buckets(spark, tmp_path, corpus):
    """A todo set that staging does not fully cover is restaged — with
    the todo buckets only, never the committed ones."""
    import shutil

    df = transcripts_df(spark, corpus)
    nonempty = _nonempty(spark, df, N_BUCKETS)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="injected failure"):
        cp.run_with_checkpoint(
            spark, df, out_dir, ckpt, "r1", n_buckets=N_BUCKETS, fail_buckets={LAST}
        )
    # bucket 0 loses its lineage row: staging no longer covers the todo set
    shutil.rmtree(os.path.join(ckpt, "lineage", "bucket=0"))
    with pytest.raises(RuntimeError, match="injected failure"):
        cp.run_with_checkpoint(
            spark, df, out_dir, ckpt, "r2", n_buckets=N_BUCKETS, fail_buckets={LAST}
        )
    assert _staging_entries(ckpt) == _staged({LAST}, nonempty)
    assert cp.run_with_checkpoint(spark, df, out_dir, ckpt, "r3", n_buckets=N_BUCKETS) == [LAST]
    _assert_same_turns(_sorted_output(spark, out_dir), _clean_output(spark, df, tmp_path))


def _assert_lineage_is_output(ckpt, out_dir, n_buckets):
    """Every bucket's lineage row equals its written output, both read
    with pyarrow."""
    for b in range(n_buckets):
        out = pq.read_table(os.path.join(out_dir, f"bucket={b}")).to_pandas()
        rows = pq.read_table(os.path.join(ckpt, "lineage", f"bucket={b}")).to_pylist()
        assert len(rows) == 1, b
        row = rows[0]
        assert (row["bucket"], row["status"]) == (b, cp.STATUS_COMPLETED)
        assert row["n_turns"] == len(out), b
        for col in cp.METRICS[1:]:
            want = int(out[col].sum()) if len(out) else None
            assert row[col] == want, (b, col)


@pytest.mark.parametrize("concurrency", [1, 4])
@pytest.mark.parametrize("case", ["corpus", "empty_input", "sparse_buckets"])
def test_lineage_equals_written_output(spark, tmp_path, corpus, monkeypatch, concurrency, case):
    """Lineage metrics come from the write itself, so they must equal
    the output on disk — also for an empty input, for more buckets than
    conversations (empty buckets), and for a resume whose only todo
    bucket is empty (read from the input, nothing staged)."""
    df = transcripts_df(spark, corpus)
    n_buckets = N_BUCKETS
    if case == "empty_input":
        df = df.limit(0)
    elif case == "sparse_buckets":
        df = transcripts_df(spark, gen_transcripts(n_convs=3, mean_turns=4, seed=5))
        n_buckets = 8
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    done = cp.run_with_checkpoint(
        spark, df, out_dir, ckpt, "r1", n_buckets=n_buckets, concurrency=concurrency
    )
    assert done == list(range(n_buckets))
    _assert_lineage_is_output(ckpt, out_dir, n_buckets)
    assert sorted(os.listdir(ckpt)) == ["lineage", "manifest"]
    if case != "sparse_buckets":
        return

    import shutil

    empty = min(set(range(n_buckets)) - _nonempty(spark, df, n_buckets))
    shutil.rmtree(os.path.join(ckpt, "lineage", f"bucket={empty}"))
    stage = cp._stage
    staged = []
    monkeypatch.setattr(cp, "_stage", lambda *a: staged.append(a) or stage(*a))
    assert cp.run_with_checkpoint(
        spark, df, out_dir, ckpt, "r2", n_buckets=n_buckets, concurrency=concurrency
    ) == [empty]
    assert staged == []
    _assert_lineage_is_output(ckpt, out_dir, n_buckets)
    assert sorted(os.listdir(ckpt)) == ["lineage", "manifest"]
