"""Output checks, computed apart from the program.

Each check returns a list of problem strings (empty = pass), so a run
can report every problem it found and the corruption demo
(``corrupt.py``) can show that each check fires.
"""

from __future__ import annotations

import math
from typing import Dict, Iterable, List, Tuple

import pandas as pd

from gen import JACCARD_THRESHOLD, TurnTruth, jaccard


def _first(problems: List[str], limit: int = 5) -> List[str]:
    return problems if len(problems) <= limit else problems[:limit] + [
        f"... and {len(problems) - limit} more"
    ]


# --- transcript_job ------------------------------------------------------------


def planted_truth(out: pd.DataFrame, truth: Dict[Tuple[str, int], TurnTruth]) -> List[str]:
    """Body sentences survive in order; boilerplate and dropped layout
    blocks do not appear; html tables come out as pipe rows; captions
    and pdf table text appear."""
    problems = []
    for conv, turn, text in zip(out["conv_id"], out["turn_idx"], out["extracted_text"]):
        t = truth.get((conv, int(turn)))
        if t is None:
            continue  # an unexpected key is the key check's finding
        key = f"{conv}/{turn} ({t.kind})"
        pos = 0
        for s in t.body:
            at = text.find(s, pos)
            if at < 0:
                problems.append(f"{key}: body sentence missing or out of order: {s!r}")
                break
            pos = at + len(s)
        lines = set(text.split("\n"))
        problems += [f"{key}: boilerplate leaked: {m}" for m in t.absent if m in text]
        problems += [f"{key}: table row missing: {r!r}" for r in t.rows if r not in lines]
        problems += [f"{key}: missing {p!r}" for p in t.present if p not in text]
    return _first(problems)


def job_properties(
    inp: pd.DataFrame,
    out: pd.DataFrame,
    lineage: dict,
    stitched: pd.DataFrame,
) -> List[str]:
    """One output row per input key; chars_extracted = text length;
    kept + dropped = span count; lineage totals = output sums; stitched
    n_turns sum to the input's turn count, one row per conversation."""
    problems = []
    in_keys = set(zip(inp["conv_id"], inp["turn_idx"].astype(int)))
    out_keys = list(zip(out["conv_id"], out["turn_idx"].astype(int)))
    if len(out_keys) != len(set(out_keys)):
        problems.append(f"{len(out_keys) - len(set(out_keys))} duplicate output keys")
    missing, extra = in_keys - set(out_keys), set(out_keys) - in_keys
    if missing:
        problems.append(f"{len(missing)} input keys without output, e.g. {sorted(missing)[0]}")
    if extra:
        problems.append(f"{len(extra)} output keys not in the input, e.g. {sorted(extra)[0]}")
    lengths = out["extracted_text"].str.len()
    bad = int((lengths != out["chars_extracted"]).sum())
    if bad:
        problems.append(f"{bad} rows where chars_extracted != len(extracted_text)")
    n_spans = out["spans"].map(len)
    n_kept = out["spans"].map(lambda spans: sum(1 for s in spans if s["kept"]))
    bad = int((out["n_blocks_kept"] + out["n_blocks_dropped"] != n_spans).sum())
    if bad:
        problems.append(f"{bad} rows where kept + dropped != span count")
    bad = int((out["n_blocks_kept"] != n_kept).sum())
    if bad:
        problems.append(f"{bad} rows where n_blocks_kept != kept spans")
    sums = {
        "n_turns": len(out),
        "n_blocks_kept": int(out["n_blocks_kept"].sum()),
        "n_blocks_dropped": int(out["n_blocks_dropped"].sum()),
        "chars_extracted": int(out["chars_extracted"].sum()),
    }
    for k, v in sums.items():
        if int(lineage[k]) != v:
            problems.append(f"lineage {k} {lineage[k]} != output sum {v}")
    if int(stitched["n_turns"].sum()) != len(inp):
        problems.append(f"stitched n_turns sum {int(stitched['n_turns'].sum())} != {len(inp)} input turns")
    if sorted(stitched["conv_id"]) != sorted(inp["conv_id"].unique()):
        problems.append("stitched conversations differ from the input's conversations")
    return _first(problems)


def _canon_turns(df: pd.DataFrame) -> Dict[Tuple[str, int], tuple]:
    return {
        (c, int(t)): (x, tuple((s["start"], s["end"], s["label"], s["kept"]) for s in sp), int(k), int(d), int(n))
        for c, t, x, sp, k, d, n in zip(
            df["conv_id"], df["turn_idx"], df["extracted_text"], df["spans"],
            df["n_blocks_kept"], df["n_blocks_dropped"], df["chars_extracted"],
        )
    }


def same_turns(a: pd.DataFrame, b: pd.DataFrame, what: str) -> List[str]:
    """Turn-by-turn equality of two per-turn outputs."""
    ca, cb = _canon_turns(a), _canon_turns(b)
    if ca.keys() != cb.keys():
        return [f"{what}: key sets differ ({len(ca)} vs {len(cb)} turns)"]
    diff = [k for k in ca if ca[k] != cb[k]]
    return _first([f"{what}: turn {k} differs" for k in sorted(diff)])


# --- corpus_dedup ----------------------------------------------------------------


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def row_multiset(cols: List[str], rows: Iterable[tuple]) -> List[str]:
    """Order-insensitive canonical rows, columns taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def same_rows(name: str, got_cols: List[str], got_rows: list, want: dict) -> List[str]:
    """The program's rows equal the twin's (``{"columns", "rows"}`` with
    rows already in ``row_multiset`` form) as multisets."""
    if sorted(got_cols) != sorted(want["columns"]):
        return [f"{name}: columns {sorted(got_cols)} != twin columns {sorted(want['columns'])}"]
    gs, ws = row_multiset(got_cols, got_rows), want["rows"]
    if gs == ws:
        return []
    only_g = sorted(set(gs) - set(ws))[:2]
    only_w = sorted(set(ws) - set(gs))[:2]
    return [f"{name}: {len(gs)} rows vs {len(ws)} in the twin; program-only {only_g}, twin-only {only_w}"]


# --- index_ingest ------------------------------------------------------------------


def planted_verdicts(family: str, verdicts: Dict[int, str], planted: Dict[int, str]) -> List[str]:
    """Exact and near copies get near_dup, fresh documents get new, and
    every planted document has a verdict."""
    problems = []
    for doc_id, kind in sorted(planted.items()):
        want = "new" if kind == "fresh" else "near_dup"
        got = verdicts.get(doc_id)
        if got != want:
            problems.append(f"{family}: planted {kind} doc {doc_id} got {got!r}, expected {want!r}")
    return _first(problems)


def minhash_witnesses(verdicts: Dict[int, str], texts: Dict[int, str]) -> List[str]:
    """Every MinHash near_dup has an earlier document at or above the
    exact shingle-Jaccard threshold, recomputed here."""
    problems = []
    ids = sorted(texts)
    for doc_id, verdict in sorted(verdicts.items()):
        if verdict != "near_dup":
            continue
        text = texts[doc_id]
        if not any(
            jaccard(texts[o], text) >= JACCARD_THRESHOLD for o in ids if o < doc_id
        ):
            problems.append(f"minhash: doc {doc_id} is near_dup with no earlier doc at Jaccard >= {JACCARD_THRESHOLD}")
    return _first(problems)


def same_index(family: str, appended: List[tuple], one_pass: List[tuple]) -> List[str]:
    """After K appends the index equals a one-pass persist over the same
    rows, as a set."""
    a, b = set(appended), set(one_pass)
    if a == b:
        return []
    return [f"{family}: appended index has {len(a - b)} rows not in the one-pass index and lacks {len(b - a)}"]
