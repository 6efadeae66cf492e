"""Seeded input generators with planted truth.

Everything here is the benchmark's own: the program receives only the
tables written from these frames, so a change to the package's synthetic
sources cannot silently change a workload.

* ``transcripts(seed, ...)`` — a transcripts table (plain, html-ish,
  pdf-layout and mangled-sentinel payloads, one planted long
  conversation) plus, per turn, the planted truth the output checks use.
* ``corpus(seed, ...)`` — a documents table and an embeddings table of
  the shape the similarity queries read, with planted exact and near
  duplicates.
* ``ingest(seed, ...)`` — a base slice of documents and K ingest batches
  in id order, carrying planted exact copies, near copies and fresh
  documents.
* ``jaccard`` / ``embed`` / ``cosine`` — the similarity figures the
  planted near copies are checked against, computed here from the
  documented definitions, not by calling the program.
"""

from __future__ import annotations

import hashlib
import json
import math
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd

BODY_WORDS = (
    "river stone light garden window paper market engine signal harbor "
    "winter silver forest copper valley bridge thunder meadow canvas ladder "
    "orbit pepper marble lantern velvet compass quarry timber falcon willow "
    "saddle basket glacier pencil harvest ribbon tunnel beacon anchor mirror"
).split()
ROLES = ["user", "assistant", "tool", "system"]
EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
PAGE_W, PAGE_H = 1654, 2339
# payload shares: plain, html, pdf-layout, mangled-sentinel
KIND_SHARES = (("plain", 0.40), ("html", 0.35), ("pdf", 0.20), ("mangled", 0.05))


@dataclass
class TurnTruth:
    """What the extracted text of one turn must and must not contain."""

    kind: str
    body: List[str] = field(default_factory=list)  # in reading order
    absent: List[str] = field(default_factory=list)  # boilerplate / dropped
    rows: List[str] = field(default_factory=list)  # html pipe rows
    present: List[str] = field(default_factory=list)  # captions, pdf tables


def _marker(rng: random.Random, prefix: str) -> str:
    return f"{prefix}q{rng.getrandbits(32):08x}"


def _sentence(rng: random.Random, lo: int = 5, hi: int = 11) -> str:
    words = [rng.choice(BODY_WORDS) for _ in range(rng.randint(lo, hi))]
    return " ".join(words).capitalize() + "."


def _plain(rng: random.Random, t: TurnTruth) -> str:
    paras = []
    for _ in range(rng.randint(1, 4)):
        lines = [_sentence(rng) for _ in range(rng.randint(1, 3))]
        t.body.extend(lines)
        paras.append("\n".join(lines))
        if rng.random() < 0.2:
            paras.append("***")  # a symbol-only block, dropped
    return "\n\n".join(paras) + ("\n" if rng.random() < 0.5 else "")


def _html(rng: random.Random, t: TurnTruth) -> str:
    parts: List[str] = []
    if rng.random() < 0.7:
        links = [_marker(rng, "nav") for _ in range(rng.randint(2, 4))]
        t.absent.extend(links)
        parts.append(
            "<nav>" + " ".join(f'<a href="/{w}">{w}</a>' for w in links) + "</nav>"
        )
    for _ in range(rng.randint(1, 4)):
        if rng.random() < 0.3:  # fragmented run the tokenizer merges
            a, b = _sentence(rng), _sentence(rng)
            t.body.extend([a, b])
            parts.append(f"<p>{a}</p><p>{b}</p>")
        else:
            s = _sentence(rng, 6, 14)
            t.body.append(s)
            parts.append(f"<p>{s}</p>")
    if rng.random() < 0.4:
        ncols = rng.randint(2, 4)
        grid = [[rng.choice(BODY_WORDS) for _ in range(ncols)]] + [
            [str(rng.randint(0, 999)) for _ in range(ncols)]
            for _ in range(rng.randint(1, 4))
        ]
        t.rows.extend("| " + " | ".join(r) + " |" for r in grid)
        head = "".join(f"<th>{c}</th>" for c in grid[0])
        body = "".join(
            "<tr>" + "".join(f"<td>{c}</td>" for c in r) + "</tr>" for r in grid[1:]
        )
        parts.append(f"<table><tr>{head}</tr>{body}</table>")
    if rng.random() < 0.3:
        cap = _sentence(rng, 3, 6)
        t.present.append(f"![figure] {cap}")
        parts.append(f"<figure><img src='x.png'/><figcaption>{cap}</figcaption></figure>")
    if rng.random() < 0.6:
        foot = _marker(rng, "foot")
        t.absent.append(foot)
        parts.append(f"<footer><a href='/c'>{foot}</a> contact 2026</footer>")
    return "\n".join(parts)


def _block(box, label, conf, text):
    return {"bbox": list(box), "label": label, "conf": conf, "text": text}


def _column_blocks(rng, t: TurnTruth, x0, x1, y, n, height, gap):
    """``n`` stacked blocks in one column, top to bottom; the body/table/
    figure truth is recorded in that (reading) order."""
    out = []
    for _ in range(n):
        draw = rng.random()
        box = (x0, y, x1, y + height)
        if draw < 0.12:
            text = f"tab{rng.getrandbits(24):06x} " + " ".join(
                str(rng.randint(0, 99)) for _ in range(6)
            )
            t.present.append(text)
            out.append(_block(box, "table", round(rng.uniform(0.5, 0.99), 4), text))
        elif draw < 0.22:
            cap = _sentence(rng, 3, 6)
            t.present.append(f"![figure] {cap}")
            label = rng.choice(["image", "chart"])
            out.append(_block(box, label, round(rng.uniform(0.5, 0.99), 4), cap))
        else:
            s = _sentence(rng)
            t.body.append(s)
            label = rng.choice(["text", "paragraph_title", "abstract", "content"])
            out.append(_block(box, label, round(rng.uniform(0.5, 0.99), 4), s))
        y += height + gap
    return out


def _pdf(rng: random.Random, t: TurnTruth) -> str:
    """Layout pages whose reading order is fixed by construction: a
    full-width title, then either one column or two columns whose
    blocks are offset so no horizontal whitespace band crosses both
    (XY-cut then splits the columns first). Footer-labelled and
    below-confidence blocks carry unique markers that must not survive."""
    pages = []
    for _ in range(rng.randint(1, 3)):
        title = _sentence(rng, 3, 5)
        t.body.append(title)
        blocks = [_block((200, 120, 1450, 200), "doc_title", 0.95, title)]
        if rng.random() < 0.4:
            blocks += _column_blocks(rng, t, 120, 790, 300, rng.randint(2, 4), 140, 20)
            blocks += _column_blocks(rng, t, 860, 1530, 360, rng.randint(2, 4), 140, 20)
        else:
            blocks += _column_blocks(rng, t, 120, 1530, 300, rng.randint(2, 6), 150, 40)
        low = _marker(rng, "lowconf")
        t.absent.append(low)
        blocks.append(
            _block((120, 1700, 1530, 1780), "text", round(rng.uniform(0.05, 0.3), 4), low)
        )
        foot = _marker(rng, "pagefoot")
        t.absent.append(foot)
        blocks.append(_block((120, PAGE_H - 50, 1530, PAGE_H - 10), "footer", 0.9, foot))
        if rng.random() < 0.3:
            aside = _marker(rng, "aside")
            t.absent.append(aside)
            blocks.append(_block((1560, 300, 1640, 900), "aside_text", 0.8, aside))
        rng.shuffle(blocks)  # detector output order is not reading order
        pages.append({"w": PAGE_W, "h": PAGE_H, "blocks": blocks})
    return json.dumps({"pages": pages}, sort_keys=True)


def _mangled(rng: random.Random, t: TurnTruth) -> str:
    a, b = _sentence(rng), _sentence(rng)
    t.body.extend([a, b])
    tag = rng.choice(
        [f"[[TURN {rng.randint(0, 9)} table_{rng.randint(0, 3)}]]", "[[ turn 4 FIGURE .. ]]"]
    )
    return f"{a}\n{tag}\n{b}"


_MAKERS = {"plain": _plain, "html": _html, "pdf": _pdf, "mangled": _mangled}


def _kind(rng: random.Random) -> str:
    draw, acc = rng.random(), 0.0
    for kind, share in KIND_SHARES:
        acc += share
        if draw < acc:
            return kind
    return KIND_SHARES[-1][0]


def transcripts(
    seed: int, n_convs: int, mean_turns: int, long_turns: int
) -> Tuple[pd.DataFrame, Dict[Tuple[str, int], TurnTruth]]:
    """(transcripts frame, truth by (conv_id, turn_idx)). Conversation
    lengths are uniform on [1, 2·mean_turns − 1]; ``conv_long`` is the
    planted long conversation. Rows are shuffled: ordering is the
    pipeline's job."""
    rng = random.Random(seed)
    lengths = {f"c{seed % 1000:03d}_{i:05d}": rng.randint(1, 2 * mean_turns - 1) for i in range(n_convs)}
    lengths[f"c{seed % 1000:03d}_long"] = long_turns
    rows, truth = [], {}
    for ci, (conv, n) in enumerate(lengths.items()):
        for turn in range(n):
            kind = _kind(rng)
            t = TurnTruth(kind)
            text = _MAKERS[kind](rng, t)
            role = rng.choice(ROLES)
            rows.append(
                (conv, turn, role, text, "search" if role == "tool" else None,
                 EPOCH + timedelta(hours=ci % 8760, seconds=30 * turn))
            )
            truth[(conv, turn)] = t
    rng.shuffle(rows)
    frame = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    frame["turn_idx"] = frame["turn_idx"].astype("int32")
    return frame, truth


# --- documents ---------------------------------------------------------------

DOC_WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query key window row table stream merge data "
    "join vector customer big a the"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]


def _doc_text(rng: random.Random, lo: int = 8, hi: int = 90) -> str:
    return " ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(lo, hi)))


def _near_copy(text: str) -> str:
    """One appended token, the document's most frequent word: shingle
    Jaccard (n-1)/n for n shingles, and a cosine near 1."""
    words = text.split(" ")
    top = max(sorted(set(words)), key=words.count)
    return text + " " + top


def corpus(seed: int, n_docs: int, n_vecs: int, n_dup_pairs: int) -> Tuple[pd.DataFrame, pd.DataFrame]:
    """documents(doc_id, text, lang, source, n_chars) with planted exact
    and near duplicate pairs, and embeddings(vec_id, embedding, label)
    drawn around 8 cluster centres with planted near-identical vectors."""
    rng = random.Random(seed)
    texts = [_doc_text(rng, 20) for _ in range(n_docs)]
    for i in range(n_dup_pairs):
        src, dst = rng.randrange(n_docs // 2), n_docs // 2 + rng.randrange(n_docs // 2)
        texts[dst] = texts[src] if i % 2 == 0 else _near_copy(texts[src])
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[rng.randrange(len(LANGS))] for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    gen = np.random.default_rng(seed)
    centres = gen.normal(size=(8, 64))
    labels = gen.integers(0, 8, size=n_vecs)
    vecs = centres[labels] + gen.normal(scale=2.0, size=(n_vecs, 64))
    for i in range(n_dup_pairs):
        a, b = gen.integers(0, n_vecs, size=2)
        vecs[b] = vecs[a] + gen.normal(scale=0.01, size=64)
        labels[b] = labels[a]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": labels.astype(np.int32),
        }
    )
    return docs, emb


# --- ingest --------------------------------------------------------------------

# planted near copies must clear each family's threshold by this margin
JACCARD_THRESHOLD, JACCARD_MIN = 0.8, 0.9
COSINE_THRESHOLD, COSINE_MIN = 0.95, 0.99
FRESH_MAX = 0.5  # a fresh document is this far below both thresholds


@dataclass
class IngestBatch:
    frame: pd.DataFrame  # doc_id, text
    planted: Dict[int, str]  # doc_id -> 'exact' | 'near' | 'fresh'


def ingest(
    seed: int, n_base: int, n_batches: int, per_kind: int
) -> Tuple[pd.DataFrame, List[IngestBatch]]:
    """A base slice of documents and ``n_batches`` ingest batches, ids
    increasing past the base. Each batch plants ``per_kind`` exact
    copies and near copies of earlier documents and ``per_kind`` fresh
    documents written in a vocabulary no other document uses.

    Every near copy is checked here to clear both thresholds by a
    margin: shingle Jaccard >= JACCARD_MIN, and cosine >= COSINE_MIN
    both raw (what the verify scores) and centred on the base slice's
    mean (what the hyperplane bands hash, so a band collision is all
    but certain). Every fresh document is checked to sit below
    FRESH_MAX against every earlier document."""
    rng = random.Random(seed)
    base_texts = [_doc_text(rng, 30) for _ in range(n_base)]
    base = pd.DataFrame({"doc_id": np.arange(n_base, dtype=np.int64), "text": base_texts})
    centre = np.mean([embed(t) for t in base_texts], axis=0)
    earlier = list(base_texts)
    earlier_unit = [_unit(embed(t)) for t in base_texts]
    next_id, batches = n_base, []
    for _ in range(n_batches):
        ids, texts, planted = [], [], {}
        kinds = ["exact"] * per_kind + ["near"] * per_kind + ["fresh"] * per_kind
        rng.shuffle(kinds)
        for kind in kinds:
            if kind == "exact":
                text = earlier[rng.randrange(len(earlier))]
            elif kind == "near":
                while True:
                    src = earlier[rng.randrange(len(earlier))]
                    text = _near_copy(src)
                    a, b = embed(src), embed(text)
                    if (
                        jaccard(src, text) >= JACCARD_MIN
                        and cosine(a, b) >= COSINE_MIN
                        and cosine(a - centre, b - centre) >= COSINE_MIN
                    ):
                        break
            else:
                stack = np.array(earlier_unit)
                while True:
                    text = " ".join(
                        f"fr{rng.getrandbits(40):010x}" for _ in range(rng.randint(12, 30))
                    )
                    if float(np.max(stack @ _unit(embed(text)))) < FRESH_MAX:
                        break
            ids.append(next_id)
            texts.append(text)
            planted[next_id] = kind
            next_id += 1
        batches.append(
            IngestBatch(
                pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts}),
                planted,
            )
        )
        earlier.extend(texts)
        earlier_unit.extend(_unit(embed(t)) for t in texts)
    return base, batches


# --- similarity, from the documented definitions ------------------------------

SHINGLE_WORDS = 5


def shingles(text: str, n: int = SHINGLE_WORDS) -> set:
    w = text.split(" ")
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


# The text embedding is a 64-wide sum over tokens of affine hashes of a
# 31-bit md5 prefix, centred on 2^30 (the module docstring of the
# package's embedding operators documents the construction).
_EMBED_SEED = 0xC2B2AE3D27D4EB4F
_M31 = 0x7FFFFFFF


def _embed_consts(n: int = 64) -> np.ndarray:
    out, x = [], _EMBED_SEED
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        a = (x & _M31) | 1
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        out.append((a, x & _M31))
    return out


_CONSTS = _embed_consts()


_TOKEN_VECS: Dict[str, np.ndarray] = {}


def _token_vec(tok: str) -> np.ndarray:
    vec = _TOKEN_VECS.get(tok)
    if vec is None:
        base = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) & _M31
        vec = np.array(
            [((base * a + b) & _M31) - (1 << 30) for a, b in _CONSTS], dtype=np.float64
        )
        _TOKEN_VECS[tok] = vec
    return vec


def embed(text: str) -> np.ndarray:
    """The integer feature sums of one text, as float64 (exact below
    2^53, i.e. for any text under ~2^22 tokens)."""
    acc = np.zeros(64, dtype=np.float64)
    for tok in text.split(" "):
        if tok:
            acc += _token_vec(tok)
    return acc


def _unit(v: np.ndarray) -> np.ndarray:
    n = float(np.linalg.norm(v))
    return v / n if n else v


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    den = math.sqrt(float(a @ a) * float(b @ b))
    return float(a @ b) / den if den else 0.0
