"""In-process, single-core timings of the ``functions/`` kernel over a
seeded sample of transcript_job's own turns."""

from __future__ import annotations

import json
import statistics
import time
from typing import Callable, Dict, List

from ocr_pipeline_fastapi_latency_optimization_spark.functions.extract import (
    extract_turn,
    extract_turn_full,
    finalize_turn,
)
from ocr_pipeline_fastapi_latency_optimization_spark.functions.merges import (
    preprocess_page,
    run_merges,
    xy_cut_order,
)
from ocr_pipeline_fastapi_latency_optimization_spark.functions.tokenize import tokenize_html

REPEATS = 3


def _median_seconds(fn: Callable[[], None]) -> float:
    times = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def measure(texts: List[str], kinds: List[str]) -> Dict[str, float]:
    """``texts`` with their planted payload kinds; returns the
    ``functions.*`` metrics plus ``kernel_ms_per_kturn`` for the whole
    sample's mix (the in-process cost the Arrow boundary is compared
    against) and ``pdf_share_of_kernel``, both from the per-kind times
    so that the share cannot exceed 1."""
    by_kind = {k: [(i, t) for i, (t, kk) in enumerate(zip(texts, kinds)) if kk == k] for k in set(kinds)}
    out: Dict[str, float] = {}
    seconds = {
        kind: _median_seconds(lambda: [extract_turn_full(t, i) for i, t in turns])
        for kind, turns in by_kind.items()
    }
    for kind in ("plain", "html", "pdf"):
        out[f"functions.{kind}_turns_per_s"] = len(by_kind.get(kind, [])) / seconds[kind]
    pages = [
        (p.get("blocks", []), float(p.get("w", 1654)), float(p.get("h", 2339)))
        for _, t in by_kind.get("pdf", [])
        for p in json.loads(t)["pages"]
    ]
    pre = [preprocess_page(b, w, h) for b, w, h in pages]
    merged = [run_merges(p) for p in pre]
    n = len(pages)
    out["functions.preprocess_page_us_per_page"] = 1e6 * _median_seconds(lambda: [preprocess_page(b, w, h) for b, w, h in pages]) / n
    out["functions.run_merges_us_per_page"] = 1e6 * _median_seconds(lambda: [run_merges(p) for p in pre]) / n
    out["functions.xy_cut_order_us_per_page"] = 1e6 * _median_seconds(lambda: [xy_cut_order(p.boxes) for p in merged]) / n
    html = [t for _, t in by_kind.get("html", [])]
    out["functions.tokenize_html_us_per_turn"] = 1e6 * _median_seconds(lambda: [tokenize_html(t) for t in html]) / len(html)
    stage1 = [extract_turn(t, i) for i, t in enumerate(texts)]
    out["functions.finalize_turn_us_per_turn"] = 1e6 * _median_seconds(
        lambda: [finalize_turn(r["skeleton"], r["preserved"]) for r in stage1]
    ) / len(texts)
    whole = sum(seconds.values())
    out["kernel_ms_per_kturn"] = 1e6 * whole / len(texts)
    out["pdf_share_of_kernel"] = seconds["pdf"] / whole
    return out
