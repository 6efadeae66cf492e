"""Show that every output check reports a deliberately corrupted output.

    python3 perfbench/corrupt.py

Builds a small clean output with the program's single-node oracle
(no Spark), confirms every check passes on it, then corrupts one thing
at a time (a dropped turn, a leaked footer, a flipped verdict, ...) and
confirms the matching check reports it. Exits 1 if any corruption goes
unreported or any clean output is flagged.
"""

from __future__ import annotations

import copy
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402


def main() -> int:
    from ocr_pipeline_fastapi_latency_optimization_spark.oracle import extract_frame, stitch_frame

    frame, truth = gen.transcripts(3, 40, 6, 30)
    out = extract_frame(frame)
    stitched = stitch_frame(out)
    lineage = {
        "n_turns": len(out),
        "n_blocks_kept": int(out["n_blocks_kept"].sum()),
        "n_blocks_dropped": int(out["n_blocks_dropped"].sum()),
        "chars_extracted": int(out["chars_extracted"].sum()),
    }
    html_row = next(i for i, (c, t) in enumerate(zip(out["conv_id"], out["turn_idx"])) if truth[(c, int(t))].absent and truth[(c, int(t))].kind == "html")
    table_row = next(i for i, (c, t) in enumerate(zip(out["conv_id"], out["turn_idx"])) if truth[(c, int(t))].rows)
    body_row = next(i for i, (c, t) in enumerate(zip(out["conv_id"], out["turn_idx"])) if len(truth[(c, int(t))].body) >= 2)

    def edit(row, fn):
        bad = out.copy()
        bad.at[row, "extracted_text"] = fn(bad.at[row, "extracted_text"], truth[(bad.at[row, "conv_id"], int(bad.at[row, "turn_idx"]))])
        bad.at[row, "chars_extracted"] = len(bad.at[row, "extracted_text"])
        return bad

    def swap_body(text, t):
        a, b = t.body[0], t.body[1]
        return text.replace(a, "\0").replace(b, a).replace("\0", b) if a != b else text.replace(a, "")

    bad_chars = out.copy()
    bad_chars.at[0, "chars_extracted"] += 1
    bad_counts = out.copy()
    bad_counts.at[0, "n_blocks_kept"] += 1
    planted = {100: "exact", 101: "near", 102: "fresh"}
    verdicts = {100: "near_dup", 101: "near_dup", 102: "new"}
    texts = {1: "a b c d e f g h", 100: "a b c d e f g h", 101: "a b c d e f g h h", 102: "x y z w v u"}
    twin_cols = ["doc_id", "verdict"]
    twin = {"columns": twin_cols, "rows": checks.row_multiset(twin_cols, [(1, "keep"), (2, "drop")])}
    index = [(0, 5, 1), (1, 7, 1), (0, 9, 100)]

    cases = [
        ("job_properties", "dropped turn",
         lambda: checks.job_properties(frame, out.drop(index=3), lineage, stitched)),
        ("job_properties", "chars_extracted off by one",
         lambda: checks.job_properties(frame, bad_chars, lineage, stitched)),
        ("job_properties", "kept count without a span",
         lambda: checks.job_properties(frame, bad_counts, lineage, stitched)),
        ("job_properties", "lineage total off",
         lambda: checks.job_properties(frame, out, {**lineage, "n_turns": lineage["n_turns"] + 1}, stitched)),
        ("job_properties", "stitch lost a turn",
         lambda: checks.job_properties(frame, out, lineage, stitched.assign(n_turns=stitched["n_turns"] - (stitched.index == 0)))),
        ("planted_truth", "leaked footer",
         lambda: checks.planted_truth(edit(html_row, lambda x, t: x + "\n\n" + t.absent[-1]), truth)),
        ("planted_truth", "body sentences out of order",
         lambda: checks.planted_truth(edit(body_row, swap_body), truth)),
        ("planted_truth", "table flattened",
         lambda: checks.planted_truth(edit(table_row, lambda x, t: x.replace(t.rows[0], t.rows[0].replace(" | ", " "))), truth)),
        ("same_turns", "resumed turn differs",
         lambda: checks.same_turns(out, edit(0, lambda x, t: x + "!"), "resumed vs fresh output")),
        ("same_rows", "twin row flipped",
         lambda: checks.same_rows("q", twin_cols, [(1, "keep"), (2, "keep")], twin)),
        ("planted_verdicts", "flipped verdict",
         lambda: checks.planted_verdicts("minhash", {**verdicts, 101: "new"}, planted)),
        ("minhash_witnesses", "near_dup without an earlier witness",
         lambda: checks.minhash_witnesses({**verdicts, 102: "near_dup"}, texts)),
        ("same_index", "appended index lost a row",
         lambda: checks.same_index("minhash", index[:-1], index)),
    ]
    clean = {
        "job_properties": checks.job_properties(frame, out, lineage, stitched),
        "planted_truth": checks.planted_truth(out, truth),
        "same_turns": checks.same_turns(out, copy.deepcopy(out), "resumed vs fresh output"),
        "same_rows": checks.same_rows("q", twin_cols, [(2, "drop"), (1, "keep")], twin),
        "planted_verdicts": checks.planted_verdicts("minhash", verdicts, planted),
        "minhash_witnesses": checks.minhash_witnesses(verdicts, texts),
        "same_index": checks.same_index("minhash", list(reversed(index)), index),
    }
    ok = True
    for name, problems in clean.items():
        print(f"clean   {name:18s} {'passes' if not problems else 'FLAGGED: ' + problems[0]}")
        ok &= not problems
    for name, what, run in cases:
        problems = run()
        print(f"corrupt {name:18s} {what:38s} {'reported: ' + problems[0] if problems else 'NOT REPORTED'}")
        ok &= bool(problems)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
