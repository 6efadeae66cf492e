"""DuckDB twins of the corpus_dedup queries.

The twins (``__spark_entry__.oracle_sql()``) depend only on the input
tables, and the corpus_dedup corpus content is fixed, so they are
computed once and cached under ``.perfbench_cache/`` at the root of the
checkout, keyed by a digest of the tables' content. A run that finds no
cache computes them after its timed work (about 10 s on a 4-core host).

    python3 perfbench/twins.py     # compute the cache ahead of the runs
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from typing import Dict, List

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")


def digest(tables: Dict[str, pd.DataFrame]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        frame = tables[name]
        h.update(name.encode())
        for col in frame.columns:
            h.update(col.encode())
            h.update(repr(frame[col].map(lambda v: v.tolist() if hasattr(v, "tolist") else v).tolist()).encode())
    return h.hexdigest()[:16]


def compute(sf_dir: str, queries: List[str]) -> Dict[str, dict]:
    import duckdb

    import __spark_entry__
    from checks import row_multiset

    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET threads={min(4, os.cpu_count() or 1)}")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for q in queries:
        cur = con.execute(sql[q])
        cols = [d[0] for d in cur.description]
        out[q] = {"columns": cols, "rows": row_multiset(cols, cur.fetchall())}
    return out


def load_or_compute(tables: Dict[str, pd.DataFrame], sf_dir: str, queries: List[str]) -> Dict[str, dict]:
    path = os.path.join(CACHE_DIR, f"twins-{digest(tables)}.json")
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        if all(q in cached for q in queries):
            return cached
    result = compute(sf_dir, queries)
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = path + f".{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, path)
    return result


def main() -> int:
    import tempfile

    from workloads import CorpusDedup

    os.makedirs(CACHE_DIR, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=CACHE_DIR) as work:
        w = CorpusDedup(0, work)
        w.write_inputs()
        load_or_compute(w.tables, w.sf_dir, w.QUERIES)
    print(f"twins cached under {CACHE_DIR}")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
