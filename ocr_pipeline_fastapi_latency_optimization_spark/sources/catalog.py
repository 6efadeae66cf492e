"""Table-catalog shim: Iceberg when available, parquet otherwise.

Production deployments run the transcripts/output/checkpoint tables on
Iceberg (partition pruning by bucket spec, snapshot isolation, MERGE
for the lineage table). This sandbox has no Iceberg jars, so the shim
probes the runtime once and degrades to directory-backed parquet with
the same call sites — the downstream plans are identical either way
(SURVEY §7.4e).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

ICEBERG_CATALOG = "spark_catalog"


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg SparkCatalog is on the classpath and
    configured. Probe is conf-based — never raises."""
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{ICEBERG_CATALOG}", None)
        if impl and "iceberg" in impl.lower():
            return True
        # classpath probe: the catalog class must be loadable
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, identifier: str) -> DataFrame:
    """``identifier`` is an Iceberg table name when the catalog exists,
    else a parquet path."""
    if iceberg_available(spark) and not identifier.startswith("/"):
        return spark.read.format("iceberg").load(identifier)
    return spark.read.parquet(identifier)


def write_table(df: DataFrame, identifier: str, mode: str = "append") -> None:
    spark = df.sparkSession
    if iceberg_available(spark) and not identifier.startswith("/"):
        df.writeTo(identifier).append() if mode == "append" else df.writeTo(
            identifier
        ).createOrReplace()
        return
    df.write.mode(mode if mode != "replace" else "overwrite").parquet(identifier)


INDEX_ROWGROUP_BYTES = 1 << 20  # small parquet row groups for index
# tables: fine-grained min/max stats so a pruned probe can skip row
# groups (index rows are ~tens of bytes — a default 128 MB group would
# hold the whole file and give statistics nothing to prune)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: list,
    n_buckets: int = 32,
    sort_cols: list | None = None,
    mode: str = "overwrite",
    rowgroup_bytes: int | None = None,
) -> str:
    """Persist ``df`` as a bucketed (and optionally sort-ordered) table —
    the storage layout that makes repeated joins/aggregations on the
    bucket key SHUFFLE-FREE: two tables bucketed identically co-locate
    matching keys file-by-file, so Spark plans the join without an
    Exchange on either side (asserted in tests/test_plans.py).

    This is the sandbox twin of DESIGN_100TB.md's Iceberg
    ``bucket(N, conv_id)`` partition transform: at 10^12 turns, every
    per-conversation stage (stitch, checkpoint buckets, enrichment join)
    reads pre-co-located data instead of shuffling the corpus. Bucketed
    parquet via ``saveAsTable`` keeps the same observable property with
    the session catalog."""
    writer = (
        df.write.format("parquet")
        .mode(mode)
        .option("path", path)
        .bucketBy(int(n_buckets), *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if rowgroup_bytes:
        writer = writer.option("parquet.block.size", str(int(rowgroup_bytes)))
    writer.saveAsTable(name)
    return name


PRUNE_PUSHDOWN_MAX_KEYS = 1024


def prune_index_scan(
    index_df: DataFrame,
    probe_buckets: DataFrame,
    band_col: str | None = "band",
    key_col: str = "key",
    max_pairs: int = 65536,
) -> DataFrame:
    """Narrow a persisted-index scan to the probe batch's touched
    (band, key) set (round-5 verdict #2): collect the batch's DISTINCT
    band/key pairs (control-plane — bounded by ``max_pairs``, beyond
    which the full co-located scan is kept) and restrict the index read
    to them. Everything past the scan — the distinct, the sort for the
    merge join, the join build — then processes only rows that can
    possibly match, so probe COMPUTE is O(touched buckets) instead of
    O(index).

    Two predicate forms, chosen by probe size (both measured on the
    100× rung index — BENCH/BASELINE.md round-6):

    * **trickle probes** (≤ ``PRUNE_PUSHDOWN_MAX_KEYS`` pairs): a
      per-band ``key IN (…)`` disjunction PUSHED to parquet — on the
      sorted small-row-group index layout (``INDEX_ROWGROUP_BYTES``)
      row-group stats skip every group containing none of the probed
      keys, i.e. genuine storage-level pruning for the incremental
      steady state;
    * **bulk probes**: parquet's evaluation of a multi-thousand-value
      pushed In costs MORE than the scan it prunes (measured 3.0 s vs
      a 1.0 s full scan at 4 M rows) — so the restriction is applied as
      a non-pushable single ``xxhash64(band, key) IN (…)`` set test,
      evaluated vectorized after the scan: compute-pruning at scan
      throughput. (Hash collisions can only KEEP extra rows — the
      exact join follows; never drop a matching one.)

    Both forms are pure restrictions on the join keys: every surviving
    index row is one that could join, so pruned and unpruned probes
    are byte-identical (asserted in tests), and a scan filter never
    disturbs the bucketed co-location (no new Exchange). Built as ONE
    parsed SQL string — Column.isin() creates a py4j literal per
    element (~3 s for a 4,000-key set).

    ``band_col=None`` selects single-key mode for indexes keyed on one
    column (the winnowing fingerprint index): the trickle form is a
    plain pushed ``key IN (…)`` and the bulk form hashes the one
    column."""
    hash_cols = [key_col] if band_col is None else [band_col, key_col]
    # bounded collect: limit(max_pairs+1) makes the cap actually cap
    # driver cost (an over-cap probe returns before hauling the full
    # key set over), and one job serves BOTH predicate forms (the
    # hashed column rides along instead of a second distinct+collect)
    rows = (
        probe_buckets.select(
            *hash_cols, F.xxhash64(*hash_cols).alias("_pk")
        )
        .distinct()
        .limit(max_pairs + 1)
        .collect()
    )
    if len(rows) > max_pairs:
        return index_df
    if not rows:  # empty batch probes nothing — read nothing
        return index_df.filter(F.lit(False))

    def lit(v):
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(int(v))

    if len(rows) <= PRUNE_PUSHDOWN_MAX_KEYS:
        if band_col is None:
            cond = (
                f"`{key_col}` IN "
                f"({', '.join(lit(r[key_col]) for r in sorted(rows, key=lambda r: r[key_col]))})"
            )
            return index_df.filter(F.expr(cond))
        by_band: dict = {}
        for r in rows:
            by_band.setdefault(r[band_col], []).append(r[key_col])
        cond = " OR ".join(
            f"(`{band_col}` = {lit(b)} AND `{key_col}` IN "
            f"({', '.join(lit(k) for k in sorted(ks))}))"
            for b, ks in sorted(by_band.items())
        )
        return index_df.filter(F.expr(cond))
    hashes = sorted({r["_pk"] for r in rows})
    hash_expr = (
        f"xxhash64(`{key_col}`)"
        if band_col is None
        else f"xxhash64(`{band_col}`, `{key_col}`)"
    )
    cond = f"{hash_expr} IN ({', '.join(str(h) for h in hashes)})"
    return index_df.filter(F.expr(cond))


@dataclass(frozen=True)
class IndexFamily:
    """The storage declaration of one persisted bucketed index family:
    its TBLPROPERTIES namespace, bucket and sort columns, and the id and
    content columns of its SOURCE rows — the max id is the watermark
    (recorded under ``watermark_key``) and ``count:sum(xxhash64(id,
    content))`` is an append batch's fingerprint. ``persist_index`` and
    ``append_index_batch`` run the whole table protocol from it; the
    families only build their rows."""

    prefix: str
    bucket_cols: tuple
    sort_cols: tuple
    id_col: str
    content_col: str
    watermark_key: str


def _manifest_keys(prefix: str) -> tuple:
    """The common layout keys every family records: (path,
    n_storage_buckets, bucket_cols, sort_cols)."""
    return tuple(
        f"{prefix}.{k}"
        for k in ("path", "n_storage_buckets", "bucket_cols", "sort_cols")
    )


def persist_index(
    spark: SparkSession,
    family: IndexFamily,
    rows: DataFrame,
    name: str,
    path: str,
    n_storage_buckets: int,
    source: DataFrame,
    params: dict,
) -> str:
    """Write a family's index ``rows`` as a table bucketed and sorted by
    its key with small row groups (``INDEX_ROWGROUP_BYTES``: probe-side
    pruning pushes the batch's key set into this scan), then record the
    build manifest: ``params`` (the probes' fail-fast handshake), the
    content watermark — max id of ``source``, one 1-row aggregate — and
    the ``<prefix>.path/.n_storage_buckets/.bucket_cols/.sort_cols``
    spec, which appends and compaction re-read so they can never
    silently re-bucket the table."""
    write_bucketed_table(
        rows,
        name,
        path,
        list(family.bucket_cols),
        n_storage_buckets,
        sort_cols=list(family.sort_cols),
        rowgroup_bytes=INDEX_ROWGROUP_BYTES,
    )
    max_id = source.agg(F.max(family.id_col).alias("m")).collect()[0]["m"]
    path_key, nb_key, cols_key, sort_key = _manifest_keys(family.prefix)
    set_table_properties(
        spark,
        name,
        {
            **params,
            family.watermark_key: -1 if max_id is None else int(max_id),
            path_key: path,
            nb_key: int(n_storage_buckets),
            cols_key: ",".join(family.bucket_cols),
            sort_key: ",".join(family.sort_cols),
        },
    )
    return name


def append_index_batch(
    spark: SparkSession,
    family: IndexFamily,
    name: str,
    batch: DataFrame,
    params: dict,
    rows_for: Callable[[dict], DataFrame],
    refuse: Callable[[dict, str], object] | None = None,
    check: Callable[[dict, str], object] | None = None,
) -> dict:
    """Idempotent bucketed APPEND of an ingest batch to a persisted
    index — the maintenance path: probe → append survivors → later
    batches probe an index that includes them. The table properties are
    read ONCE; ``refuse(props, name)`` runs a family's refusal of a
    table of another family, the ``params`` handshake follows
    (``check_index_params``), then ``check(props, name)`` runs the
    family's own guards. The batch fingerprint and id range are one 1-row
    aggregate; an empty batch is a no-op; ``rows_for(props)`` builds the
    batch's index rows under the RECORDED parameters. Returns the
    receipt ``{"status", "batch_fp", "table"}``.

    Correctness layering (mirrors plans/checkpoint.py):

    * **set semantics first**: the index is a SET of (key…, id) rows —
      probes semi-join / distinct it — so a crash between the data
      append and the manifest update can at worst leave duplicate rows
      that change nothing observable; replay is safe by construction.
    * **manifest second** (efficiency + fail-fast): the applied-batch
      fingerprint list (content hash, not count) makes a double-append
      a recorded NO-OP instead of wasted IO, and the id watermark
      rejects out-of-order appends loudly — an ingest batch whose ids
      are not strictly after the watermark is a pipeline bug (the
      boundary-ordered ingest model), not something to absorb silently.
    * bucketing spec comes from the recorded build metadata, so an
      append can never silently re-bucket the table; Spark additionally
      validates the spec against the existing table on write.

    Crash window: a failure BETWEEN the data append and the properties
    update leaves the batch's rows in the table with no recorded
    fingerprint — the retry re-appends them. Verdicts stay correct
    (set semantics above; exercised by fault injection in
    tests/test_index_core.py), but the duplicate rows are dead weight
    the manifest cannot detect. ``compact_bucketed_index`` is the
    repair: rewrite the table DISTINCT through the recorded bucket spec
    (run it after any append whose receipt was lost, or on a
    dead-weight budget). At production scale this is Iceberg's
    ``rewrite_data_files`` plus a transactional snapshot-property
    commit, which closes the window entirely; the applied-batch list
    then lives in the snapshot properties / a manifest table rather
    than session-catalog TBLPROPERTIES — same protocol, durable
    store."""
    props = get_table_properties(spark, name)
    if refuse is not None:
        refuse(props, name)
    _check_params(props, name, params, family.prefix)
    if check is not None:
        check(props, name)
    stat = batch.agg(
        F.count("*").alias("n"),
        F.min(family.id_col).alias("lo"),
        F.max(family.id_col).alias("hi"),
        F.sum(
            F.xxhash64(family.id_col, family.content_col).cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    if stat["n"] == 0:
        return {"status": "noop", "batch_fp": "empty", "table": name}
    batch_fp = f"{stat['n']}:{stat['h']}"
    rows = rows_for(props)
    prefix, watermark_key = family.prefix, family.watermark_key
    path_key, nb_key, cols_key, sort_key = _manifest_keys(prefix)
    missing = [k for k in (path_key, nb_key, cols_key, watermark_key) if k not in props]
    if missing:
        raise ValueError(
            f"index table {name} records no append metadata for "
            f"{sorted(missing)} — rebuild it with the current "
            "persist function before appending."
        )
    applied = set(filter(None, props.get(f"{prefix}.applied_batches", "").split(";")))
    if batch_fp in applied:
        return {"status": "noop", "batch_fp": batch_fp, "table": name}
    watermark = int(props[watermark_key])
    if watermark >= 0 and int(stat["lo"]) <= watermark:
        raise ValueError(
            f"append to {name}: batch id range [{stat['lo']}, "
            f"{stat['hi']}] is not strictly after the index watermark "
            f"{watermark} ({watermark_key}); appends must be monotone in "
            "id — a re-ingest of already-indexed ids would double-count "
            "buckets. Rebuild the index or fix the ingest ordering."
        )
    writer = (
        rows.write.format("parquet")
        .mode("append")
        .option("path", props[path_key])
        .bucketBy(int(props[nb_key]), *props[cols_key].split(","))
    )
    # sort spec recorded at build time (absent on pre-round-6 tables —
    # Spark validates the spec against the existing table either way)
    sort_cols = props.get(sort_key)
    if sort_cols:
        writer = writer.sortBy(*sort_cols.split(",")).option(
            "parquet.block.size", str(INDEX_ROWGROUP_BYTES)
        )
    writer.saveAsTable(name)
    set_table_properties(
        spark,
        name,
        {
            f"{prefix}.applied_batches": ";".join(sorted(applied | {batch_fp})),
            watermark_key: int(stat["hi"]),
        },
    )
    return {"status": "appended", "batch_fp": batch_fp, "table": name}


def compact_bucketed_index(spark: SparkSession, name: str, prefix: str) -> dict:
    """Rewrite a bucketed index table DISTINCT — the repair for the
    append crash window documented on ``append_index_batch``
    (duplicate rows from a retried append whose receipt was lost).
    The distinct rows are staged to a fresh generation directory
    through the RECORDED bucket/sort spec, the table is re-registered
    at the new path, and the recorded path/generation advance — the
    old directory is left for the caller to reap (the sandbox shim of
    Iceberg ``rewrite_data_files`` + snapshot swap). All probe
    guarantees (bucketed co-location, sorted row groups, properties
    handshake) survive the rewrite; verdicts are unchanged because the
    index was always consumed with set semantics."""
    props = get_table_properties(spark, name)
    path_key, nb_key, cols_key, sort_key = _manifest_keys(prefix)
    missing = [k for k in (path_key, nb_key, cols_key) if k not in props]
    if missing:
        raise ValueError(
            f"index table {name} records no build metadata for "
            f"{sorted(missing)} — cannot compact a table whose bucket "
            "spec is unknown; rebuild it with the current persist "
            "function instead."
        )
    before = spark.table(name).count()
    # materialize the distinct rows BEFORE overwriting the catalog
    # entry (Spark refuses to overwrite a path it is reading from)
    rows = spark.table(name).distinct().localCheckpoint(eager=True)
    after = rows.count()
    gen = int(props.get(f"{prefix}.compaction_gen", "0")) + 1
    old_path = props[path_key]
    # generations derive from the RECORDED base path, never substring
    # surgery on the current one (a user path containing "_gen" must
    # not be truncated — round-6 review)
    base_path = props.get(f"{prefix}.base_path", old_path)
    new_path = f"{base_path}__cgen{gen}"
    sort_cols = props.get(sort_key)
    write_bucketed_table(
        rows,
        name,
        new_path,
        props[cols_key].split(","),
        int(props[nb_key]),
        sort_cols=sort_cols.split(",") if sort_cols else None,
        rowgroup_bytes=INDEX_ROWGROUP_BYTES if sort_cols else None,
        mode="overwrite",
    )
    # re-assert the full manifest: saveAsTable(overwrite) drops
    # TBLPROPERTIES with the old table definition
    props[path_key] = new_path
    props[f"{prefix}.base_path"] = base_path
    props[f"{prefix}.compaction_gen"] = gen
    set_table_properties(spark, name, props)
    return {
        "status": "compacted",
        "table": name,
        "rows_before": before,
        "rows_after": after,
        "path": new_path,
        "old_path": old_path,
    }


def set_table_properties(spark: SparkSession, name: str, props: dict) -> None:
    """Record build-time metadata (index parameters, content watermarks)
    as table properties — the catalog-level analog of the checkpoint
    manifest (plans/checkpoint.py::write_or_check_manifest): a probe
    can fail fast on a parameter mismatch instead of silently producing
    wrong verdicts (round-4 ADVICE #1). Values are stringified."""
    kv = ", ".join(
        "'{}'='{}'".format(str(k).replace("'", "''"), str(v).replace("'", "''"))
        for k, v in sorted(props.items())
    )
    spark.sql(f"ALTER TABLE {name} SET TBLPROPERTIES ({kv})")


def get_table_properties(spark: SparkSession, name: str) -> dict:
    return {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {name}").collect()
    }


def check_index_params(
    spark: SparkSession, name: str, expected: dict, kind: str
) -> dict:
    """Fail-fast parameter handshake between a persisted index table and
    a probe: every key in ``expected`` must be present in the table's
    recorded properties and string-equal. A property-less table (built
    by an older version of this library, or by hand) gets a dedicated
    error — its guarantees cannot be checked (same policy as the
    old-layout checkpoint manifest)."""
    return _check_params(get_table_properties(spark, name), name, expected, kind)


def _check_params(props: dict, name: str, expected: dict, kind: str) -> dict:
    missing = [k for k in expected if k not in props]
    if missing:
        raise ValueError(
            f"{kind} index table {name} records no build parameters for "
            f"{sorted(missing)} — it was written by an older version of "
            "this library (or not by persist_*_index at all); a probe "
            "cannot verify hash-parameter compatibility. Rebuild the "
            "index with the current persist function."
        )
    mismatched = {
        k: (props[k], str(v)) for k, v in expected.items() if props[k] != str(v)
    }
    if mismatched:
        detail = ", ".join(
            f"{k}: index={a!r} probe={b!r}" for k, (a, b) in sorted(mismatched.items())
        )
        raise ValueError(
            f"{kind} index table {name} was built with different "
            f"parameters than this probe ({detail}); probing it would "
            "produce silently wrong dup/new verdicts. Use the index's "
            "parameters or rebuild the index."
        )
    return props
