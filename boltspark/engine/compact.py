"""Blocks-dataset compaction: many appended runs -> one consolidated run.

Streaming encode (streaming/stream_encode.py) appends one run per
micro-batch epoch; at scale that is the classic small-file problem
(thousands of tiny parquet files + thousands of manifest (part, run)
pairs).  ``compact_blocks`` rewrites every MANIFESTED block row into a
fresh blocks+manifest pair under one new run id — WITHOUT re-encoding:
block payloads move as opaque bytes, only (run_id, seq) are rewritten
(seq re-numbered per partition over the old (run_id, seq) order, so
block-group identity stays unique).  Orphan rows from crashed runs are
dropped on the way (they were never visible to decode anyway).

The rewrite is JVM-side (one shuffle on part_id to co-locate each
partition's groups in one output file — which also restores the
part_id row-group clustering that makes point queries prune).  The new
manifest rows fold on the driver from the source manifest — blocks move
unchanged, so their totals are already known.  The output is a NEW
dataset path: swapping it in atomically is the caller's rename, the
same contract as any table-format rewrite.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import SparkSession, Window, functions as F

from . import manifest as manifestmod
from .schema import PART_ID, read_blocks


def compact_blocks(
    spark: SparkSession,
    blocks_path: str,
    manifest_path: str,
    out_blocks_path: str,
    out_manifest_path: str,
    run_id: str | None = None,
) -> dict:
    """Rewrite all valid blocks into one run at ``out_*``; returns
    {"n_groups", "run_id", "wall_sec"}."""
    t0 = time.time()
    run_id = run_id or ("compact-" + uuid.uuid4().hex[:12])
    meta = manifestmod.table_meta(spark, manifest_path)
    # schema from the manifest union (read_blocks): runs may have
    # evolved the column set; compaction must carry the UNION (older
    # groups keep null leaves for the columns they predate)
    blocks = manifestmod.join_valid(
        read_blocks(spark, blocks_path, meta["columns"]),
        manifestmod.valid_pairs_df(spark, manifest_path))
    # the window's own exchange co-locates each partition's groups (no
    # separate repartition needed); the sort restores part_id clustering
    # in the written files so point queries prune row groups again
    w = Window.partitionBy(PART_ID).orderBy("run_id", "seq")
    compacted = (
        blocks.withColumn("seq", (F.row_number().over(w) - 1).cast("int"))
        .withColumn("run_id", F.lit(run_id))
        .sortWithinPartitions(PART_ID, "seq")
    )
    compacted.write.mode("error").option("compression", "none").parquet(
        out_blocks_path)
    stats = manifestmod.commit(
        spark, out_manifest_path,
        _compacted_part_rows(spark, manifest_path, meta["columns"]),
        run_id=run_id, columns=meta["columns"],
        key_cols=tuple(meta["key_cols"]),
        n_parts=int(meta["n_parts"]), schema_json=meta["schema_json"],
        logical_schema_json=meta.get("logical_schema_json"),
    )
    # count actual block-group rows (manifest n_blocks is per
    # (part_id, column), so summing it would multiply by column count)
    n_groups = spark.read.parquet(out_blocks_path).count()
    return {"n_groups": n_groups, "run_id": run_id,
            "raw_bytes": stats["raw_bytes"], "enc_bytes": stats["enc_bytes"],
            "wall_sec": time.time() - t0}


def _compacted_part_rows(spark: SparkSession, manifest_path: str,
                         columns: list[str]) -> list[tuple]:
    """The compacted run's ``manifest.PART_ROW`` tuples, folded on the
    driver from the SOURCE manifest (one row per (part, run, column)):
    compaction moves every manifested group unchanged, so nothing in the
    new blocks needs reading.

    A partition's new row counts EVERY moved group for EVERY column of
    the union — ``n_rows``/``n_blocks`` sum over all its runs, also the
    runs that predate an evolved column (their groups carry a null leaf
    for it) — while the byte and time sums cover only the runs that
    encoded the column (null when none did).  codec/outer are those of
    the earliest run (by run_id, the compacted seq order) that has the
    column."""
    src = (spark.read.parquet(manifest_path)
           .filter(F.col("column") != manifestmod.META_KEY)
           .select(PART_ID, "run_id", *manifestmod.PART_ROW[1:])
           .collect())
    pairs: dict[int, dict[str, dict]] = {}
    for r in src:
        pairs.setdefault(r[PART_ID], {}).setdefault(r["run_id"], {})[
            r["column"]] = r

    def total(vals):
        vals = [v for v in vals if v is not None]
        return sum(vals) if vals else None

    out = []
    for pid, runs in pairs.items():
        order = [runs[rid] for rid in sorted(runs)]
        # every column row of one (part, run) carries the pair's totals
        n_rows = sum(next(iter(cr.values()))["n_rows"] for cr in order)
        n_blocks = sum(next(iter(cr.values()))["n_blocks"] for cr in order)
        for c in columns:
            have = [cr[c] for cr in order if c in cr]
            out.append((
                pid, c, n_rows,
                total(h["raw_bytes"] for h in have),
                total(h["enc_bytes"] for h in have),
                total(h["enc_ms"] for h in have),
                n_blocks,
                next((h["codec"] for h in have if h["codec"]), None),
                next((h["outer"] for h in have if h["outer"]), None),
            ))
    return out


def gc_orphans(
    spark: SparkSession,
    blocks_path: str,
    manifest_path: str,
    delete: bool = False,
    min_age_seconds: float = 86400.0,
) -> dict:
    """Garbage-collect orphan block files (runs that crashed before
    their manifest commit): decode already ignores them via the
    blocks ⨝ manifest join, but their bytes sit on storage forever.

    A blocks file is written by one task of one run, so a file is
    orphaned iff EVERY (part_id, run_id) row in it lacks a manifest
    entry — computed JVM-side from the metadata leaves (part_id,
    run_id, _metadata) in ONE grouped pass, never a payload read.  Only
    the per-FILE verdict list rides to the driver (O(files), which any
    deleter must hold anyway).

    ``min_age_seconds`` is the IN-FLIGHT WRITER GUARD: encode writes
    blocks BEFORE its manifest commit, so a freshly written file may be
    hours away from becoming manifested — files younger than the grace
    window are never reported or deleted.  The window MUST exceed the
    longest-running encode against this table (the same operator
    contract as any table format's vacuum retention — Delta/Iceberg
    document identical data-loss semantics for too-short retention);
    the default is 24 h.  Returns {"orphan_files",
    "orphan_groups", "bytes"}; pass delete=True to unlink (local paths
    only)."""
    import os
    import time as _time

    cutoff = _time.time() - float(min_age_seconds)
    # top-level fields only (identical across every run's files):
    # single-footer schema inference suffices, no mergeSchema sweep
    groups = spark.read.parquet(blocks_path).select(
        PART_ID, "run_id",
        F.col("_metadata.file_path").alias("__fp"),
        F.col("_metadata.file_size").alias("__sz"),
        F.col("_metadata.file_modification_time").cast("double")
        .alias("__mt"))
    per_file = (
        manifestmod.join_valid(
            groups, manifestmod.valid_pairs_df(spark, manifest_path),
            mark="__ok")
        .groupBy("__fp")
        .agg(
            F.max(F.coalesce(F.col("__ok"), F.lit(False))).alias("any_valid"),
            F.count(F.lit(1)).alias("n_groups"),
            F.first("__sz").alias("sz"),
            F.first("__mt").alias("mtime"),
        )
        .filter(~F.col("any_valid") & (F.col("mtime") < cutoff))
        .collect()
    )
    n_groups = sum(r["n_groups"] for r in per_file)
    total = sum(r["sz"] for r in per_file)
    if delete:
        # resolve every path before the first delete: a non-local one
        # raises with nothing removed
        local = [manifestmod._local_file(r["__fp"], spark) for r in per_file]
        if None in local:
            raise ValueError(
                f"gc_orphans deletes local files only; "
                f"{per_file[local.index(None)]['__fp']} is not provably "
                "local (nothing was deleted)")
        for p in local:
            os.remove(p)
    return {"orphan_files": len(per_file), "orphan_groups": int(n_groups),
            "bytes": int(total)}


def recluster_table(
    spark: SparkSession,
    blocks_path: str,
    manifest_path: str,
    out_blocks_path: str,
    out_manifest_path: str,
    sort_cols: tuple[str, ...] | None = None,
    zorder_cols: tuple[str, ...] | None = None,
    run_id: str | None = None,
    **encode_kwargs,
):
    """OPTIMIZE ... ZORDER BY analog: decode the valid table and
    re-encode it CLUSTERED (``sort_cols`` or ``zorder_cols``) into a
    fresh blocks+manifest pair at ``out_*``.

    Why it exists: streaming appends write one run per epoch in arrival
    order, so over time blocks carry wide zone ranges and the read-side
    pruning decays — ``compact_blocks`` shrinks the file count but
    keeps the old row order (payloads move as opaque bytes).
    Reclustering pays one decode+encode to restore it; measure the
    before/after with ``stats.explain_scan`` (skip fraction).  The
    codec selector re-runs per partition, so codecs also adapt to the
    new order (sorted runs -> rle/delta/prefix start winning).

    key_cols/n_parts are carried from the source manifest: partition
    ids are a pure function of the data, so point-query pruning and
    per-partition lineage still hold in the new table.  The output is
    a NEW dataset path; swapping it in is the caller's atomic rename
    (same contract as compact_blocks).  Returns encode.EncodeResult."""
    from .decode import decode_table
    from .encode import encode_table

    if not sort_cols and not zorder_cols:
        raise ValueError("recluster_table needs sort_cols or zorder_cols "
                         "— for a plain small-file rewrite use "
                         "compact_blocks (no re-encode)")
    meta = manifestmod.table_meta(spark, manifest_path)
    missing = [k for k in meta["key_cols"] if k not in meta["columns"]]
    if missing:
        raise ValueError(f"key columns {missing} were not encoded — "
                         "cannot recompute partition ids from the decode")
    df = decode_table(spark, blocks_path, manifest_path)
    return encode_table(
        df, out_blocks_path, out_manifest_path,
        key_cols=tuple(meta["key_cols"]), n_parts=int(meta["n_parts"]),
        sort_cols=sort_cols, zorder_cols=zorder_cols,
        run_id=run_id, resume=False, **encode_kwargs)
