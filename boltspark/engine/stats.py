"""Metadata-only table statistics: answers from zone-map stats leaves.

The wide blocks layout stores each column's typed stats struct as its
own parquet column chunk (engine/schema.py), so table-level MIN/MAX
aggregate from the tiny stats leaves WITHOUT touching a single payload
byte — the scan's ReadSchema contains no ``block`` field at all.  The
reference reads column min/max from footer Statistics the same way
(parquet_metadata_thrift.rs:657); here it is a first-class query.

Exactness: numeric ``vmin``/``vmax`` are stored as float64 — exact for
doubles/floats and for integers within ±2^53; integer bounds beyond
that were widened OUTWARD at encode, so the result is conservative
(min'' <= true min, max'' >= true max), never wrong-side.  Byte columns
report their 24-byte min/max PREFIXES plus whether every contributing
block stored the exact value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import manifest as manifestmod
from .manifest import _in_sql, _sql_lit, _sql_name
from .schema import PART_ID, read_blocks as schema_read_blocks

_KEY = [_sql_name(c) for c in (PART_ID, "run_id", "seq")]  # group identity


def validate_table(
    spark: SparkSession,
    blocks_path: str,
    manifest_path: str,
    crc_sample: int = 8,
    crc_seed: int = 0,
) -> dict:
    """Table doctor: structural consistency between the blocks dataset
    and its manifest, plus a bounded CRC spot-check.

    Checks (all JVM-side aggregations over metadata leaves):
    * every manifested (part_id, run_id, column) row count equals the
      sum of the (part_id, run_id) groups' n_rows (missing/extra groups
      surface here);
    * no duplicate (part_id, run_id, seq) group identity;
    * ``crc_sample`` block payloads, drawn with a SEEDED hash-rank
      top-n over every group identity (distributed — the driver never
      materializes the group list) plus a hash-picked column per
      sampled group, so rot in the last file or a rarely-read column
      is reachable, unlike a limit() over the first scanned file —
      decode cleanly (CorruptBlockError = storage rot caught before a
      reader hits it).  Pass a different ``crc_seed`` per run to
      rotate coverage.

    Returns {"ok": bool, "errors": [up to 20 strings]}.  An empty or
    orphan-bearing blocks dir is fine — orphans are invisible to decode
    and are the GC's business, not a consistency error."""
    from ..kernels import block as blockmod
    from ..kernels.varint import CorruptBlockError

    meta = manifestmod.table_meta(spark, manifest_path)
    cols = meta["columns"]
    errors: list[str] = []

    blocks = schema_read_blocks(spark, blocks_path, cols)
    man = (spark.read.parquet(manifest_path)
           .filter(F.col("column") != manifestmod.META_KEY)
           .select(PART_ID, "run_id", "column",
                   F.col("n_rows").alias("m_rows")))
    # a manifest row counts every group of its (part, run) — a compacted
    # run's groups that predate an evolved column included (they carry
    # a null leaf for it and decode as NULLs) — so reconcile per pair
    per = (blocks.groupBy(PART_ID, "run_id")
           .agg(F.sum("n_rows").alias("b_rows")))
    bad = (man.join(per, [PART_ID, "run_id"], "left")
           .filter(F.col("b_rows").isNull()
                   | (F.col("b_rows") != F.col("m_rows")))
           .limit(20).collect())
    for r in bad:
        errors.append(
            f"rowcount mismatch part={r[PART_ID]} run={r['run_id']} "
            f"col={r['column']}: manifest {r['m_rows']} vs blocks {r['b_rows']}")

    dups = (blocks.groupBy(PART_ID, "run_id", "seq")
            .agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)
            .limit(20).collect())
    for r in dups:
        errors.append(f"duplicate group identity part={r[PART_ID]} "
                      f"run={r['run_id']} seq={r['seq']} x{r['n']}")

    if crc_sample and not errors:
        # phase 1 (metadata-only, DISTRIBUTED): every (group, column)
        # CELL gets a seeded hash rank and a top-n over the rank picks
        # the sample, so the driver receives exactly ``crc_sample``
        # rows — never the group list (at 100 TB that list is ~25M rows
        # for an 8-cell spot check).  Ranking cells directly (not
        # groups with one hash-picked column each) means crc_sample=8
        # is 8 DISTINCT cells even on a tiny table whose group count is
        # below the sample size — the earlier per-group column pick
        # capped the sample at n_groups cells and systematically
        # under-sampled small tables.  Deterministic regardless of scan
        # partitioning: the rank is a pure function of cell identity.
        cells = ", ".join(_sql_lit(i) for i in range(len(cols)))
        ranked = (
            blocks.selectExpr(*_KEY, f"explode(array({cells})) AS `__ci`")
            .selectExpr(*_KEY, "`__ci`", f"xxhash64({', '.join(_KEY)}, "
                        f"`__ci`, {_sql_lit(int(crc_seed))}) AS `__rk`")
            .orderBy("__rk")
            .limit(int(crc_sample))
            .collect()
        )
        picks = [(r[PART_ID], r["run_id"], r["seq"], cols[int(r["__ci"])])
                 for r in ranked]
        if picks:
            # phase 2: one job reading ONLY the sampled groups' blocks
            # (part_id row-group stats prune most files)
            want_cols = sorted({c for *_, c in picks})
            keyset = sorted({tuple(k) for *k, _ in picks})
            rows = (blocks.filter(" OR ".join(
                        "(" + " AND ".join(f"{n} = {_sql_lit(v)}" for n, v
                                           in zip(_KEY, k)) + ")"
                        for k in keyset))
                    .selectExpr(*_KEY, *[
                        f"{_sql_name('cols', c, 'block')} AS {_sql_name(c)}"
                        for c in want_cols])
                    .collect())
            by_key = {(r[PART_ID], r["run_id"], r["seq"]): r for r in rows}
            for p, rid, s, c in picks:
                r = by_key.get((p, rid, s))
                blk = r[c] if r is not None else None
                if blk is None:
                    continue  # evolved column: group predates it
                try:
                    blockmod.decode_block(bytes(blk))
                except CorruptBlockError as e:
                    errors.append(
                        f"corrupt block part={p} run={rid} seq={s} "
                        f"col={c}: {e}")

    return {"ok": not errors, "errors": errors}


def column_minmax(
    spark: SparkSession,
    blocks_path: str,
    manifest_path: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """(column, vmin, vmax, n_rows, has_null) per column, computed
    entirely from stats leaves (no payload reads, no Python evaluation
    node).  Unknown columns raise.  Byte and list columns carry no
    numeric zone bounds, so their vmin/vmax come back NULL (row counts
    and null flags are still real)."""
    meta = manifestmod.table_meta(spark, manifest_path)
    all_cols = meta["columns"]
    cols = list(columns or all_cols)
    unknown = set(cols) - set(all_cols)
    if unknown:
        raise KeyError(f"unknown columns {unknown}; encoded: {all_cols}")
    blocks = schema_read_blocks(spark, blocks_path, all_cols)
    valid = manifestmod.valid_pairs_df(spark, manifest_path)
    melt = ", ".join(
        f"named_struct({_sql_lit('column')}, {_sql_lit(c)}, " + ", ".join(
            f"{_sql_lit(f)}, {_sql_name('cols', c, 'stats', f)}"
            for f in ("vmin", "vmax", "has_null")) + ")"
        for c in cols)
    return (
        manifestmod.join_valid(blocks, valid)
        .selectExpr("`n_rows`", f"inline(array({melt}))")
        .groupBy("column")
        .agg(
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.sum("n_rows").alias("n_rows"),
            # a NULL stats struct means the group PREDATES the column
            # (schema evolution) — its rows decode as NULL, so the
            # column does contain nulls there
            F.max(F.coalesce(F.col("has_null"), F.lit(True))).alias("has_null"),
        )
    )


def explain_scan(spark: SparkSession, blocks_path: str, manifest_path: str,
                 predicate=None, run_ids: list[str] | None = None
                 ) -> DataFrame:
    """Metadata-only prune report: how many block groups (and rows) a
    decode with this predicate would SKIP unopened ('none' zones),
    ACCEPT whole ('all' zones — decoded without evaluating the
    predicate), or OPEN (payload decode + mask).  The scan projects
    ONLY the predicate columns' stats leaves + n_rows — its ReadSchema
    carries no ``block`` binary, so the report costs a metadata scan
    even at 100 TB.  Run it BEFORE an expensive decode to predict the
    scanned fraction (and whether sort_cols clustering / bloom filters
    are earning their keep).

    Zone-level accounting only: an 'open' group may still short-circuit
    after its first predicate column's mask, so 'open' is the decoder's
    upper bound, not its exact cost.  Returns one row per verdict:
    (verdict, n_groups, n_rows)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from .decode import resolve_predicates
    from .filters import pred_columns
    from .memutil import trimmed

    meta = manifestmod.table_meta(spark, manifest_path)
    # the resolver decode_table uses: explain accepts every predicate
    # the decode it predicts accepts
    predicates = resolve_predicates(predicate, meta)
    cols = pred_columns(predicates)
    blocks = schema_read_blocks(spark, blocks_path, meta["columns"])
    if run_ids is not None:
        blocks = blocks.filter(_in_sql("run_id", run_ids))
    blocks = manifestmod.join_valid(blocks.selectExpr(
        *map(_sql_name, (PART_ID, "run_id", "n_rows")),
        *[f"{_sql_name('cols', c, 'stats')} AS {_sql_name('__st_' + c)}"
          for c in cols]),
        manifestmod.valid_pairs_df(spark, manifest_path, run_ids=run_ids))

    out_schema = T.StructType([
        T.StructField("verdict", T.StringType(), False),
        T.StructField("n_groups", T.LongType(), False),
        T.StructField("n_rows", T.LongType(), False),
    ])

    def gen(batches):
        for batch in batches:
            names = batch.schema.names
            nrows = batch.column(names.index("n_rows"))
            st_cols = {c: batch.column(names.index(f"__st_{c}"))
                       for c in cols}

            def st_of(c, j):
                s = st_cols[c][j]
                return s.as_py() if s.is_valid else None

            counts = {"skip": [0, 0], "accept": [0, 0], "open": [0, 0]}
            for i in range(batch.num_rows):
                verdict = "accept"
                for pred in predicates:
                    v = pred.zone_verdict_cols(lambda c: st_of(c, i))
                    if v == "none":
                        verdict = "skip"
                        break
                    if v == "some":
                        verdict = "open"
                c = counts[verdict]
                c[0] += 1
                c[1] += int(nrows[i].as_py())
            rows = [(k, v[0], v[1]) for k, v in counts.items() if v[0]]
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([r[0] for r in rows]),
                     pa.array([r[1] for r in rows], pa.int64()),
                     pa.array([r[2] for r in rows], pa.int64())],
                    names=["verdict", "n_groups", "n_rows"])

    # 3 partial rows per task at most cross the fold
    partials = blocks.mapInArrow(trimmed(gen), out_schema)
    return (partials.groupBy("verdict")
            .agg(F.sum("n_groups").alias("n_groups"),
                 F.sum("n_rows").alias("n_rows"))
            .orderBy("verdict"))
