"""Compressed-domain aggregation: SUM / COUNT / GROUP-BY-count computed
from encoded blocks WITHOUT materializing rows — optionally under a
pushed predicate (the full WHERE -> aggregate pipeline in one pass).

The reference stops at zone statistics (footer min/max,
parquet_metadata_thrift.rs:657); this module pushes whole aggregations
into the encoded domain, the classic "compute on compressed data" move
of column stores:

* ``rle`` blocks aggregate over (run_value, run_length) pairs — O(runs)
  instead of O(rows), no ``np.repeat`` materialization;
* ``dict`` blocks aggregate over (dictionary, code histogram) —
  ``np.bincount`` of the code stream plus one pass over the distinct
  values, never touching the decoded strings;
* every other codec decodes the block normally but reduces it INSIDE
  the task, so exactly one partial-aggregate row per block crosses the
  executor boundary (map-side combine below the row level).

With a ``predicate``, the same cascade the decoder runs applies first:
JVM zone prefilters drop provably-dead groups before their bytes cross
into Python, zone maps answer all/none without opening the block, and
groups where only SOME rows survive reduce over a late-materialized
selective decode (only surviving rows are ever decoded).

Every operator runs on one scaffold: ``_blocks_proj`` projects the
block leaves an operator needs, and ``_scan`` runs the per-task loop
(predicate cascade, schema-evolution NULLs, the block-bytes crossing
into Python, ``trimmed``).  An operator supplies only a per-group
reducer plus, for per-partition accumulators, a stream-end flush.

At 100 TB the difference is structural: a GROUP BY over a dictionary-
coded flag column moves (n_blocks x n_distinct) tiny rows through one
final shuffle instead of n_rows values.
"""

from __future__ import annotations

import json as jsonmod
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..kernels import block as blockmod
from ..kernels import dictionary, lists, strings
from . import manifest as manifestmod
from .filters import Predicate, pred_columns
from .memutil import trimmed
from .schema import PART_ID, read_blocks as schema_read_blocks

_CELL = "__cell_"  # alias prefix of the projected block columns


def _fields(meta: dict) -> dict:
    """Column name -> Spark DataType, from the manifest schema JSON."""
    schema = T.StructType.fromJson(jsonmod.loads(meta["schema_json"]))
    return {f.name: f.dataType for f in schema.fields}


def _arrow_type(spark: SparkSession, dtype) -> pa.DataType:
    """The Arrow type a partial batch carries for a Spark column type
    (timestamps in the session time zone, as decode emits them)."""
    from .decode import arrow_out_type

    return arrow_out_type(
        dtype, spark.conf.get("spark.sql.session.timeZone", "UTC"))


def _open_dense(blk: bytes):
    """open_block + the n_valid arithmetic every aggregate needs."""
    payload, validity, meta, tag, codec, n_rows = blockmod.open_block(blk)
    n_valid = int(validity.sum()) if validity is not None else n_rows
    return payload, meta, tag, codec, n_rows, n_valid


def _check_tag(tag: str, what: str, bad=("d128",)):
    if tag in bad or tag in lists.LIST_TAGS:
        raise TypeError(f"{what} over tag {tag!r} is not defined")


def _dec_arr(unscaled_ints, out_t: "pa.DataType"):
    """Vector of unscaled ints (python ints / int64s, None allowed) ->
    arrow decimal array.  Per-element Decimal construction — callers
    only pass aggregate RESULTS (<= k per block / one per group), never
    row streams."""
    py = [None if x is None else Decimal(int(x)).scaleb(-out_t.scale)
          for x in unscaled_ints]
    return pa.array(py, out_t)


def _arrow_of(values, out_t: "pa.DataType"):
    """Kernel values (StringColumn, an Arrow array, or storage values)
    -> an Arrow array of the partial's type ``out_t``.  Decimal storage
    values are unscaled integers, so they rescale instead of casting."""
    if pa.types.is_decimal(out_t):
        return _dec_arr(values, out_t)
    if isinstance(values, strings.StringColumn):
        arr = strings.to_arrow(values)
    elif isinstance(values, pa.Array):
        arr = values
    else:
        arr = pa.array(np.asarray(values))
    return arr if arr.type.equals(out_t) else arr.cast(out_t)


def _scalar_arr(v, out_t: "pa.DataType"):
    """One reduced value (or None) -> 1-element Arrow array."""
    if pa.types.is_decimal(out_t):
        return _dec_arr([v], out_t)
    if v is None:
        return pa.nulls(1, out_t)
    arr = (pa.array([v]) if isinstance(v, (bytes, str))
           else pa.array(np.asarray([v])))
    return arr.cast(out_t)


def _rows_batch(rows: list[tuple], schema: pa.Schema):
    """Row tuples -> one partial RecordBatch (None without rows)."""
    if not rows:
        return None
    return pa.record_batch([list(c) for c in zip(*rows)], schema=schema)


def _resolve_mask(blk_cols, st_cols, i: int, predicates):
    """The decoder's zone/mask cascade for one block group ->
    'none' | 'all' | full-length bool mask (decode.eval_group_predicate
    reused, so dictionary-level predicate evaluation, the ternary null
    rule, and composite OR/NOT semantics apply identically here)."""
    from .decode import eval_group_predicate

    blk_of = lambda c, j: blk_cols[c][j]  # noqa: E731
    st_of = lambda c, j: st_cols[c][j].as_py()  # noqa: E731
    mask = None
    for pred in predicates:
        verdict, pmask = eval_group_predicate(pred, blk_of, st_of, i)
        if verdict == "none":
            return "none"
        if pmask is not None:
            mask = pmask if mask is None else (mask & pmask)
            if not mask.any():
                return "none"
    return "all" if mask is None else mask


def _normalize_predicates(predicate) -> list[Predicate]:
    if predicate is None:
        return []
    return predicate if isinstance(predicate, list) else [predicate]


def _blocks_proj(spark: SparkSession, blocks_path: str, manifest_path: str,
                 columns: list[str], predicates: list[Predicate],
                 run_ids: list[str] | None = None,
                 meta: dict | None = None) -> DataFrame:
    """The blocks frame ``_scan`` reads: the block leaf of each of
    ``columns`` in order (the wide layout aligns them inside one parquet
    row: same group = same rows, same order) plus the block and stats
    leaves of every predicate column.  JVM zone prefilters drop
    provably-dead groups before their bytes cross into Python, and the
    manifest's valid (part_id, run_id) pairs bound the scan."""
    if meta is None:
        meta = manifestmod.table_meta(spark, manifest_path)
    known = set(meta["columns"])
    for c in list(columns) + pred_columns(predicates):
        if c not in known:
            raise KeyError(f"unknown column {c}; encoded: {meta['columns']}")

    def leaf(c, name):
        return F.col("cols").getField(c).getField(name)

    proj = [F.col(PART_ID), F.col("run_id"), F.col("n_rows")]
    proj += [leaf(c, "block").alias(f"{_CELL}{j}")
             for j, c in enumerate(columns)]
    for pc_ in pred_columns(predicates):
        proj += [leaf(pc_, "block").alias(f"__blk_{pc_}"),
                 leaf(pc_, "stats").alias(f"__st_{pc_}")]
    blocks = (schema_read_blocks(spark, blocks_path, meta["columns"])
              .select(*proj))
    if run_ids is not None:
        # incremental scope (streaming aggregation): only these runs'
        # groups are read — parquet run_id stats prune the rest
        blocks = blocks.filter(F.col("run_id").isin(list(run_ids)))
    keeps = [k for k in (p.jvm_zone_keep_cols(lambda c: F.col(f"__st_{c}"))
                         for p in predicates) if k is not None]
    for k in keeps:
        blocks = blocks.filter(k)
    valid = manifestmod.valid_pairs_df(spark, manifest_path)
    return blocks.join(F.broadcast(valid), [PART_ID, "run_id"], "inner")


class _Group:
    """One block group that survived the predicate cascade, as ``_scan``
    hands it to a reducer.  ``cells`` holds the block bytes of each
    ``_blocks_proj`` column in order — None where the group predates the
    column (schema evolution), so every one of its rows reads as NULL.
    ``mask`` is 'all' or the full-length bool mask of surviving rows."""

    __slots__ = ("pid", "n_rows", "mask", "cells")

    def __init__(self, pid: int, n_rows: int, mask, cells: list):
        self.pid, self.n_rows, self.mask, self.cells = pid, n_rows, mask, cells

    @property
    def n_sel(self) -> int:
        """Surviving row count."""
        return (self.n_rows if isinstance(self.mask, str)
                else int(self.mask.sum()))

    @property
    def sel(self) -> np.ndarray:
        """Full-length bool mask of the surviving rows."""
        return (np.ones(self.n_rows, dtype=bool)
                if isinstance(self.mask, str) else self.mask)


def _scan(blocks: DataFrame, predicates: list[Predicate], out_schema,
          per_group, flush=None) -> DataFrame:
    """The one task loop behind every compressed-domain aggregate.

    For each block group of a ``_blocks_proj`` frame: resolve the
    predicate cascade, skip groups it proves empty, cross the surviving
    group's block bytes into Python once (NULL-column cells become
    None) and call ``per_group(group, acc)``.  A reducer either returns
    a partial RecordBatch for that group (or None), or folds into
    ``acc`` — a per-task dict — which ``flush(acc)`` turns into the
    task's partial batch at stream end.  ``out_schema`` is a Spark
    schema, or a pyarrow schema for fixed-width partial lanes.  The
    generator runs ``trimmed``, so reused workers release task memory."""
    if isinstance(out_schema, pa.Schema):
        from pyspark.sql.pandas.types import from_arrow_schema

        out_schema = from_arrow_schema(out_schema)
    pcols = pred_columns(predicates)

    def scan_task(batches):
        acc: dict = {}
        for batch in batches:
            names = batch.schema.names
            cells = [batch.column(j) for j, n in enumerate(names)
                     if n.startswith(_CELL)]
            pids = batch.column(names.index(PART_ID)).to_pylist()
            grows = batch.column(names.index("n_rows")).to_pylist()
            blk_cols = {c: batch.column(names.index(f"__blk_{c}"))
                        for c in pcols}
            st_cols = {c: batch.column(names.index(f"__st_{c}"))
                       for c in pcols}
            for i in range(batch.num_rows):
                mask = _resolve_mask(blk_cols, st_cols, i, predicates)
                if isinstance(mask, str) and mask == "none":
                    continue
                out = per_group(_Group(
                    pids[i], grows[i], mask,
                    [c[i].as_py() if c[i].is_valid else None
                     for c in cells]), acc)
                if out is not None:
                    yield out
        out = flush(acc) if flush is not None else None
        if out is not None:
            yield out

    return blocks.mapInArrow(trimmed(scan_task), out_schema)


# ---------------------------------------------------------------- sums

def _reduce_sum(v: np.ndarray, weights: np.ndarray | None = None):
    if v.dtype.kind == "f":
        w = weights.astype(np.float64) if weights is not None else None
        return float(np.dot(v.astype(np.float64), w) if w is not None
                     else v.sum(dtype=np.float64))
    w = weights.astype(np.int64) if weights is not None else None
    return int(np.dot(v.astype(np.int64), w) if w is not None
               else v.sum(dtype=np.int64))


def _sum_d128_pairs(pairs: np.ndarray) -> int:
    """Exact sum of (lo, hi) int64 word pairs: value = hi*2^64 + lo_u,
    so sum = 2^64 * sum(hi) + sum(lo_u), both folded in arbitrary-
    precision Python ints (never overflows, never rounds)."""
    if not len(pairs):
        return 0
    lo_u = pairs[:, 0].astype(np.uint64)
    hi = pairs[:, 1]
    return (int(hi.astype(object).sum()) << 64) + int(lo_u.astype(object).sum())


def _block_sum(blk: bytes, mask="all", exact_decimal: bool = False):
    """(sum_of_non_null, n_rows_or_selected, n_valid) for one numeric
    block under ``mask`` ('all' or a full-length bool row mask).

    Unmasked, rle sums run_value * run_length (O(runs)) and dict sums
    dictionary[code] via the code histogram (O(distinct + codes)); other
    codecs decode-and-reduce in the task.  A row mask decodes ONLY the
    surviving rows (late materialization).  ``exact_decimal`` sums the
    unscaled integers of a decimal column exactly as a Python int: int64
    low words for p<=18, (lo, hi) word pairs for the d128 storage."""
    if isinstance(mask, str):  # 'all'
        payload, meta, tag, codec, n_rows, n_valid = _open_dense(blk)
    else:
        values, _v, tag, codec, n_rows = blockmod.decode_block_rows(blk, mask)
        n_valid = len(values)
    d128 = exact_decimal and tag == "d128"
    if not d128:
        _check_tag(tag, "sum", ("bytes", "d128"))
    weights = None
    if isinstance(mask, str):  # d128 is word-plane plain only
        if codec == "rle":
            values, weights = blockmod.decode_rle_runs(
                payload, meta, n_valid, tag)
        elif codec == "dict":
            values, codes = dictionary.decode_parts(payload, meta, n_valid,
                                                    tag)
            weights = np.bincount(codes, minlength=len(values))
        else:
            values = blockmod.decode_values(payload, meta, n_valid, tag, codec)
    v = np.asarray(values)
    if d128:
        return _sum_d128_pairs(v), n_rows, n_valid
    s = _reduce_sum(v, weights)
    return (int(s) if exact_decimal else s), n_rows, n_valid


def _block_count(blk: bytes, mask) -> tuple[int, int]:
    """(n_rows_or_selected, n_valid) from the block VALIDITY alone —
    open_block parses the header + validity bitmap, values are never
    decoded, so every tag counts."""
    _p, validity, _m, _t, _c, n_rows = blockmod.open_block(blk)
    if isinstance(mask, str):  # 'all'
        return n_rows, (int(validity.sum()) if validity is not None
                        else n_rows)
    n_sel = int(mask.sum())
    return n_sel, (int(validity[mask].sum()) if validity is not None
                   else n_sel)


def _new_lanes() -> list:
    return [0, 0.0, False, 0, 0, 0]  # s_l, s_d, is_f, s_dec, rows, nulls


def _add_block(a: list, cell, g: _Group, lane: str) -> None:
    """Fold one block into sum lanes ``a`` (see ``_new_lanes``): lane
    'sum' (int64 / float64), 'dec' (exact unscaled decimal) or 'count'
    (validity only).  A None cell's surviving rows are all NULL."""
    if cell is None:
        s, n, nv = 0, g.n_sel, 0
    elif lane == "count":
        s, (n, nv) = 0, _block_count(cell, g.mask)
    else:
        s, n, nv = _block_sum(cell, g.mask, lane == "dec")
    if lane == "dec":
        a[3] += s
    elif isinstance(s, float):
        a[1] += s
        a[2] = True
    else:
        a[0] += s
    a[4] += n
    a[5] += n - nv


def _part_lanes(blocks: DataFrame, predicates: list[Predicate], lane: str,
                schema: pa.Schema, pick) -> DataFrame:
    """Per-(task, part_id) lane partials of the single projected column:
    one ``(part_id, *pick(lanes))`` row per partition that kept rows."""

    def per_group(g, acc):
        _add_block(acc.setdefault(g.pid, _new_lanes()), g.cells[0], g, lane)

    def flush(acc):
        return _rows_batch([(pid, *pick(a)) for pid, a in acc.items()
                            if a[4]], schema)

    return _scan(blocks, predicates, schema, per_group, flush)


_SUM_LANES = pa.schema([(PART_ID, pa.int32()), ("s_l", pa.int64()),
                        ("s_d", pa.float64()), ("is_f", pa.bool_()),
                        ("rows", pa.int64()), ("nulls", pa.int64())])
_SUM_DEC_LANES = pa.schema([(PART_ID, pa.int32()),
                            ("s_dec", pa.decimal128(38, 0)),
                            ("rows", pa.int64()), ("nulls", pa.int64())])
_COUNT_LANES = pa.schema([(PART_ID, pa.int32()), ("rows", pa.int64()),
                          ("nulls", pa.int64())])


def column_sum(spark: SparkSession, blocks_path: str, manifest_path: str,
               column: str, predicate=None,
               run_ids: list[str] | None = None) -> DataFrame:
    """One-row DataFrame (column, sum_value, n_rows, n_nulls) computed in
    the compressed domain: each task reduces its blocks to one partial
    row; Spark's final aggregation folds the partials (exact int64 for
    integer storage, float64 for floats).  ``predicate`` (one or a list,
    ANDed) restricts the aggregate to surviving rows — zone maps answer
    all/none without opening blocks; partially-surviving groups reduce a
    selective decode of only the surviving rows.

    Decimal columns sum EXACTLY in the unscaled-integer domain (int64
    low words for p<=18, (lo,hi) word-pair arithmetic in arbitrary-
    precision Python ints for the d128 storage) and return sum_value as
    decimal(38, s) — SQL SUM(decimal) semantics, no float rounding."""
    predicates = _normalize_predicates(predicate)
    meta = manifestmod.table_meta(spark, manifest_path)
    dt = _fields(meta)[column]
    blocks = _blocks_proj(spark, blocks_path, manifest_path, [column],
                          predicates, run_ids=run_ids, meta=meta)
    if isinstance(dt, T.DecimalType):
        # per-task exact unscaled sums ride as decimal(38,0) partials
        # (loud overflow past 38 digits at the Arrow boundary — never
        # silent); the final fold divides by 10^scale as a decimal
        return _fold_sum_dec(_sum_dec_partials(blocks, predicates), column,
                             dt.scale)
    return _fold_sum(_sum_partials(blocks, predicates), column)


def _sum_partials(blocks: DataFrame, predicates: list[Predicate]) -> DataFrame:
    """Per-(task, part_id) partial sums over one projected blocks frame
    -> (part_id, s_l, s_d, is_f, rows, nulls).  part_id rides along so
    incremental consumers (streaming/agg_stream.py) can re-validate
    partials against the manifest after compaction."""
    return _part_lanes(blocks, predicates, "sum", _SUM_LANES,
                       lambda a: (a[0], a[1], a[2], a[4], a[5]))


def _fold_sum(partials: DataFrame, column: str) -> DataFrame:
    """Fold (part_id, s_l, s_d, is_f, rows, nulls) partials into the
    one-row column_sum result."""
    return (partials.agg(
        F.sum("s_l").alias("s_l"), F.sum("s_d").alias("s_d"),
        F.max("is_f").alias("is_f"), F.sum("rows").alias("n_rows"),
        F.sum("nulls").alias("n_nulls"))
        .select(F.lit(column).alias("column"),
                F.when(F.col("is_f"), F.col("s_d") + F.col("s_l"))
                .otherwise(F.col("s_l").cast("double")).alias("sum_value"),
                F.coalesce(F.col("n_rows"), F.lit(0)).alias("n_rows"),
                F.coalesce(F.col("n_nulls"), F.lit(0)).alias("n_nulls")))


def _sum_dec_partials(blocks: DataFrame,
                      predicates: list[Predicate]) -> DataFrame:
    """Per-(task, part_id) exact unscaled decimal partials over one
    projected blocks frame -> (part_id, s_dec, rows, nulls).  part_id
    rides along so incremental consumers (streaming/agg_stream.py) can
    re-validate partials against the manifest — the decimal analog of
    ``_sum_partials``."""
    return _part_lanes(blocks, predicates, "dec", _SUM_DEC_LANES,
                       lambda a: (Decimal(a[3]), a[4], a[5]))


def _fold_sum_dec(partials: DataFrame, column: str, scale: int) -> DataFrame:
    """Fold (part_id, s_dec, rows, nulls) partials into the one-row
    column_sum result for decimal storage (decimal-domain rescale)."""
    divisor = F.lit(10 ** scale).cast(T.DecimalType(scale + 1, 0))
    return (partials.agg(
        F.sum("s_dec").alias("s_dec"), F.sum("rows").alias("n_rows"),
        F.sum("nulls").alias("n_nulls"))
        .select(F.lit(column).alias("column"),
                (F.col("s_dec") / divisor)
                .cast(T.DecimalType(38, scale)).alias("sum_value"),
                F.coalesce(F.col("n_rows"), F.lit(0)).alias("n_rows"),
                F.coalesce(F.col("n_nulls"), F.lit(0)).alias("n_nulls")))


def column_sums(spark: SparkSession, blocks_path: str, manifest_path: str,
                columns: list[str], predicate=None) -> DataFrame:
    """SUM over MANY columns in ONE scan of the blocks parquet — the
    stats-sweep shape (dashboards, validation) where per-column
    column_sum calls would re-read the table N times.  The predicate
    mask resolves once per block group and is shared by every column.
    Returns one row per column: (column, sum_value double, n_rows,
    n_nulls).  Decimal columns fold exactly in the unscaled decimal
    domain and rescale at the end (use column_sum for a decimal(38,s)
    result type); bytes/list columns raise."""
    if not columns:
        raise ValueError("columns must be non-empty")
    predicates = _normalize_predicates(predicate)
    meta = manifestmod.table_meta(spark, manifest_path)
    col_list = list(columns)
    blocks = _blocks_proj(spark, blocks_path, manifest_path, col_list,
                          predicates, meta=meta)
    fields = _fields(meta)
    scales = {c: (fields[c].scale if isinstance(fields[c], T.DecimalType)
                  else None) for c in col_list}
    lanes = ["dec" if scales[c] is not None else "sum" for c in col_list]
    schema = pa.schema([("column", pa.string()), ("s_l", pa.int64()),
                        ("s_d", pa.float64()), ("is_f", pa.bool_()),
                        ("s_dec", pa.decimal128(38, 0)),
                        ("rows", pa.int64()), ("nulls", pa.int64())])

    def per_group(g, acc):
        for c, lane, cell in zip(col_list, lanes, g.cells):
            _add_block(acc.setdefault(c, _new_lanes()), cell, g, lane)

    def flush(acc):
        return _rows_batch([(c, a[0], a[1], a[2], Decimal(a[3]), a[4], a[5])
                            for c, a in acc.items() if a[4]], schema)

    partials = _scan(blocks, predicates, schema, per_group, flush)
    agg = partials.groupBy("column").agg(
        F.sum("s_l").alias("s_l"), F.sum("s_d").alias("s_d"),
        F.max("is_f").alias("is_f"), F.sum("s_dec").alias("s_dec"),
        F.sum("rows").alias("n_rows"), F.sum("nulls").alias("n_nulls"))
    # per-column decimal scale: map literal column -> 10^scale (double)
    dec_cols = [c for c, s in scales.items() if s is not None]
    sum_col = (F.when(F.col("is_f"), F.col("s_d") + F.col("s_l"))
               .otherwise(F.col("s_l").cast("double")))
    if dec_cols:
        scale_map = F.create_map(*[x for c in dec_cols
                                   for x in (F.lit(c),
                                             F.lit(float(10 ** scales[c])))])
        sum_col = (F.when(F.col("column").isin(dec_cols),
                          F.col("s_dec").cast("double")
                          / scale_map[F.col("column")])
                   .otherwise(sum_col))
    return agg.select("column", sum_col.alias("sum_value"),
                      "n_rows", "n_nulls")


def column_avg(spark: SparkSession, blocks_path: str, manifest_path: str,
               column: str, predicate=None,
               run_ids: list[str] | None = None) -> DataFrame:
    """AVG(``column``) in the compressed domain with SQL null semantics:
    nulls leave both the numerator and the denominator (AVG over an
    all-null selection is NULL, never 0/0).  Built on ``column_sum``'s
    partials, so the shuffle shape is identical (one partial row per
    task).  Decimal columns sum exactly in the unscaled domain first
    and divide once at the end (the quotient itself is a float64 —
    document consumers that need digit-exact division should divide
    ``column_sum`` themselves).  Returns one row:
    (column, avg_value double, n_rows, n_nulls)."""
    s = column_sum(spark, blocks_path, manifest_path, column,
                   predicate=predicate, run_ids=run_ids)
    n_valid = F.col("n_rows") - F.col("n_nulls")
    return s.select(
        "column",
        F.when(n_valid == 0, F.lit(None).cast("double"))
        .otherwise(F.col("sum_value").cast("double") / n_valid)
        .alias("avg_value"),
        "n_rows", "n_nulls")


def column_count(spark: SparkSession, blocks_path: str, manifest_path: str,
                 column: str, predicate=None,
                 run_ids: list[str] | None = None) -> DataFrame:
    """COUNT(``column``) / COUNT(*) in the compressed domain: each task
    reads only block VALIDITY (open_block parses the header + validity
    bitmap; values are never decoded), so the operator works for every
    tag — including byte/list columns that ``column_sum`` refuses.
    Under a predicate, partially-surviving blocks count
    ``validity[mask]``.  Returns one row:
    (column, n_values, n_rows, n_nulls) where n_values = COUNT(column)
    and n_rows = COUNT(*) of the surviving selection."""
    predicates = _normalize_predicates(predicate)
    blocks = _blocks_proj(spark, blocks_path, manifest_path, [column],
                          predicates, run_ids=run_ids)
    partials = _part_lanes(blocks, predicates, "count", _COUNT_LANES,
                           lambda a: (a[4], a[5]))
    return (partials.agg(
        F.sum("rows").alias("n_rows"), F.sum("nulls").alias("n_nulls"))
        .select(F.lit(column).alias("column"),
                (F.coalesce(F.col("n_rows"), F.lit(0))
                 - F.coalesce(F.col("n_nulls"), F.lit(0))).alias("n_values"),
                F.coalesce(F.col("n_rows"), F.lit(0)).alias("n_rows"),
                F.coalesce(F.col("n_nulls"), F.lit(0)).alias("n_nulls")))


# ------------------------------------------------ single-column scans

def _block_value_counts(blk: bytes, mask="all"):
    """(values, counts, n_null) for one block — values stay in their
    kernel representation (StringColumn for bytes, ndarray otherwise),
    counts int64, nulls reported separately (SQL GROUP BY semantics).
    A row mask counts a selective decode of the surviving rows."""
    if not isinstance(mask, str):
        values, _v, tag, codec, n_sel = blockmod.decode_block_rows(blk, mask)
        _check_tag(tag, "value_counts")
        return _counts_of(values, tag, n_sel - len(values))
    payload, meta, tag, codec, n_rows, n_valid = _open_dense(blk)
    _check_tag(tag, "value_counts")
    n_null = n_rows - n_valid
    if codec == "dict":
        uniques, codes = dictionary.decode_parts(payload, meta, n_valid, tag)
        cnt = np.bincount(codes, minlength=len(uniques)).astype(np.int64)
        return uniques, cnt, n_null
    if codec == "rle" and tag != "bytes":
        run_values, run_lengths = blockmod.decode_rle_runs(
            payload, meta, n_valid, tag)
        u, inv = np.unique(np.asarray(run_values), return_inverse=True)
        cnt = np.zeros(len(u), dtype=np.int64)
        np.add.at(cnt, inv, run_lengths.astype(np.int64))
        return u, cnt, n_null
    values = blockmod.decode_values(payload, meta, n_valid, tag, codec)
    return _counts_of(values, tag, n_null)


def _counts_of(values, tag: str, n_null: int):
    if tag == "bytes":
        vc = pc.value_counts(strings.to_arrow(values))
        varr = vc.field("values")
        if isinstance(varr, pa.ChunkedArray):
            varr = varr.combine_chunks()
        u = strings.from_arrow(varr)
        cnt = np.asarray(vc.field("counts")).astype(np.int64)
        return u, cnt, n_null
    u, cnt = np.unique(np.asarray(values), return_counts=True)
    return u, cnt.astype(np.int64), n_null


def value_counts(spark: SparkSession, blocks_path: str, manifest_path: str,
                 column: str, predicate=None,
                 run_ids: list[str] | None = None) -> DataFrame:
    """GROUP BY ``column`` -> COUNT(*) in the compressed domain: dict
    blocks contribute (dictionary value, code-histogram count) rows, rle
    blocks (run value, summed lengths), others reduce with np.unique —
    only per-block distinct values ride the final (tiny) shuffle.  A
    NULL group row is emitted when the column has nulls (SQL GROUP BY
    semantics).  ``predicate`` restricts counting to surviving rows.
    Returns (value, cnt); value typed by the table schema."""
    predicates = _normalize_predicates(predicate)
    meta = manifestmod.table_meta(spark, manifest_path)
    blocks = _blocks_proj(spark, blocks_path, manifest_path, [column],
                          predicates, meta=meta, run_ids=run_ids)
    partials = _vc_partials(spark, blocks, predicates, _fields(meta)[column])
    return (partials.groupBy("value").agg(F.sum("cnt").alias("cnt")))


def _vc_partials(spark: SparkSession, blocks: DataFrame,
                 predicates: list[Predicate], value_type) -> DataFrame:
    """Per-block (part_id, value, cnt) partial histograms over one
    projected blocks frame; fold with groupBy(value).sum(cnt)."""
    out_schema = T.StructType([
        T.StructField(PART_ID, T.IntegerType(), False),
        T.StructField("value", value_type, True),
        T.StructField("cnt", T.LongType(), False),
    ])
    out_t = _arrow_type(spark, value_type)

    def per_group(g, acc):
        if g.cells[0] is None:  # every surviving row is the NULL value
            varr, cnt = pa.nulls(1, out_t), np.array([g.n_sel], np.int64)
        else:
            u, cnt, n_null = _block_value_counts(g.cells[0], g.mask)
            varr = _arrow_of(u, out_t)
            if n_null:
                varr = pa.concat_arrays([varr, pa.nulls(1, out_t)])
                cnt = np.append(cnt, n_null)
        return pa.RecordBatch.from_arrays(
            [pa.array(np.full(len(varr), g.pid, dtype=np.int32)), varr,
             pa.array(cnt, pa.int64())], names=[PART_ID, "value", "cnt"])

    return _scan(blocks, predicates, out_schema, per_group)


def _d128_minmax(pairs: np.ndarray) -> tuple[int, int]:
    """(min, max) of (lo, hi) int64 word pairs as exact Python ints —
    signed-128 order = lexicographic (hi signed, lo unsigned)."""
    lo_u = pairs[:, 0].astype(np.uint64)
    hi = pairs[:, 1]
    order = np.lexsort((lo_u, hi))
    i, j = int(order[0]), int(order[-1])

    def val(k: int) -> int:
        return (int(hi[k]) << 64) + int(lo_u[k])

    return val(i), val(j)


def _minmax_of(values, tag: str):
    if not len(values):
        return None, None
    if tag == "d128":
        return _d128_minmax(np.asarray(values))
    if tag == "bytes":
        mm = pc.min_max(strings.to_arrow(values))
        return mm["min"].as_py(), mm["max"].as_py()
    v = np.asarray(values)
    return v.min(), v.max()


def _block_minmax(blk: bytes, mask="all"):
    """(vmin, vmax, n_rows_or_selected, n_valid) for one block,
    value-exact (unlike the float64 zone stats): sorted dict blocks
    answer in O(1) from the dictionary's head/tail; rle blocks reduce
    run values (O(runs)); everything else decodes dense (a row mask:
    only the surviving rows).  Returns numpy scalars / bytes; d128
    blocks return exact Python ints (unscaled)."""
    if not isinstance(mask, str):
        values, _v, tag, codec, n_sel = blockmod.decode_block_rows(blk, mask)
        _check_tag(tag, "min/max", ())
        return (*_minmax_of(values, tag), n_sel, len(values))
    payload, meta, tag, codec, n_rows, n_valid = _open_dense(blk)
    _check_tag(tag, "min/max", ())
    if not n_valid:
        return None, None, n_rows, 0
    if codec == "dict":
        u = dictionary.decode_dictionary(payload, meta, tag)
        return u[0], u[len(u) - 1], n_rows, n_valid
    if codec == "rle" and tag != "bytes":
        values, _rl = blockmod.decode_rle_runs(payload, meta, n_valid, tag)
    else:
        values = blockmod.decode_values(payload, meta, n_valid, tag, codec)
    return (*_minmax_of(values, tag), n_rows, n_valid)


def column_minmax(spark: SparkSession, blocks_path: str, manifest_path: str,
                  column: str, predicate=None,
                  run_ids: list[str] | None = None) -> DataFrame:
    """One-row (column, vmin, vmax, n_rows, n_nulls), value-exact and
    predicate-aware — the companion to stats.column_minmax (which reads
    only float64 zone leaves and can't filter).  Sorted dictionaries
    answer min/max in O(1); the result is typed by the table schema, so
    int64 beyond 2^53 and byte strings stay exact."""
    predicates = _normalize_predicates(predicate)
    meta = manifestmod.table_meta(spark, manifest_path)
    dt = _fields(meta)[column]
    blocks = _blocks_proj(spark, blocks_path, manifest_path, [column],
                          predicates, meta=meta, run_ids=run_ids)
    out_t = _arrow_type(spark, dt)
    out_schema = T.StructType([
        T.StructField("vmin", dt, True),
        T.StructField("vmax", dt, True),
        T.StructField("rows", T.LongType(), False),
        T.StructField("nulls", T.LongType(), False),
    ])

    def per_group(g, acc):
        lo, hi, n, nv = ((None, None, g.n_sel, 0) if g.cells[0] is None
                         else _block_minmax(g.cells[0], g.mask))
        return pa.RecordBatch.from_arrays(
            [_scalar_arr(lo, out_t), _scalar_arr(hi, out_t),
             pa.array([n], pa.int64()), pa.array([n - nv], pa.int64())],
            names=["vmin", "vmax", "rows", "nulls"])

    partials = _scan(blocks, predicates, out_schema, per_group)
    return partials.agg(
        F.min("vmin").alias("vmin"), F.max("vmax").alias("vmax"),
        F.coalesce(F.sum("rows"), F.lit(0)).alias("n_rows"),
        F.coalesce(F.sum("nulls"), F.lit(0)).alias("n_nulls")).select(
        F.lit(column).alias("column"), "vmin", "vmax", "n_rows", "n_nulls")


def _block_distinct(blk: bytes, mask):
    """Distinct non-null values of one block (None when it has none):
    a dict block's dictionary as-is (every entry occurs by
    construction), an rle block's unique run values, np.unique / Arrow
    unique of the (selectively) decoded values otherwise."""
    if isinstance(mask, str):  # 'all'
        payload, meta, tag, codec, _n, n_valid = _open_dense(blk)
        _check_tag(tag, "distinct")
        if not n_valid:
            return None
        if codec == "dict":
            return dictionary.decode_dictionary(payload, meta, tag)
        if codec == "rle" and tag != "bytes":
            values, _rl = blockmod.decode_rle_runs(payload, meta, n_valid, tag)
        else:
            values = blockmod.decode_values(payload, meta, n_valid, tag, codec)
    else:
        values, _v, tag, codec, _n = blockmod.decode_block_rows(blk, mask)
        _check_tag(tag, "distinct")
    if not len(values):
        return None
    return (strings.to_arrow(values).unique() if tag == "bytes"
            else np.unique(np.asarray(values)))


def column_distinct(spark: SparkSession, blocks_path: str,
                    manifest_path: str, column: str,
                    predicate=None,
                    run_ids: list[str] | None = None) -> DataFrame:
    """DISTINCT values of ``column`` (NULL excluded, SQL COUNT(DISTINCT)
    semantics) — dict blocks contribute their dictionary directly
    WITHOUT decoding the code stream (every entry occurs by
    construction); rle blocks their run values; others np.unique.  Only
    per-block distinct sets cross the shuffle, so a 100 TB low-
    cardinality column folds to n_blocks x n_distinct tiny rows.
    Returns one column ``value``; count() it for COUNT(DISTINCT)."""
    predicates = _normalize_predicates(predicate)
    meta = manifestmod.table_meta(spark, manifest_path)
    dt = _fields(meta)[column]
    blocks = _blocks_proj(spark, blocks_path, manifest_path, [column],
                          predicates, meta=meta, run_ids=run_ids)
    out_t = _arrow_type(spark, dt)

    def per_group(g, acc):
        # an all-NULL (evolved) block contributes nothing
        u = None if g.cells[0] is None else _block_distinct(g.cells[0], g.mask)
        if u is None or not len(u):
            return None
        return pa.RecordBatch.from_arrays([_arrow_of(u, out_t)],
                                          names=["value"])

    partials = _scan(blocks, predicates,
                     T.StructType([T.StructField("value", dt, True)]),
                     per_group)
    return partials.distinct()


def _hash_values(values, tag: str) -> np.ndarray:
    """HLL hashes of decoded values: byte values dedupe through Arrow
    BEFORE the per-string hash, so Python cost is bounded by distinct."""
    from ..kernels import hll

    if tag == "bytes":
        arr = (strings.to_arrow(values)
               if isinstance(values, strings.StringColumn)
               else pa.array(values))
        return hll.hash_bytes(
            [v if isinstance(v, bytes) else v.encode()
             for v in arr.unique().to_pylist()])
    return hll.hash_fixed(np.asarray(values))


def _block_hashes(blk: bytes, mask):
    """(hashes or None, n_rows_or_selected, n_valid) for one block:
    dict blocks hash only their dictionary, rle blocks their run
    values, everything else the (selectively) decoded values."""
    from ..kernels import hll

    if not isinstance(mask, str):
        values, _v, tag, codec, n_sel = blockmod.decode_block_rows(blk, mask)
        _check_tag(tag, "approx distinct")
        return ((_hash_values(values, tag) if len(values) else None),
                n_sel, len(values))
    payload, meta, tag, codec, n_rows, n_valid = _open_dense(blk)
    _check_tag(tag, "approx distinct")
    if not n_valid:
        return None, n_rows, 0
    if codec == "dict":
        u = dictionary.decode_dictionary(payload, meta, tag)
        h = (hll.hash_bytes(u) if tag == "bytes"
             else hll.hash_fixed(np.asarray(u)))
    elif codec == "rle" and tag != "bytes":
        rv, _rl = blockmod.decode_rle_runs(payload, meta, n_valid, tag)
        h = hll.hash_fixed(np.asarray(rv))
    else:
        h = _hash_values(blockmod.decode_values(payload, meta, n_valid, tag,
                                                codec), tag)
    return h, n_rows, n_valid


def _hll_partials(blocks: DataFrame, predicates: list[Predicate],
                  p: int) -> DataFrame:
    """Per-(task, part_id) HyperLogLog register partials over one
    projected blocks frame -> (part_id, regs binary, rows, nulls).
    part_id rides along so incremental consumers
    (streaming/agg_stream.py) can re-validate partials against the
    manifest's valid pairs after compaction; registers merge
    commutatively (elementwise max), so any regrouping of partials
    yields bit-identical final registers."""
    from ..kernels import hll

    schema = pa.schema([(PART_ID, pa.int32()), ("regs", pa.binary()),
                        ("rows", pa.int64()), ("nulls", pa.int64())])

    def per_group(g, acc):
        a = acc.setdefault(g.pid, [hll.empty_registers(p), 0, 0])
        h, n, nv = ((None, g.n_sel, 0) if g.cells[0] is None
                    else _block_hashes(g.cells[0], g.mask))
        a[1] += n
        a[2] += n - nv
        if h is not None:
            hll.update(a[0], h)

    def flush(acc):
        return _rows_batch([(pid, regs.tobytes(), rows, nulls)
                            for pid, (regs, rows, nulls) in acc.items()],
                           schema)

    return _scan(blocks, predicates, schema, per_group, flush)


def _fold_hll(partials: DataFrame, column: str, p: int) -> DataFrame:
    """Fold (regs, rows, nulls) partials into the one-row
    column_distinct_approx result (single merge task; registers merge
    by elementwise max)."""
    from ..kernels import hll

    m = 1 << p

    def fold(batches):
        regs = hll.empty_registers(p)
        rows = 0
        nulls = 0
        for batch in batches:
            names = batch.schema.names
            rcol = batch.column(names.index("regs"))
            rrows = batch.column(names.index("rows"))
            rnulls = batch.column(names.index("nulls"))
            for i in range(batch.num_rows):
                part = np.frombuffer(rcol[i].as_py(), dtype=np.uint8)
                if len(part) != m:
                    raise ValueError("HLL register width mismatch in partial")
                np.maximum(regs, part, out=regs)
                rows += rrows[i].as_py()
                nulls += rnulls[i].as_py()
        est = int(round(hll.estimate(regs))) if regs.any() else 0
        yield pa.RecordBatch.from_arrays(
            [pa.array([est], pa.int64()),
             pa.array([rows], pa.int64()),
             pa.array([nulls], pa.int64())],
            names=["approx_distinct", "n_rows", "n_nulls"])

    # one constant-size row per (task, part) -> a single merge task;
    # repartition (not coalesce) keeps the scan parallel upstream
    merged = partials.repartition(1).mapInArrow(
        trimmed(fold), "approx_distinct long, n_rows long, n_nulls long")
    return merged.select(F.lit(column).alias("column"),
                         "approx_distinct", "n_rows", "n_nulls")


def column_distinct_approx(spark: SparkSession, blocks_path: str,
                           manifest_path: str, column: str, p: int = 14,
                           predicate=None,
                           run_ids: list[str] | None = None) -> DataFrame:
    """APPROX COUNT(DISTINCT) via a HyperLogLog sketch (kernels/hll.py)
    — the constant-shuffle companion to ``column_distinct``, which ships
    per-block distinct SETS and so degenerates to n_rows shuffled values
    on high-cardinality columns.  Here every task folds its blocks into
    per-partition 2^p-byte register arrays; one such row per (task,
    part_id) crosses the shuffle regardless of cardinality (p=14 ->
    16 KB partials, ~0.8% standard error) — the shape a 100 TB
    COUNT(DISTINCT) needs.

    Dict blocks hash only their dictionary (the code stream is never
    touched); rle blocks hash run values; byte columns dedupe through
    Arrow BEFORE the per-string hash so Python cost is bounded by
    per-block distinct count.  NULLs are excluded (SQL semantics).
    Deterministic: fixed hash functions, no seed.  Returns one row
    (column, approx_distinct, n_rows, n_nulls).  For the incremental
    variant over a growing table see streaming/agg_stream.py
    ``distinct_stream``/``read_distinct`` (same partials, same
    estimate)."""
    predicates = _normalize_predicates(predicate)
    blocks = _blocks_proj(spark, blocks_path, manifest_path, [column],
                          predicates, run_ids=run_ids)
    return _fold_hll(_hll_partials(blocks, predicates, p), column, p)


def _block_summary(blk: bytes, mask, k: int):
    """(values, weights) equi-depth summary of one block under the
    resolved mask (None without valid values), plus
    (n_rows_or_selected, n_valid).  rle and dict blocks summarize their
    (value, multiplicity) pairs without materializing rows."""
    from ..kernels import quantile as qk

    not_defined = ("bytes", "d128")
    if not isinstance(mask, str):
        values, _v, tag, codec, n_sel = blockmod.decode_block_rows(blk, mask)
        _check_tag(tag, "quantiles", not_defined)
        v = np.asarray(values)
        return (qk.summarize(v, None, k) if len(v) else None), n_sel, len(v)
    payload, meta, tag, codec, n_rows, n_valid = _open_dense(blk)
    _check_tag(tag, "quantiles", not_defined)
    if not n_valid:
        return None, n_rows, 0
    if codec == "rle":
        rv, rl = blockmod.decode_rle_runs(payload, meta, n_valid, tag)
        smry = qk.summarize(np.asarray(rv), rl.astype(np.float64), k)
    elif codec == "dict":
        uniques, codes = dictionary.decode_parts(payload, meta, n_valid, tag)
        cnt = np.bincount(codes, minlength=len(uniques))
        smry = qk.summarize(np.asarray(uniques), cnt.astype(np.float64), k)
    else:
        values = blockmod.decode_values(payload, meta, n_valid, tag, codec)
        smry = qk.summarize(np.asarray(values), None, k)
    return smry, n_rows, n_valid


def _quantile_partials(blocks: DataFrame, predicates: list[Predicate],
                       k: int, task_k: int) -> DataFrame:
    """Per-(task, part_id) equi-depth summary partials over one
    projected blocks frame -> (part_id, vs, ws, rows, nulls).  part_id
    rides along so incremental consumers (streaming/agg_stream.py) can
    re-validate partials against the manifest after compaction;
    summaries merge by weighted concatenation, so any regrouping only
    REFINES the final summary (rank error never grows past the
    per-partial bound)."""
    from ..kernels import quantile as qk

    schema = pa.schema([(PART_ID, pa.int32()),
                        ("vs", pa.list_(pa.float64())),
                        ("ws", pa.list_(pa.float64())),
                        ("rows", pa.int64()), ("nulls", pa.int64())])

    def per_group(g, acc):
        a = acc.setdefault(g.pid, [[], 0, 0])  # summaries, rows, nulls
        smry, n, nv = ((None, g.n_sel, 0) if g.cells[0] is None
                       else _block_summary(g.cells[0], g.mask, k))
        a[1] += n
        a[2] += n - nv
        if smry is not None:
            a[0].append(smry)

    def flush(acc):
        rows = []
        for pid, (summaries, n, nulls) in acc.items():
            v, w = qk.merge(summaries, k=task_k)
            rows.append((pid, v.tolist(), w.tolist(), n, nulls))
        return _rows_batch(rows, schema)

    return _scan(blocks, predicates, schema, per_group, flush)


def _fold_quantiles(partials: DataFrame, column: str,
                    plist: list[float]) -> DataFrame:
    """Fold (vs, ws, rows, nulls) summary partials into the
    column_quantiles result (single merge task, lossless weighted
    concatenation)."""
    from ..kernels import quantile as qk

    def fold(batches):
        summaries = []
        rows = 0
        nulls = 0
        for batch in batches:
            names = batch.schema.names
            vcol = batch.column(names.index("vs"))
            wcol = batch.column(names.index("ws"))
            rrows = batch.column(names.index("rows"))
            rnulls = batch.column(names.index("nulls"))
            for i in range(batch.num_rows):
                summaries.append((
                    np.asarray(vcol[i].as_py(), dtype=np.float64),
                    np.asarray(wcol[i].as_py(), dtype=np.float64)))
                rows += rrows[i].as_py()
                nulls += rnulls[i].as_py()
        v, w = qk.merge(summaries, k=None)  # lossless final fold
        if len(v):
            vals = qk.quantile(v, w, plist)
            varr = pa.array(vals, pa.float64())
        else:
            varr = pa.nulls(len(plist), pa.float64())
        yield pa.RecordBatch.from_arrays(
            [pa.array(plist, pa.float64()), varr,
             pa.array([rows] * len(plist), pa.int64()),
             pa.array([nulls] * len(plist), pa.int64())],
            names=["p", "value", "n_rows", "n_nulls"])

    merged = partials.repartition(1).mapInArrow(
        trimmed(fold), "p double, value double, n_rows long, n_nulls long")
    return merged.select(F.lit(column).alias("column"),
                         "p", "value", "n_rows", "n_nulls")


def _probs(probs) -> list[float]:
    plist = [float(p) for p in (probs if hasattr(probs, "__iter__")
                                else [probs])]
    if not plist or any(p < 0 or p > 1 for p in plist):
        raise ValueError("probs must be non-empty, each in [0, 1]")
    return plist


def column_quantiles(spark: SparkSession, blocks_path: str,
                     manifest_path: str, column: str,
                     probs=(0.25, 0.5, 0.75), k: int = 256,
                     task_k: int = 4096, predicate=None,
                     run_ids: list[str] | None = None) -> DataFrame:
    """APPROX quantiles via mergeable equi-depth summaries
    (kernels/quantile.py) — ORDER-BY-free: each block contributes at
    most ``k`` weighted points (rank error <= n_block/(2k)), each task
    compacts its blocks to ``task_k`` points per partition, and ONE
    summary row per (task, part_id) crosses the shuffle — O(n_tasks *
    task_k) tiny rows instead of a full-column sort, the shape a 100 TB
    percentile needs.  End-to-end rank error ~ N/(2k) + N/(2*task_k):
    sub-percent at the defaults.

    Fast paths: rle blocks summarize (run_value, run_length) pairs and
    dict blocks (dictionary, code histogram) — both EXACT per block when
    distinct <= k, without materializing rows.  NULLs are excluded (SQL
    percentile semantics); values quantize through float64 (int64 above
    2^53 loses low bits — an approximate quantile tolerates that by
    definition).  Deterministic: pure arithmetic, no sampling.  Returns
    one row per probability: (column, p, value, n_rows, n_nulls).  For
    the incremental variant over a growing table see
    streaming/agg_stream.py ``quantile_stream``/``read_quantiles``."""
    plist = _probs(probs)
    predicates = _normalize_predicates(predicate)
    blocks = _blocks_proj(spark, blocks_path, manifest_path, [column],
                          predicates, run_ids=run_ids)
    return _fold_quantiles(
        _quantile_partials(blocks, predicates, k, task_k), column, plist)


def _topk_candidates(blk: bytes, mask, k: int, ascending: bool):
    """(values, tag): the values of one block that can reach its top-k
    (a row mask decodes only the surviving rows).  A sorted dictionary
    with >= k entries hands over its k extreme entries expanded by
    multiplicity (every entry occurs by construction), O(k) without
    decoding the rows; other blocks decode dense."""
    if not isinstance(mask, str):
        values, _v, tag, codec, _n = blockmod.decode_block_rows(blk, mask)
        _check_tag(tag, "topk", ())
        return values, tag
    payload, meta, tag, codec, n_rows, n_valid = _open_dense(blk)
    _check_tag(tag, "topk", ())
    if codec != "dict" or not n_valid:
        return blockmod.decode_values(payload, meta, n_valid, tag, codec), tag
    uniques, codes = dictionary.decode_parts(payload, meta, n_valid, tag)
    nu = len(uniques)
    if nu < k:
        return dictionary.decode(payload, meta, n_valid, tag), tag
    sel = np.arange(k) if ascending else np.arange(nu - k, nu)
    # duplicates among the true top-k need the code stream: expand the
    # k extremes by their histogram counts, capped at k
    rep = np.repeat(sel, np.bincount(codes, minlength=nu)[sel])
    rep = rep[:k] if ascending else rep[-k:]
    return (strings.take(uniques, rep) if tag == "bytes"
            else np.asarray(uniques)[rep]), tag


def _top_k(values, tag: str, k: int, ascending: bool, out_t):
    """The k extreme values of one block's candidates as an Arrow array
    of ``out_t``; decimals rank unscaled (same scale, so unscaled order
    is value order) and d128 pairs rank as signed 128-bit ints."""
    if tag == "d128":
        pairs = np.asarray(values)
        if not len(pairs):
            return pa.nulls(0, out_t)
        order = np.lexsort((pairs[:, 0].astype(np.uint64), pairs[:, 1]))
        sel = order[:k] if ascending else order[-k:]
        return _arrow_of([(int(pairs[j, 1]) << 64)
                          + int(pairs[j, 0].astype(np.uint64))
                          for j in sel], out_t)
    if tag == "bytes":
        arr = (strings.to_arrow(values)
               if isinstance(values, strings.StringColumn)
               else pa.array(values))
        if len(arr) > k:
            order = "ascending" if ascending else "descending"
            arr = arr.take(pc.select_k_unstable(
                arr, k, sort_keys=[("dummy", order)]))
        return _arrow_of(arr, out_t)
    v = np.asarray(values)
    if len(v) > k:
        v = (np.partition(v, k - 1)[:k] if ascending
             else np.partition(v, len(v) - k)[-k:])
    return _arrow_of(v, out_t)


def column_topk(spark: SparkSession, blocks_path: str, manifest_path: str,
                column: str, k: int, ascending: bool = False,
                predicate=None,
                run_ids: list[str] | None = None) -> DataFrame:
    """ORDER BY ``column`` LIMIT ``k`` pushed into the encoded domain:
    each block contributes only its own top-k values (np.partition over
    the dense decode; dict blocks read the SORTED dictionary's tail
    directly, O(k) without touching the code stream when full), so k
    rows per block ride the final single-partition fold instead of the
    column.  NULLs never rank (SQL ORDER BY ... LIMIT semantics with
    NULLS LAST).  Returns one column ``value`` with at most k rows,
    globally ordered."""
    if k <= 0:
        raise ValueError("k must be positive")
    predicates = _normalize_predicates(predicate)
    meta = manifestmod.table_meta(spark, manifest_path)
    dt = _fields(meta)[column]
    blocks = _blocks_proj(spark, blocks_path, manifest_path, [column],
                          predicates, run_ids=run_ids, meta=meta)
    out_t = _arrow_type(spark, dt)

    def per_group(g, acc):
        if g.cells[0] is None:
            return None  # all NULL: never ranks
        out = _top_k(*_topk_candidates(g.cells[0], g.mask, k, ascending),
                     k, ascending, out_t)
        return (pa.RecordBatch.from_arrays([out], names=["value"])
                if len(out) else None)

    partials = _scan(blocks, predicates,
                     T.StructType([T.StructField("value", dt, True)]),
                     per_group)
    order_col = F.col("value").asc() if ascending else F.col("value").desc()
    return partials.orderBy(order_col).limit(k)


def _session_aware(spark: SparkSession, v):
    """PySpark ``.collect()`` converts TimestampType through
    ``datetime.fromtimestamp`` — a NAIVE datetime in the DRIVER OS
    timezone (TimestampType.fromInternal; the session timeZone only
    affects SQL parsing/rendering).  The predicate layer interprets
    naive datetimes as UTC (filters._storage_bound), so on a non-UTC
    driver a collected threshold would shift by the OS offset —
    ``astimezone()`` on a naive value attaches the OS zone, making the
    epoch conversion exact everywhere.  Dates and non-temporals pass
    through."""
    import datetime as dtm

    if isinstance(v, dtm.datetime) and v.tzinfo is None:
        return v.astimezone()
    return v


def _threshold_pred(column: str, dt, bound, ascending: bool,
                    fill_nulls: bool):
    """The at-or-beyond-the-k-th-value decode predicate, typed by the
    order column: decimals rank unscaled (p<=18 via RangePredicate zone
    pruning, p>18 via Decimal128RangePredicate), string/binary rank
    lexicographically (24-byte prefix zones prune), everything else is
    a plain range."""
    from .filters import (BytesRangePredicate, Decimal128RangePredicate,
                          RangePredicate)

    if isinstance(dt, T.DecimalType):
        b = int(bound.scaleb(dt.scale))
        cls = Decimal128RangePredicate if dt.precision > 18 else RangePredicate
    elif dt.typeName() in ("string", "binary"):
        b = bound.encode() if isinstance(bound, str) else bound
        cls = BytesRangePredicate
    else:
        b, cls = bound, RangePredicate
    return (cls(column=column, upper=b, null_allowed=fill_nulls) if ascending
            else cls(column=column, lower=b, null_allowed=fill_nulls))


def _group_eq_pred(column: str, g, gdt):
    """Equality leg for one group key, typed by the group column; a
    NULL group key keeps exactly the null rows."""
    from .filters import (BooleanPredicate, BytesEqPredicate, ConstPredicate,
                          RangePredicate)

    if g is None:
        return ConstPredicate(column=column, accept=False, null_allowed=True)
    tn = gdt.typeName()
    if tn in ("string", "binary"):
        return BytesEqPredicate(column=column,
                                value=g.encode() if isinstance(g, str) else g)
    if tn == "boolean":
        return BooleanPredicate(column=column, value=bool(g))
    return RangePredicate(column=column, lower=g, upper=g)


def topk_rows(spark: SparkSession, blocks_path: str, manifest_path: str,
              column: str, k: int, ascending: bool = False,
              columns: list[str] | None = None,
              tiebreak: tuple[str, ...] = (),
              predicate=None,
              run_ids: list[str] | None = None) -> DataFrame:
    """Whole-row ``SELECT <columns> ORDER BY column [DESC] LIMIT k``
    without decoding the table: phase 1 = ``column_topk`` finds the
    k-th ranked VALUE (k values per block through the shuffle, a tiny
    job); phase 2 decodes only rows at-or-beyond that threshold — a
    RangePredicate the zone maps answer, so blocks whose range cannot
    reach the boundary are never opened — and Catalyst sorts the <= a
    handful of survivors.  Boundary ties are all decoded and resolved
    by the final orderBy+limit; pass ``tiebreak`` columns to make the
    result deterministic under ties.

    NULLS LAST semantics: when fewer than k non-null values exist, the
    threshold predicate flips null_allowed so null rows fill the tail
    exactly as SQL would.  Decimal columns rank in the unscaled-int
    domain (p<=18 via RangePredicate zone pruning, p>18 via
    Decimal128RangePredicate — d128 blocks carry no zone bounds, so
    they decode-and-check); string/binary columns rank
    lexicographically via BytesRangePredicate (24-byte prefix zones
    prune).  List/map/struct order columns are not supported."""
    from .decode import decode_table
    from .filters import ConstPredicate

    if k <= 0:
        raise ValueError("k must be positive")
    dt = _fields(manifestmod.table_meta(spark, manifest_path)).get(column)
    if dt is None:
        raise KeyError(f"unknown column {column}")
    if dt.typeName() in ("array", "map", "struct"):
        raise NotImplementedError(
            f"topk_rows cannot order by {dt.simpleString()} — decode + "
            "orderBy instead")
    vals = [r["value"] for r in column_topk(
        spark, blocks_path, manifest_path, column, k, ascending=ascending,
        predicate=predicate, run_ids=run_ids).collect()]
    preds = list(_normalize_predicates(predicate))
    if not vals:
        # order column is all-null (or empty) under the predicate: only
        # null rows can fill the LIMIT
        preds.append(ConstPredicate(column=column, accept=False,
                                    null_allowed=True))
    else:
        # the k-th ranked value (globally ordered); session-tz aware
        bound = _session_aware(spark, vals[-1])
        fill_nulls = len(vals) < k  # nulls make the cut only then
        preds.append(_threshold_pred(column, dt, bound, ascending,
                                     fill_nulls))
    dec_cols = None
    if columns is not None:
        dec_cols = list(columns)
        for c in (column, *tiebreak):
            if c not in dec_cols:
                dec_cols.append(c)
    out = decode_table(spark, blocks_path, manifest_path, columns=dec_cols,
                       predicate=preds, run_ids=run_ids)
    order = [F.col(column).asc_nulls_last() if ascending
             else F.col(column).desc_nulls_last()]
    order += [F.col(c).asc() for c in tiebreak]
    out = out.orderBy(*order).limit(int(k))
    if columns is not None:
        out = out.select(*columns)
    return out


# ------------------------------------------------------- grouped scans

def _group_keys(blk: bytes | None, n_rows: int):
    """Per-ROW group labels of one group-column block -> (uniques, g1):
    g1[row] is 0 for the NULL group and code+1 otherwise, so slot 0 of
    every per-group array is the NULL group.  A None block (the group
    predates the column) puts every row in the NULL group.  Dict blocks
    hand their code stream over directly (the group column's strings
    are never materialized); rle blocks label runs without expanding
    the values; everything else decodes dense and dictionary-encodes."""
    if blk is None:
        return None, np.zeros(n_rows, dtype=np.int64)
    payload, validity, meta, tag, codec, n_rows = blockmod.open_block(blk)
    _check_tag(tag, "group-by")
    n_valid = int(validity.sum()) if validity is not None else n_rows
    if codec == "dict":
        uniques, codes = dictionary.decode_parts(payload, meta, n_valid, tag)
        codes = codes.astype(np.int64)
    elif codec == "rle" and tag != "bytes":
        rv, rl = blockmod.decode_rle_runs(payload, meta, n_valid, tag)
        uniques, inv = np.unique(np.asarray(rv), return_inverse=True)
        codes = np.repeat(inv.astype(np.int64), rl.astype(np.int64))
    else:
        values = blockmod.decode_values(payload, meta, n_valid, tag, codec)
        if tag == "bytes":
            # per-block unique order is irrelevant: the final groupBy
            # merges partials by value
            de = strings.to_arrow(values).dictionary_encode()
            uniques = strings.from_arrow(de.dictionary)
            codes = np.asarray(de.indices).astype(np.int64)
        else:
            uniques, inv = np.unique(np.asarray(values), return_inverse=True)
            codes = inv.astype(np.int64)
    if validity is None:
        return uniques, codes + 1
    full = np.zeros(n_rows, dtype=np.int64)
    full[validity] = codes + 1
    return uniques, full


def _keys_at(uniques, out_t: "pa.DataType", labels) -> pa.Array:
    """Group key array for ``labels`` (``_group_keys`` slots: 0 = the
    NULL group, code+1 otherwise)."""
    base = pa.nulls(1, out_t)
    if uniques is not None and len(uniques):
        base = pa.concat_arrays([base, _arrow_of(uniques, out_t)])
    return base.take(pa.array(np.asarray(labels, dtype=np.int64)))


def _grouping(g: _Group):
    """(uniques, g1, cnt, keep) for the group column in ``g.cells[0]``:
    labels, surviving rows per label, and which labels kept rows."""
    uniq, g1 = _group_keys(g.cells[0], g.n_rows)
    nu = len(uniq) if uniq is not None else 0
    cnt = np.bincount(g1[g.sel], minlength=nu + 1)
    return uniq, g1, cnt, cnt > 0


def _dense_full(blk: bytes | None, n_rows: int, exact_decimal: bool = False):
    """Numeric block -> (values_full, valid_mask_full).  ``values_full``
    is full block length with garbage (zero) in null slots; mask them
    with ``valid_mask_full``.  A None block is all NULL.
    ``exact_decimal`` returns unscaled Python-int objects: int64 low
    words widen, d128 word pairs combine hi*2^64 + lo_u — both exact."""
    if blk is None:
        return (np.zeros(n_rows, dtype=object if exact_decimal else np.int64),
                np.zeros(n_rows, dtype=bool))
    payload, validity, meta, tag, codec, n_rows = blockmod.open_block(blk)
    if not (exact_decimal and tag == "d128"):
        _check_tag(tag, "sum", ("bytes", "d128"))
    n_valid = int(validity.sum()) if validity is not None else n_rows
    v = np.asarray(blockmod.decode_values(payload, meta, n_valid, tag, codec))
    if tag == "d128":
        v = ((v[:, 1].astype(object) << 64)
             + v[:, 0].astype(np.uint64).astype(object))
    elif exact_decimal:
        v = v.astype(object)
    if validity is None:
        return v, np.ones(n_rows, dtype=bool)
    full = np.zeros(n_rows, dtype=v.dtype)
    full[validity] = v
    return full, validity.astype(bool)


def _segments(labels: np.ndarray, values: np.ndarray):
    """(label, values of that label) per distinct label, labels in
    ascending order and each slice in its input order."""
    if not len(labels):
        return
    order = np.argsort(labels, kind="stable")
    sl, sv = labels[order], values[order]
    bounds = np.nonzero(np.diff(sl))[0] + 1
    for s, e in zip(np.concatenate(([0], bounds)),
                    np.concatenate((bounds, [len(sl)]))):
        yield int(sl[s]), sv[s:e]


def _grouped_blocks(spark, blocks_path, manifest_path, group_column,
                    value_column, predicates, run_ids):
    """(blocks frame of [group, value], group type, value type, group
    Arrow type) — the shared set-up of the two-column grouped scans."""
    meta = manifestmod.table_meta(spark, manifest_path)
    fields = _fields(meta)
    gt, vt = fields[group_column], fields[value_column]
    blocks = _blocks_proj(spark, blocks_path, manifest_path,
                          [group_column, value_column], predicates,
                          run_ids=run_ids, meta=meta)
    return blocks, gt, vt, _arrow_type(spark, gt)


def grouped_sum(spark: SparkSession, blocks_path: str, manifest_path: str,
                group_column: str, value_column: str,
                predicate=None, run_ids: list[str] | None = None) -> DataFrame:
    """GROUP BY ``group_column`` -> SUM(``value_column``), COUNT(*) in
    the compressed domain.  The WIDE blocks layout aligns both columns
    inside one parquet row (same group = same rows, same order), so each
    task reduces a block pair to at most n_distinct partial rows with
    ``np.bincount`` — a dict-coded group column never materializes its
    strings, the code stream IS the group id.  SQL semantics: NULL
    groups aggregate into a NULL-value row; NULL values count rows but
    contribute nothing to the sum (an all-null group sums to NULL).
    ``predicate`` restricts the aggregate with the decoder's zone/mask
    cascade.  Returns (value, sum_value, cnt) with value typed by the
    table schema; only per-block distinct groups cross the final
    shuffle.  Decimal value columns sum exactly in unscaled Python ints
    (decimal(38,0) partials) and return sum_value as decimal(38, s)."""
    predicates = _normalize_predicates(predicate)
    blocks, gt, vt, out_t = _grouped_blocks(
        spark, blocks_path, manifest_path, group_column, value_column,
        predicates, run_ids)
    scale = vt.scale if isinstance(vt, T.DecimalType) else None
    partials = _gsum_partials(blocks, predicates, gt, out_t,
                              exact_decimal=scale is not None)
    return _fold_gsum(partials, scale)


def _gsum_partials(blocks: DataFrame, predicates: list[Predicate],
                   group_type, out_t,
                   exact_decimal: bool = False) -> DataFrame:
    """Per-(block, group) grouped-sum partials -> (part_id, value, cnt,
    nv, s_l, s_d, is_f).  part_id rides along so incremental consumers
    (streaming/agg_stream.py) can re-validate partials against the
    manifest's live pairs.  ``exact_decimal`` replaces the s_l/s_d/is_f
    lanes with one exact unscaled s_dec decimal(38,0) lane."""
    lanes = ([T.StructField("s_dec", T.DecimalType(38, 0), True)]
             if exact_decimal else
             [T.StructField("s_l", T.LongType(), False),
              T.StructField("s_d", T.DoubleType(), False),
              T.StructField("is_f", T.BooleanType(), False)])
    out_schema = T.StructType([
        T.StructField(PART_ID, T.IntegerType(), False),
        T.StructField("value", group_type, True),
        T.StructField("cnt", T.LongType(), False),
        T.StructField("nv", T.LongType(), False),
    ] + lanes)

    def per_group(g, acc):
        uniq, g1, cnt, keep = _grouping(g)
        if not keep.any():
            return None
        vfull, vmask = _dense_full(g.cells[1], g.n_rows, exact_decimal)
        wv = vmask & g.sel
        nb = len(cnt)
        nv = np.bincount(g1[wv], minlength=nb)
        if exact_decimal:
            s = np.zeros(nb, dtype=object)
            np.add.at(s, g1[wv], vfull[wv])
            sums = [pa.array([Decimal(int(x)) for x in s[keep]],
                             pa.decimal128(38, 0))]
        else:
            is_f = vfull.dtype.kind == "f"
            s_l = np.zeros(nb, dtype=np.int64)
            s_d = np.zeros(nb, dtype=np.float64)
            if is_f:
                s_d = np.bincount(g1[wv], weights=vfull[wv], minlength=nb)
            else:
                np.add.at(s_l, g1[wv], vfull[wv].astype(np.int64))
            sums = [pa.array(s_l[keep], pa.int64()),
                    pa.array(s_d[keep], pa.float64()),
                    pa.array(np.full(int(keep.sum()), is_f), pa.bool_())]
        return pa.RecordBatch.from_arrays(
            [pa.array(np.full(int(keep.sum()), g.pid, np.int32), pa.int32()),
             _keys_at(uniq, out_t, np.nonzero(keep)[0]),
             pa.array(cnt[keep].astype(np.int64), pa.int64()),
             pa.array(nv[keep].astype(np.int64), pa.int64())] + sums,
            names=out_schema.names)

    return _scan(blocks, predicates, out_schema, per_group)


def _fold_gsum(partials: DataFrame, scale: int | None = None) -> DataFrame:
    """Fold grouped-sum partials into the (value, sum_value, cnt)
    result with SQL null semantics (all-null group sums NULL);
    ``scale`` folds exact s_dec partials into decimal(38, scale)."""
    if scale is None:
        lanes = [F.sum("s_l").alias("s_l"), F.sum("s_d").alias("s_d"),
                 F.max("is_f").alias("is_f")]
        s, null_t = (F.when(F.col("is_f"), F.col("s_d") + F.col("s_l"))
                     .otherwise(F.col("s_l").cast("double"))), "double"
    else:
        null_t = T.DecimalType(38, scale)
        lanes = [F.sum("s_dec").alias("s_dec")]
        divisor = F.lit(10 ** scale).cast(T.DecimalType(scale + 1, 0))
        s = (F.col("s_dec") / divisor).cast(null_t)
    agg = partials.groupBy("value").agg(
        F.sum("cnt").alias("cnt"), F.sum("nv").alias("nv"), *lanes)
    return agg.select(
        "value",
        F.when(F.col("nv") == 0, F.lit(None).cast(null_t)).otherwise(s)
        .alias("sum_value"),
        "cnt")


def grouped_sum_multi(spark: SparkSession, blocks_path: str,
                      manifest_path: str, group_columns,
                      value_column: str, predicate=None,
                      run_ids: list[str] | None = None) -> DataFrame:
    """GROUP BY (c1, ..., cN) -> SUM(``value_column``), COUNT(*) in the
    compressed domain — the (lang, repo) / (flag, status) rollup shape.
    N == 1 delegates to ``grouped_sum`` (which also handles decimal
    values exactly); N >= 2 is ``grouped_aggs`` with one value column
    (single composite-coded pass), renamed to the stable
    (g1..gN, sum_value, cnt) shape.  Decimal value columns are not
    supported for N >= 2 — use single-column ``grouped_sum`` (exact
    decimal partials) or ``column_sum`` per group."""
    gcols = [str(c) for c in group_columns]
    if not gcols:
        raise ValueError("group_columns must be non-empty")
    if len(set(gcols)) != len(gcols):
        raise ValueError(f"duplicate group columns {gcols}")
    if len(gcols) == 1:
        return (grouped_sum(spark, blocks_path, manifest_path, gcols[0],
                            value_column, predicate=predicate,
                            run_ids=run_ids)
                .withColumnRenamed("value", gcols[0]))
    meta = manifestmod.table_meta(spark, manifest_path)
    if isinstance(_fields(meta)[value_column], T.DecimalType):
        raise NotImplementedError(
            "grouped_sum_multi over decimal values is not supported; "
            "use grouped_sum (exact decimal) per group column")
    out = grouped_aggs(spark, blocks_path, manifest_path, gcols,
                       [value_column], predicate=predicate, run_ids=run_ids)
    return out.select(
        *gcols, F.col(f"sum_{value_column}").alias("sum_value"), "cnt")


def grouped_distinct_approx(spark: SparkSession, blocks_path: str,
                            manifest_path: str, group_column: str,
                            value_column: str, p: int = 12,
                            predicate=None,
                            run_ids: list[str] | None = None) -> DataFrame:
    """GROUP BY ``group_column`` -> APPROX COUNT(DISTINCT
    ``value_column``) via per-group HyperLogLog registers — the
    "distinct users per day" shape.  The WIDE blocks layout aligns both
    columns inside one parquet row, so each task folds block pairs into
    per-(block, group) registers; what crosses the shuffle is
    n_blocks x n_groups x 2^p bytes (p=12 -> 4 KB per group row)
    regardless of value cardinality, and the final fold is one
    groupBy(value) with a commutative register max-merge.  Groups must
    be low-cardinality (the same dict/rle assumption grouped_sum
    makes); values hash per row (splitmix64 for fixed widths; byte
    values hash their per-block dictionary uniques once and gather by
    code).

    SQL semantics: NULL groups aggregate into a NULL-group row; NULL
    values never count.  Deterministic (fixed hashes), ~1.6% standard
    error at p=12, time-travel via ``run_ids``.  Returns
    (value, approx_distinct, cnt); ``cnt`` is the group's row count."""
    from ..kernels import hll

    predicates = _normalize_predicates(predicate)
    blocks, gt, _vt, out_t = _grouped_blocks(
        spark, blocks_path, manifest_path, group_column, value_column,
        predicates, run_ids)
    out_schema = T.StructType([
        T.StructField("value", gt, True),
        T.StructField("regs", T.BinaryType(), False),
        T.StructField("cnt", T.LongType(), False),
    ])
    m = 1 << p

    def _value_hashes(blk: bytes | None, n_rows: int):
        """Full-length row hashes of the value block -> (hashes_full
        uint64, valid_mask_full); a None block is all NULL."""
        if blk is None:
            return (np.zeros(n_rows, dtype=np.uint64),
                    np.zeros(n_rows, dtype=bool))
        payload, validity, meta_b, tag, codec, n_rows = blockmod.open_block(blk)
        _check_tag(tag, "approx distinct")
        n_valid = int(validity.sum()) if validity is not None else n_rows
        if tag == "bytes":
            if codec == "dict":
                uniques, codes = dictionary.decode_parts(
                    payload, meta_b, n_valid, tag)
                codes = np.asarray(codes, dtype=np.int64)
            else:
                vals = blockmod.decode_values(payload, meta_b, n_valid,
                                              tag, codec)
                de = strings.to_arrow(vals).dictionary_encode()
                uniques = strings.from_arrow(
                    de.dictionary.combine_chunks()
                    if isinstance(de.dictionary, pa.ChunkedArray)
                    else de.dictionary)
                codes = np.asarray(de.indices).astype(np.int64)
            h = hll.hash_bytes(uniques)[codes]
        else:
            vals = blockmod.decode_values(payload, meta_b, n_valid, tag, codec)
            h = hll.hash_fixed(np.asarray(vals))
        full = np.zeros(n_rows, dtype=np.uint64)
        if validity is None:
            full[:] = h
            return full, np.ones(n_rows, dtype=bool)
        vmask = validity.astype(bool)
        full[vmask] = h
        return full, vmask

    def per_group(g, acc):
        uniq, g1, cnt, keep = _grouping(g)
        if not keep.any():
            return None
        hfull, vmask = _value_hashes(g.cells[1], g.n_rows)
        # per-group registers: one vectorized update per group SEGMENT
        # of the surviving hash rows
        regs_by = {}
        idx = np.nonzero(vmask & g.sel)[0]
        for gid, hs in _segments(g1[idx], hfull[idx]):
            regs_by[gid] = hll.empty_registers(p)
            hll.update(regs_by[gid], hs)
        kept = np.nonzero(keep)[0]
        empty = hll.empty_registers(p)
        return pa.RecordBatch.from_arrays(
            [_keys_at(uniq, out_t, kept),
             pa.array([regs_by.get(int(gid), empty).tobytes()
                       for gid in kept], pa.binary()),
             pa.array(cnt[keep].astype(np.int64), pa.int64())],
            names=["value", "regs", "cnt"])

    partials = _scan(blocks, predicates, out_schema, per_group)

    import pandas as pd
    from pyspark.sql.functions import PandasUDFType

    # explicit UDF kinds: `from __future__ import annotations` turns the
    # type hints into strings, which Spark's hint inference rejects
    @F.pandas_udf("binary", PandasUDFType.GROUPED_AGG)
    def _merge_regs(regs_series: pd.Series) -> bytes:
        acc = hll.empty_registers(p)
        for blob in regs_series:
            r = np.frombuffer(blob, dtype=np.uint8)
            if len(r) != m:
                raise ValueError("HLL register width mismatch in partial")
            np.maximum(acc, r, out=acc)
        return acc.tobytes()

    @F.pandas_udf("long", PandasUDFType.SCALAR)
    def _estimate(regs_series: pd.Series) -> pd.Series:
        out = []
        for blob in regs_series:
            r = np.frombuffer(blob, dtype=np.uint8)
            out.append(int(round(hll.estimate(r))) if r.any() else 0)
        return pd.Series(out, dtype="int64")

    # grouped-agg pandas UDFs cannot mix with JVM aggregates in one
    # agg, so the row count folds through a pandas sum as well
    @F.pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def _sum_cnt(cnt_series: pd.Series) -> int:
        return int(cnt_series.sum())

    folded = partials.groupBy("value").agg(
        _merge_regs(F.col("regs")).alias("regs"),
        _sum_cnt(F.col("cnt")).alias("cnt"))
    return folded.select(
        "value", _estimate(F.col("regs")).alias("approx_distinct"), "cnt")


def grouped_quantiles(spark: SparkSession, blocks_path: str,
                      manifest_path: str, group_column: str,
                      value_column: str, probs=(0.25, 0.5, 0.75),
                      k: int = 256, predicate=None,
                      run_ids: list[str] | None = None) -> DataFrame:
    """GROUP BY ``group_column`` -> APPROX quantiles of
    ``value_column`` — the "p95 latency per group" shape.  Each task
    emits one equi-depth summary row per (block, group): <= ``k``
    weighted points each (kernels/quantile.py), so the shuffle moves
    O(n_blocks x n_groups x k) tiny rows regardless of row count, and
    the per-group fold (applyInPandas over the low-cardinality group
    key) merges summaries losslessly before reading the percentiles.
    Rank error per group ~ N_group/(2k): sub-percent at the default.

    SQL semantics: NULL groups form their own row; NULL values are
    excluded per group (percentile of an all-null group is NULL).
    Deterministic — pure arithmetic, no sampling.  Returns one row per
    (group, p): (value, p, q, n_rows, n_nulls)."""
    from ..kernels import quantile as qk

    plist = _probs(probs)
    predicates = _normalize_predicates(predicate)
    blocks, gt, _vt, out_t = _grouped_blocks(
        spark, blocks_path, manifest_path, group_column, value_column,
        predicates, run_ids)
    out_schema = T.StructType([
        T.StructField("value", gt, True),
        T.StructField("vs", T.ArrayType(T.DoubleType()), False),
        T.StructField("ws", T.ArrayType(T.DoubleType()), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("nulls", T.LongType(), False),
    ])

    def per_group(g, acc):
        uniq, g1, cnt, keep = _grouping(g)
        if not keep.any():
            return None
        vfull, vmask = _dense_full(g.cells[1], g.n_rows)
        # per-group summaries over group-sorted valid rows
        idx = np.nonzero(vmask & g.sel)[0]
        smry_by = {gid: qk.summarize(sv, None, k) for gid, sv in
                   _segments(g1[idx], vfull[idx].astype(np.float64))}
        kept = np.nonzero(keep)[0]
        vs_arr, ws_arr, nulls_arr = [], [], []
        for gid, c in zip(kept, cnt[keep]):
            sm = smry_by.get(int(gid))
            vs_arr.append([] if sm is None else sm[0].tolist())
            ws_arr.append([] if sm is None else sm[1].tolist())
            nulls_arr.append(int(c) - (0 if sm is None
                                       else int(round(sm[1].sum()))))
        return pa.RecordBatch.from_arrays(
            [_keys_at(uniq, out_t, kept),
             pa.array(vs_arr, pa.list_(pa.float64())),
             pa.array(ws_arr, pa.list_(pa.float64())),
             pa.array(cnt[keep].astype(np.int64), pa.int64()),
             pa.array(nulls_arr, pa.int64())],
            names=["value", "vs", "ws", "rows", "nulls"])

    partials = _scan(blocks, predicates, out_schema, per_group)
    fold_schema = T.StructType([
        T.StructField("value", gt, True),
        T.StructField("p", T.DoubleType(), False),
        T.StructField("q", T.DoubleType(), True),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_nulls", T.LongType(), False),
    ])

    def fold_group(pdf):
        import pandas as pd

        summaries = [(np.asarray(v, dtype=np.float64),
                      np.asarray(w, dtype=np.float64))
                     for v, w in zip(pdf["vs"], pdf["ws"])]
        v, w = qk.merge(summaries, k=None)  # lossless final fold
        rows = int(pdf["rows"].sum())
        nulls = int(pdf["nulls"].sum())
        qs = (qk.quantile(v, w, plist) if len(v)
              else [None] * len(plist))
        return pd.DataFrame({
            "value": [pdf["value"].iloc[0]] * len(plist),
            "p": plist,
            "q": qs,
            "n_rows": [rows] * len(plist),
            "n_nulls": [nulls] * len(plist),
        })

    return partials.groupBy("value").applyInPandas(fold_group, fold_schema)


def _value_ranks(blk: bytes, sel: np.ndarray, what: str):
    """Order-based grouped reductions (grouped_minmax, grouped_topk):
    the value ranks of one block's valid rows under ``sel`` -> (ranks,
    rows_mask, base, rank_to_idx) with ``ranks`` aligned to the rows
    ``rows_mask`` marks.  Byte values rank through the dictionary —
    sorted dict blocks hand the code stream over AS the rank; other
    codecs rank each block distinct once via sort_indices — so strings
    never compare row-by-row.  ``base``/``rank_to_idx`` map a rank back
    to its value (``base.take(rank_to_idx[rank])``); numeric values rank
    as themselves (base=None)."""
    payload, validity, meta, tag, codec, n_rows = blockmod.open_block(blk)
    _check_tag(tag, what)
    n_valid = int(validity.sum()) if validity is not None else n_rows
    base = rank_to_idx = None
    if tag != "bytes":
        ranks = np.asarray(blockmod.decode_values(payload, meta, n_valid,
                                                  tag, codec))
    elif codec == "dict":
        uv, vcodes = dictionary.decode_parts(payload, meta, n_valid, tag)
        ranks, base = vcodes.astype(np.int64), strings.to_arrow(uv)
        rank_to_idx = np.arange(len(uv), dtype=np.int64)
    else:
        vals = blockmod.decode_values(payload, meta, n_valid, tag, codec)
        de = strings.to_arrow(vals).dictionary_encode()
        base = de.dictionary
        rank_to_idx = np.asarray(pc.sort_indices(base)).astype(np.int64)
        rank_of = np.empty(len(base), np.int64)
        rank_of[rank_to_idx] = np.arange(len(base))
        ranks = rank_of[np.asarray(de.indices).astype(np.int64)]
    if validity is None:
        return ranks[sel], sel, base, rank_to_idx
    w = validity & sel
    return ranks[(np.cumsum(validity) - 1)[w]], w, base, rank_to_idx


def _ranked_arr(reduced, got, base, rank_to_idx, out_t):
    """Per-group reduced ranks/values -> typed Arrow array, null where
    ``got`` is False (the group had no valid value)."""
    if base is not None:  # byte path: rank -> dictionary position
        arr = base.take(pa.array(
            [int(rank_to_idx[int(r)]) if ok else None
             for r, ok in zip(reduced, got)], pa.int64()))
        return arr if arr.type.equals(out_t) else arr.cast(out_t)
    if pa.types.is_decimal(out_t):
        return _dec_arr([int(r) if ok else None
                         for r, ok in zip(reduced, got)], out_t)
    arr = pa.array(reduced, mask=~got)
    return arr if arr.type.equals(out_t) else arr.cast(out_t)


def _reject_d128(op: str, dt, alt: str):
    if isinstance(dt, T.DecimalType) and dt.precision > 18:
        raise NotImplementedError(
            f"{op} over decimal(p>18) d128 columns is not supported; use "
            f"{alt} per group or precision <= 18")


def grouped_minmax(spark: SparkSession, blocks_path: str,
                   manifest_path: str, group_column: str,
                   value_column: str, predicate=None,
                   run_ids: list[str] | None = None) -> DataFrame:
    """GROUP BY ``group_column`` -> MIN/MAX(``value_column``), COUNT(*)
    in the compressed domain, value-exact: partials are emitted TYPED
    (int64 beyond 2^53, byte strings, decimals, timestamps never round
    through float64) and fold under Catalyst's own F.min/F.max, so one
    row per (block, group) crosses the shuffle.  Byte values reduce as
    dictionary RANKS (sorted dict blocks: the code stream IS the rank;
    other codecs rank once per block distinct via sort_indices), never
    comparing strings row-by-row.  SQL semantics: NULL group keys form
    their own row; NULL values never rank (an all-null group's min/max
    is NULL).  decimal(p<=18) reduces unscaled; d128 and list tags
    raise.  Returns (value, min_value, max_value, cnt)."""
    predicates = _normalize_predicates(predicate)
    blocks, gt, vt, out_tg = _grouped_blocks(
        spark, blocks_path, manifest_path, group_column, value_column,
        predicates, run_ids)
    _reject_d128("grouped_minmax", vt, "column_minmax")
    out_tv = _arrow_type(spark, vt)
    out_schema = T.StructType([
        T.StructField("value", gt, True),
        T.StructField("mn", vt, True),
        T.StructField("mx", vt, True),
        T.StructField("cnt", T.LongType(), False),
    ])

    def per_group(g, acc):
        uniq, g1, cnt, keep = _grouping(g)
        if not keep.any():
            return None
        base = rank_to_idx = None
        if g.cells[1] is None:  # all values NULL
            gw, rv = np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        else:
            rv, w, base, rank_to_idx = _value_ranks(g.cells[1], g.sel,
                                                    "grouped min/max")
            gw = g1[w]
        nb = len(cnt)
        if rv.dtype.kind == "f":
            mins, maxs = np.full(nb, np.inf), np.full(nb, -np.inf)
        else:
            rv = rv.astype(np.int64)
            ii = np.iinfo(np.int64)
            mins = np.full(nb, ii.max, dtype=np.int64)
            maxs = np.full(nb, ii.min, dtype=np.int64)
        np.minimum.at(mins, gw, rv)
        np.maximum.at(maxs, gw, rv)
        got = np.bincount(gw, minlength=nb)[keep] > 0
        return pa.RecordBatch.from_arrays(
            [_keys_at(uniq, out_tg, np.nonzero(keep)[0]),
             _ranked_arr(mins[keep], got, base, rank_to_idx, out_tv),
             _ranked_arr(maxs[keep], got, base, rank_to_idx, out_tv),
             pa.array(cnt[keep].astype(np.int64), pa.int64())],
            names=["value", "mn", "mx", "cnt"])

    partials = _scan(blocks, predicates, out_schema, per_group)
    return (partials.groupBy("value")
            .agg(F.min("mn").alias("min_value"),
                 F.max("mx").alias("max_value"),
                 F.sum("cnt").alias("cnt")))


def grouped_aggs(spark: SparkSession, blocks_path: str, manifest_path: str,
                 group_columns, value_columns, predicate=None,
                 run_ids: list[str] | None = None,
                 minmax: bool = False) -> DataFrame:
    """GROUP BY (g1..gN) -> SUM / AVG / COUNT of EACH of (v1..vM) plus
    COUNT(*), all in ONE pass over the blocks parquet — the full TPC-H
    Q1 rollup shape.  The wide layout aligns every group leaf and every
    value leaf inside one parquet row, so each task joint-codes the
    group streams once (mixed-radix composite, memory scales with the
    combinations PRESENT in the block) and reduces all M value columns
    against the same composite codes with bincount; one partial row per
    (block, combination) crosses the shuffle regardless of row count.

    SQL semantics per dimension/value: NULL group keys form their own
    row; NULL values count toward cnt but not toward sum/avg/n_<v>
    (an all-null (group, value) pair sums/averages NULL).  Decimal
    value columns are not supported here (use grouped_sum per column:
    exact unscaled partials).  Returns one column per group dimension,
    then per value column v: sum_<v> (double), avg_<v> (double),
    n_<v> (valid-value count), and finally cnt.  ``minmax=True`` adds
    min_<v>/max_<v>, TYPED by the value column (partials carry the
    column's own type and fold under Catalyst F.min/F.max, so int64
    beyond 2^53 never rounds through the double sum lanes)."""
    gcols = [str(c) for c in group_columns]
    vcols = [str(c) for c in value_columns]
    if not gcols or not vcols:
        raise ValueError("group_columns and value_columns must be non-empty")
    if len(set(gcols)) != len(gcols) or len(set(vcols)) != len(vcols):
        raise ValueError("duplicate columns in group/value lists")
    predicates = _normalize_predicates(predicate)
    meta = manifestmod.table_meta(spark, manifest_path)
    fields = _fields(meta)
    for v in vcols:
        if isinstance(fields[v], T.DecimalType):
            raise NotImplementedError(
                f"grouped_aggs over decimal column {v!r} is not supported; "
                "use grouped_sum (exact decimal partials) per column")
    blocks = _blocks_proj(spark, blocks_path, manifest_path, gcols + vcols,
                          predicates, meta=meta, run_ids=run_ids)
    ng = len(gcols)
    out_ts = [_arrow_type(spark, fields[c]) for c in gcols]
    v_out_ts = [_arrow_type(spark, fields[v]) for v in vcols]
    vfields = []
    for j, v in enumerate(vcols):
        vfields += [T.StructField(f"__nv_{j}", T.LongType(), False),
                    T.StructField(f"__sl_{j}", T.LongType(), False),
                    T.StructField(f"__sd_{j}", T.DoubleType(), False),
                    T.StructField(f"__if_{j}", T.BooleanType(), False)]
        if minmax:
            vfields += [T.StructField(f"__mn_{j}", fields[v], True),
                        T.StructField(f"__mx_{j}", fields[v], True)]
    out_schema = T.StructType(
        [T.StructField(c, fields[c], True) for c in gcols]
        + [T.StructField("__cnt", T.LongType(), False)] + vfields)

    def per_group(g, acc):
        keys = [_group_keys(cell, g.n_rows) for cell in g.cells[:ng]]
        dims = [(len(u) if u is not None else 0) + 1 for u, _ in keys]
        radix = 1
        for dd in dims:  # python ints: no wraparound in the check
            radix *= dd
        if radix >= 1 << 63:
            raise ValueError(
                "composite group code would overflow int64: "
                f"per-block dictionary sizes {dims} multiply to "
                f"{radix}; group by fewer/lower-cardinality "
                "columns or use smaller blocks")
        comp = keys[0][1].astype(np.int64).copy()
        for dd, (_u, g1) in zip(dims[1:], keys[1:]):
            comp *= dd
            comp += g1
        sel = g.sel
        sel_idx = np.nonzero(sel)[0]
        if not len(sel_idx):
            return None
        ukeys, inv = np.unique(comp[sel_idx], return_inverse=True)
        nk = len(ukeys)
        cnt = np.bincount(inv, minlength=nk)
        vout = []
        for cell, out_tv in zip(g.cells[ng:], v_out_ts):
            vfull, vmask = _dense_full(cell, g.n_rows)
            wv_idx = np.nonzero(vmask & sel)[0]
            pos = np.searchsorted(ukeys, comp[wv_idx])
            nv = np.bincount(pos, minlength=nk)
            vv = vfull[wv_idx]
            is_f = vfull.dtype.kind == "f"
            s_l = np.zeros(nk, dtype=np.int64)
            s_d = np.zeros(nk, dtype=np.float64)
            if is_f:
                s_d = np.bincount(pos, weights=vv, minlength=nk)
            else:
                vv = vv.astype(np.int64)
                np.add.at(s_l, pos, vv)
            vout += [pa.array(nv.astype(np.int64), pa.int64()),
                     pa.array(s_l, pa.int64()), pa.array(s_d, pa.float64()),
                     pa.array(np.full(nk, is_f), pa.bool_())]
            if minmax:
                if is_f:
                    mins, maxs = np.full(nk, np.inf), np.full(nk, -np.inf)
                else:
                    ii = np.iinfo(np.int64)
                    mins = np.full(nk, ii.max, np.int64)
                    maxs = np.full(nk, ii.min, np.int64)
                np.minimum.at(mins, pos, vv)
                np.maximum.at(maxs, pos, vv)
                vout += [_ranked_arr(mins, nv > 0, None, None, out_tv),
                         _ranked_arr(maxs, nv > 0, None, None, out_tv)]
        # decompose composite keys -> per-dimension group labels
        rem = ukeys.copy()
        labels = []
        for dd in reversed(dims[1:]):
            labels.append(rem % dd)
            rem //= dd
        labels.append(rem)
        arrs = [_keys_at(u, out_t, lab) for (u, _g1), out_t, lab
                in zip(keys, out_ts, reversed(labels))]
        return pa.RecordBatch.from_arrays(
            arrs + [pa.array(cnt.astype(np.int64), pa.int64())] + vout,
            names=out_schema.names)

    partials = _scan(blocks, predicates, out_schema, per_group)
    folds = [F.sum("__cnt").alias("__cnt")]
    for j in range(len(vcols)):
        folds += [F.sum(f"__nv_{j}").alias(f"__nv_{j}"),
                  F.sum(f"__sl_{j}").alias(f"__sl_{j}"),
                  F.sum(f"__sd_{j}").alias(f"__sd_{j}"),
                  F.max(f"__if_{j}").alias(f"__if_{j}")]
        if minmax:
            folds += [F.min(f"__mn_{j}").alias(f"__mn_{j}"),
                      F.max(f"__mx_{j}").alias(f"__mx_{j}")]
    agg = partials.groupBy(*gcols).agg(*folds)
    outs = list(gcols)
    for j, v in enumerate(vcols):
        s = (F.when(F.col(f"__nv_{j}") == 0, F.lit(None).cast("double"))
             .when(F.col(f"__if_{j}"), F.col(f"__sd_{j}") + F.col(f"__sl_{j}"))
             .otherwise(F.col(f"__sl_{j}").cast("double")))
        outs.append(s.alias(f"sum_{v}"))
        outs.append((s / F.col(f"__nv_{j}")).alias(f"avg_{v}"))
        outs.append(F.col(f"__nv_{j}").alias(f"n_{v}"))
        if minmax:
            outs += [F.col(f"__mn_{j}").alias(f"min_{v}"),
                     F.col(f"__mx_{j}").alias(f"max_{v}")]
    outs.append(F.col("__cnt").alias("cnt"))
    return agg.select(*outs)


def grouped_avg(spark: SparkSession, blocks_path: str, manifest_path: str,
                group_column: str, value_column: str, predicate=None,
                run_ids: list[str] | None = None) -> DataFrame:
    """GROUP BY ``group_column`` -> AVG(``value_column``) with SQL null
    semantics (NULL values excluded; all-null group averages NULL).
    Thin shape over ``grouped_aggs``: (value, avg_value, n_values,
    cnt)."""
    out = grouped_aggs(spark, blocks_path, manifest_path, [group_column],
                       [value_column], predicate=predicate, run_ids=run_ids)
    return out.select(
        F.col(group_column).alias("value"),
        F.col(f"avg_{value_column}").alias("avg_value"),
        F.col(f"n_{value_column}").alias("n_values"),
        "cnt")


def grouped_topk(spark: SparkSession, blocks_path: str, manifest_path: str,
                 group_column: str, value_column: str, k: int,
                 ascending: bool = False, predicate=None,
                 run_ids: list[str] | None = None) -> DataFrame:
    """Per-group ORDER BY ``value_column`` LIMIT ``k`` in the compressed
    domain — the "top k files per language" shape.  Each block
    contributes only ITS OWN per-group top-k (group-sorted run slices
    over the block's value ranks: byte values rank through the sorted
    dictionary, the strings themselves never sort row-by-row), so at
    most n_groups x k rows per block reach the final fold — a window
    row_number over the tiny partials, never over the column.  SQL
    semantics: NULL group keys form their own group; NULL values never
    rank.  decimal(p<=18) ranks unscaled and emits exact decimals;
    d128 and list tags raise.  Returns (value, item, rnk) with rnk
    1..k per group."""
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError("k must be positive")
    predicates = _normalize_predicates(predicate)
    blocks, gt, vt, out_tg = _grouped_blocks(
        spark, blocks_path, manifest_path, group_column, value_column,
        predicates, run_ids)
    _reject_d128("grouped_topk", vt, "column_topk")
    out_tv = _arrow_type(spark, vt)
    out_schema = T.StructType([
        T.StructField("value", gt, True),
        T.StructField("item", vt, False),
    ])

    def per_group(g, acc):
        if g.cells[1] is None:
            return None  # all values NULL: never rank
        uniq, g1 = _group_keys(g.cells[0], g.n_rows)
        rv, w, base, rank_to_idx = _value_ranks(g.cells[1], g.sel,
                                                "grouped topk")
        gw = g1[w]
        if not len(gw):
            return None
        # rank-sorted rows, then per-group slices of the extreme k
        order = np.argsort(rv, kind="stable")
        g_out, r_out = [], []
        for gid, rs in _segments(gw[order], rv[order]):
            rs = rs[:k] if ascending else rs[-k:]
            g_out.append(np.full(len(rs), gid))
            r_out.append(rs)
        r_sel = np.concatenate(r_out)
        return pa.RecordBatch.from_arrays(
            [_keys_at(uniq, out_tg, np.concatenate(g_out)),
             _ranked_arr(r_sel, np.ones(len(r_sel), dtype=bool), base,
                         rank_to_idx, out_tv)],
            names=["value", "item"])

    partials = _scan(blocks, predicates, out_schema, per_group)
    ordc = F.col("item").asc() if ascending else F.col("item").desc()
    w = Window.partitionBy("value").orderBy(ordc)
    return (partials.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def grouped_topk_rows(spark: SparkSession, blocks_path: str,
                      manifest_path: str, group_column: str,
                      value_column: str, k: int, ascending: bool = False,
                      columns: list[str] | None = None,
                      tiebreak: tuple[str, ...] = (),
                      predicate=None, run_ids: list[str] | None = None,
                      max_groups: int = 64) -> DataFrame:
    """Whole-row per-group ORDER BY ``value_column`` LIMIT ``k`` — "the
    top 5 files per language" as full rows, not just values.

    Phase 1 finds each group's k-th ranked value in the compressed
    domain (``grouped_topk``: n_groups x k tiny rows) plus the group
    list (``value_counts``).  Phase 2 decodes only rows at-or-beyond
    their OWN group's threshold: an OrPredicate over per-group
    AndPredicate(group = g, value >=/<= bound_g) legs — the composite
    layer lets zone maps and the dictionary path prune BOTH dimensions,
    so blocks clustered by group or by value skip unopened.  A window
    row_number over the surviving sliver finishes it; ``rnk`` (1..k per
    group) rides the output.

    SQL semantics: NULL group keys form their own group; NULLS LAST —
    a group with fewer than k ranked values keeps all its rows so null
    values fill the tail.  Groups absent from the ranked partials
    (all-null values) keep everything.  ``max_groups`` guards the
    per-block disjunction (linear in n_groups): beyond it, decode + a
    Catalyst window is the right plan — raise the cap deliberately if
    the group column is known-narrow."""
    from pyspark.sql import Window

    from .decode import decode_table
    from .filters import AndPredicate, ConstPredicate, OrPredicate

    if k <= 0:
        raise ValueError("k must be positive")
    fields = _fields(manifestmod.table_meta(spark, manifest_path))
    if group_column not in fields or value_column not in fields:
        raise KeyError(f"unknown column among ({group_column}, "
                       f"{value_column}); encoded: {list(fields)}")
    gdt, vdt = fields[group_column], fields[value_column]
    # limit(max_groups+1) BEFORE the collect: the guard must never
    # materialize an unbounded group list on the driver just to refuse
    # it — pointing this at a high-cardinality column now collects at
    # most max_groups+1 rows before raising
    groups = [r["value"] for r in value_counts(
        spark, blocks_path, manifest_path, group_column,
        predicate=predicate, run_ids=run_ids)
        .limit(int(max_groups) + 1).collect()]
    if len(groups) > max_groups:
        raise ValueError(
            f"over {max_groups} groups (max_groups={max_groups}): the "
            "per-block disjunction scales with n_groups — decode + a "
            "window instead, or raise max_groups deliberately")
    ranked = grouped_topk(spark, blocks_path, manifest_path, group_column,
                          value_column, k, ascending=ascending,
                          predicate=predicate, run_ids=run_ids).collect()
    per_group: dict = {}
    for r in ranked:
        per_group.setdefault(r["value"], []).append((r["rnk"], r["item"]))
    legs = []
    for g in groups:
        if isinstance(g, float) and g != g:
            # NaN never equals itself: no equality predicate can name
            # this group, and silently dropping it breaks SQL grouping
            raise NotImplementedError(
                "NaN group keys are not supported by grouped_topk_rows "
                "— filter them out or use decode_table + a window")
        gleg = _group_eq_pred(group_column, _session_aware(spark, g), gdt)
        vals = sorted(per_group.get(g, []))
        if len(vals) < k:
            # fewer than k ranked values: every row of the group stays
            # (null values fill the tail, SQL NULLS LAST)
            legs.append(gleg)
        else:
            thr = _threshold_pred(value_column, vdt,
                                  _session_aware(spark, vals[-1][1]),
                                  ascending, False)
            legs.append(AndPredicate([gleg, thr]))
    preds = list(_normalize_predicates(predicate))
    preds.append(OrPredicate(legs) if legs else
                 ConstPredicate(column=group_column, accept=False))
    dec_cols = None
    if columns is not None:
        dec_cols = list(columns)
        for c in (group_column, value_column, *tiebreak):
            if c not in dec_cols:
                dec_cols.append(c)
    out = decode_table(spark, blocks_path, manifest_path, columns=dec_cols,
                       predicate=preds, run_ids=run_ids)
    if "rnk" in out.columns:
        raise ValueError("the output rank column 'rnk' collides with a "
                         "decoded data column — pass columns= without it")
    order = [F.col(value_column).asc_nulls_last() if ascending
             else F.col(value_column).desc_nulls_last()]
    order += [F.col(c).asc() for c in tiebreak]
    w = Window.partitionBy(group_column).orderBy(*order)
    out = (out.withColumn("rnk", F.row_number().over(w))
           .filter(F.col("rnk") <= int(k)))
    if columns is not None:
        out = out.select(*columns, "rnk")
    return out
