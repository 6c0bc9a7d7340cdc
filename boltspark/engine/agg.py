"""Compressed-domain aggregation: SUM / COUNT / GROUP-BY-count computed
from encoded blocks WITHOUT materializing rows — optionally under a
pushed predicate (the full WHERE -> aggregate pipeline in one pass).

The reference stops at zone statistics (footer min/max,
parquet_metadata_thrift.rs:657); this module pushes whole aggregations
into the encoded domain, the classic "compute on compressed data" move
of column stores:

* ``dict`` blocks aggregate over their code stream and dictionary —
  the codes are the group labels and value ranks, the decoded strings
  never materialize;
* for distinct, HLL, quantiles and top-k (the ``_view`` reducers),
  ``rle`` blocks aggregate over (run_value, run_length) pairs in
  O(runs) and a dict block's dictionary stands in for its rows;
* every other codec decodes the block normally but reduces it INSIDE
  the task, so one partial-aggregate row per block (per group present)
  crosses the executor boundary (map-side combine below the row level).

With a ``predicate``, the same cascade the decoder runs applies first:
JVM zone prefilters drop provably-dead groups before their bytes cross
into Python, zone maps answer all/none without opening the block, and
groups where only SOME rows survive reduce over a late-materialized
selective decode (only surviving rows are ever decoded).

Every operator runs on decode's scaffold: ``_plan`` resolves its
predicates and projects the block leaves it needs through decode's
resolver and planner (``decode.resolve_predicates``/
``decode._blocks_proj``), and ``decode._scan`` runs, under
``trimmed``, the task loop ``decode_table`` runs too
(``decode._groups``: predicate cascade, schema-evolution NULLs, the
block-bytes crossing into Python).  An operator supplies only a
per-group reducer plus, for per-partition accumulators, a stream-end
flush.

Reducers read blocks through two views, the only codec dispatch here:
``_view`` (values with multiplicities, for single-column reductions)
and ``_coded`` (per-row codes into per-block uniques, for the grouped
scans).  A None cell (a block group that predates the column) is an
empty view: every surviving row NULL, so no reducer tests for it.

Every grouped reducer codes its keys through one helper,
``_group_codes``: N key cells -> the per-row combination slot, the
surviving rows per slot and one key array per dimension (N = 1 is a
single-column GROUP BY).  Every SUM / AVG / COUNT / MIN / MAX, grouped
or scalar, and ``value_counts`` run on one lane reducer,
``_grouped_partials``, whose value columns each pick their lanes
(int/float sum, exact decimal sum, typed min/max, or the validity-only
count) through one per-column spec: a scalar aggregate is N = 0 keys
(every surviving row in one slot) and ``value_counts`` is N = 1 with
no value column.  ``_fold_lanes`` folds the lane rows and
``_final_sum`` is the one SUM finalization (NULL where no valid value
contributed, as in Spark).

At 100 TB the difference is structural: a GROUP BY over a dictionary-
coded flag column moves (n_blocks x n_distinct) tiny rows through one
final shuffle instead of n_rows values.
"""

from __future__ import annotations

import json as jsonmod
import math
import re
from decimal import Context, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..kernels import block as blockmod
from ..kernels import dictionary, lists, strings
from . import manifest as manifestmod
from .decode import (_Group, _blocks_proj, _scan, arrow_out_type,
                     decode_table, resolve_predicates)
from .filters import Predicate
from .memutil import trimmed
from .schema import PART_ID

# rescales decimals of every 128-bit unscaled value exactly (the default
# context rounds to 28 digits)
_EXACT = Context(prec=40)


def _fields(meta: dict) -> dict:
    """Column name -> Spark DataType, from the manifest schema JSON."""
    schema = T.StructType.fromJson(jsonmod.loads(meta["schema_json"]))
    return {f.name: f.dataType for f in schema.fields}


def _arrow_type(spark: SparkSession, dtype) -> pa.DataType:
    """The Arrow type a partial batch carries for a Spark column type
    (timestamps in the session time zone, as decode emits them)."""
    return arrow_out_type(
        dtype, spark.conf.get("spark.sql.session.timeZone", "UTC"))


def _check_tag(tag: str, what: str, bad=("d128",)):
    if tag in bad or tag in lists.LIST_TAGS:
        raise TypeError(f"{what} over tag {tag!r} is not defined")


# ---------------------------------------------------------- block views

def _open(blk: bytes | None, what: str, bad=("d128",), n_rows: int = 0):
    """open_block + ``_check_tag`` + the valid count ->
    (payload, validity, meta, tag, codec, n_rows, n_valid).  A None
    block (the group predates the column) opens as ``n_rows`` NULLs
    without a tag or codec."""
    if blk is None:
        return None, np.zeros(n_rows, dtype=bool), None, None, None, n_rows, 0
    payload, validity, meta, tag, codec, n_rows = blockmod.open_block(blk)
    _check_tag(tag, what, bad)
    n_valid = int(validity.sum()) if validity is not None else n_rows
    return payload, validity, meta, tag, codec, n_rows, n_valid


def _dense(opened):
    """Dense (valid-only) values of an ``_open``-ed block."""
    payload, _v, meta, tag, codec, _n, n_valid = opened
    if codec is None:  # an absent column: no values
        return np.empty(0, dtype=np.int64)
    return blockmod.decode_values(payload, meta, n_valid, tag, codec)


def _view(blk: bytes, mask, what: str, bad=("d128",), weighted=True):
    """A block under ``mask`` ('all' or a full-length bool row mask) ->
    (values, weights, tag, n, n_valid): the surviving valid values with
    multiplicities ``weights`` (None: each once); ``n`` surviving rows.
    A row mask decodes only the surviving rows.  Unmasked, a dict block
    gives its dictionary weighted by the code histogram, an rle block
    of a fixed-width tag its runs weighted by length; others decode
    dense.  ``weighted=False`` (reducers over the value set): a dict
    block gives its dictionary alone, the code stream never decoded.
    d128 word pairs come back as exact Python ints.  A None block (see
    ``_cell``: its mask is a row mask) is its surviving rows, all NULL."""
    if blk is None:
        return np.empty(0, dtype=object), None, None, int(mask.sum()), 0
    if not isinstance(mask, str):
        values, _v, tag, _c, n = blockmod.decode_block_rows(blk, mask)
        _check_tag(tag, what, bad)
        n_valid = len(values)
    else:
        opened = _open(blk, what, bad)
        payload, _v, meta, tag, codec, n, n_valid = opened
        if codec == "dict" and not weighted:
            values = dictionary.decode_dictionary(payload, meta, tag)
            return values, None, tag, n, n_valid
        if codec == "dict":
            values, codes, _v = _coded(opened)
            return (values, np.bincount(codes, minlength=len(values)), tag,
                    n, n_valid)
        if codec == "rle" and tag != "bytes":
            values, lengths = blockmod.decode_rle_runs(payload, meta,
                                                       n_valid, tag)
            return values, lengths.astype(np.int64), tag, n, n_valid
        values = _dense(opened)
    if tag == "d128":
        values = _d128_ints(values)
    return values, None, tag, n, n_valid


def _coded(opened):
    """An ``_open``-ed block as (uniques, codes, validity), with
    ``uniques[codes]`` its dense values: a dict block's own code stream
    (values never materialized), rle runs uniqued and repeated, or the
    dense values dictionary-encoded.  Unique order is per block."""
    payload, validity, meta, tag, codec, _n, n_valid = opened
    if codec == "dict":
        uniques, codes = dictionary.decode_parts(payload, meta, n_valid, tag)
    elif codec == "rle" and tag != "bytes":
        rv, rl = blockmod.decode_rle_runs(payload, meta, n_valid, tag)
        uniques, inv = np.unique(np.asarray(rv), return_inverse=True)
        codes = np.repeat(inv, rl.astype(np.int64))
    elif tag == "bytes":
        de = strings.to_arrow(_dense(opened)).dictionary_encode()
        uniques, codes = strings.from_arrow(de.dictionary), de.indices
    else:
        uniques, codes = np.unique(np.asarray(_dense(opened)),
                                   return_inverse=True)
    return uniques, np.asarray(codes).astype(np.int64, copy=False), validity


def _cell(g: _Group, i: int):
    """(block, mask) of ``g``'s i-th cell for the block views: a None
    cell (the group predates the column) pairs with the full row mask,
    so it views as ``g.n_sel`` NULL rows."""
    blk = g.cells[i]
    return blk, (g.mask if blk is not None else g.sel)


def _d128_ints(pairs) -> np.ndarray:
    """(lo, hi) int64 word pairs -> their exact signed 128-bit values,
    hi*2^64 + lo_u, as an object array of Python ints."""
    pairs = np.asarray(pairs).reshape(-1, 2)
    return ((pairs[:, 1].astype(object) << 64)
            + pairs[:, 0].astype(np.uint64).astype(object))


def _full(dense: np.ndarray, validity) -> np.ndarray:
    """Dense per-valid-row values -> full block length (zero in the
    null slots); a block without nulls is already full."""
    return (dense if validity is None
            else blockmod.scatter_nulls_fixed(dense, validity))


def _dec_arr(unscaled_ints, out_t: "pa.DataType"):
    """Vector of unscaled ints (python ints / int64s, None allowed) ->
    arrow decimal array.  Per-element Decimal construction — callers
    only pass aggregate RESULTS (<= k per block / one per group), never
    row streams."""
    py = [None if x is None
          else Decimal(int(x)).scaleb(-out_t.scale, _EXACT)
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


def _rows_batch(rows: list[tuple], schema: pa.Schema):
    """Row tuples -> one partial RecordBatch (None without rows)."""
    if not rows:
        return None
    return pa.record_batch([list(c) for c in zip(*rows)], schema=schema)


def _plan(spark: SparkSession, blocks_path: str, manifest_path: str,
          columns: list[str], predicate, run_ids: list[str] | None = None):
    """(blocks frame, resolved predicates, table meta) of one aggregate
    call: one manifest read, the shared predicate resolver and the
    shared ``_blocks_proj`` planner over ``columns``."""
    meta = manifestmod.table_meta(spark, manifest_path)
    predicates = resolve_predicates(predicate, meta)
    return (_blocks_proj(spark, blocks_path, manifest_path, columns,
                         predicates, run_ids=run_ids, meta=meta),
            predicates, meta)


# ------------------------------------------------------ scalar aggregates
# ``_grouped_partials`` with N = 0 key cells: one lane row per block
# group that kept rows, folded into one row by ``_fold_lanes``.

def _n(lane: str):
    """A folded count lane, 0 over an empty selection."""
    return F.coalesce(F.col(lane), F.lit(0))


def _sum_lanes(blocks: DataFrame, predicates: list[Predicate],
               exact_decimal: bool) -> DataFrame:
    """Per-block SUM lanes of one projected column on the pinned partial
    names -> (part_id, s_l, s_d, is_f, rows, nulls), or (part_id, s_dec,
    rows, nulls) with ``exact_decimal``: the N = 0 projection of
    ``_grouped_partials``."""
    lanes = ["s_dec"] if exact_decimal else ["s_l", "s_d", "is_f"]
    spec = ("dec" if exact_decimal else "sum", None)
    return _grouped_partials(blocks, predicates, [], [], [spec]).select(
        PART_ID, *[F.col(f"__{n}_0").alias(n) for n in lanes],
        F.col("__cnt").alias("rows"),
        (F.col("__cnt") - F.col("__nv_0")).alias("nulls"))


def column_sum(spark: SparkSession, blocks_path: str, manifest_path: str,
               column: str, predicate=None,
               run_ids: list[str] | None = None) -> DataFrame:
    """One-row DataFrame (column, sum_value, n_rows, n_nulls) computed in
    the compressed domain: each block group reduces to one lane row;
    Spark's final aggregation folds them (exact int64 for integer
    storage, float64 for floats).  ``predicate`` (one or a list, ANDed)
    restricts the aggregate to surviving rows — zone maps answer
    all/none without opening blocks; partially-surviving groups reduce
    only the surviving rows.  SQL semantics: the sum of a selection
    without a valid value is NULL.

    Decimal columns sum EXACTLY in the unscaled-integer domain (int64
    low words for p<=18, (lo,hi) word-pair arithmetic in arbitrary-
    precision Python ints for the d128 storage) and return sum_value as
    decimal(38, s) — SQL SUM(decimal) semantics, no float rounding."""
    blocks, predicates, meta = _plan(spark, blocks_path, manifest_path,
                                     [column], predicate, run_ids)
    dt = _fields(meta)[column]
    # exact unscaled sums ride as decimal(38,0) partials (loud overflow
    # past 38 digits at the Arrow boundary — never silent)
    scale = dt.scale if isinstance(dt, T.DecimalType) else None
    return _fold_sum(_sum_lanes(blocks, predicates, scale is not None),
                     column, scale)


def _sum_partials(blocks: DataFrame, predicates: list[Predicate]) -> DataFrame:
    """Per-part_id partial sums over one projected blocks frame ->
    (part_id, s_l, s_d, is_f, rows, nulls): the per-block lanes folded
    by part_id, so a streaming sink keeps at most one row per task and
    part.  part_id rides along so incremental consumers
    (streaming/agg_stream.py) can re-validate partials against the
    manifest after compaction."""
    return _fold_lanes(_sum_lanes(blocks, predicates, False), PART_ID)


def _sum_dec_partials(blocks: DataFrame,
                      predicates: list[Predicate]) -> DataFrame:
    """Per-part_id exact unscaled decimal partials over one projected
    blocks frame -> (part_id, s_dec, rows, nulls) — the decimal analog
    of ``_sum_partials``."""
    return _fold_lanes(_sum_lanes(blocks, predicates, True), PART_ID)


def _fold_sum(partials: DataFrame, column: str,
              scale: int | None = None) -> DataFrame:
    """Fold (part_id, s_l, s_d, is_f | s_dec, rows, nulls) partials into
    the one-row column_sum result; ``scale`` folds exact s_dec partials
    into decimal(38, scale)."""
    return _fold_lanes(partials).select(
        F.lit(column).alias("column"),
        _final_sum(F.col("rows") - F.col("nulls"), F.col, scale)
        .alias("sum_value"),
        _n("rows").alias("n_rows"), _n("nulls").alias("n_nulls"))


def column_sums(spark: SparkSession, blocks_path: str, manifest_path: str,
                columns: list[str], predicate=None) -> DataFrame:
    """SUM over MANY columns in ONE scan of the blocks parquet — the
    stats-sweep shape (dashboards, validation) where per-column
    column_sum calls would re-read the table N times.  The predicate
    mask resolves once per block group and is shared by every column.
    Returns one row per column: (column, sum_value double, n_rows,
    n_nulls); a column without a valid value sums NULL.  Decimal
    columns fold exactly in the unscaled decimal domain and rescale at
    the end (use column_sum for a decimal(38,s) result type); bytes/list
    columns raise."""
    if not columns:
        raise ValueError("columns must be non-empty")
    col_list = list(columns)
    blocks, predicates, meta = _plan(spark, blocks_path, manifest_path,
                                     col_list, predicate)
    fields = _fields(meta)
    scales = [fields[c].scale if isinstance(fields[c], T.DecimalType)
              else None for c in col_list]
    folded = _fold_lanes(_grouped_partials(
        blocks, predicates, [], [],
        [("sum" if s is None else "dec", None) for s in scales]))
    rows = [F.struct(
        F.lit(c).alias("column"),
        _final_sum(F.col(f"__nv_{j}"), lambda n, j=j: F.col(f"__{n}_{j}"),
                   scale).cast("double").alias("sum_value"),
        _n("__cnt").alias("n_rows"),
        (_n("__cnt") - _n(f"__nv_{j}")).alias("n_nulls"))
        for j, (c, scale) in enumerate(zip(col_list, scales))]
    return folded.select(F.inline(F.array(*rows)))


def column_avg(spark: SparkSession, blocks_path: str, manifest_path: str,
               column: str, predicate=None,
               run_ids: list[str] | None = None) -> DataFrame:
    """AVG(``column``) in the compressed domain with SQL null semantics:
    nulls leave both the numerator and the denominator (AVG over an
    all-null selection is NULL, never 0/0).  Built on ``column_sum``'s
    lanes, so the shuffle shape is identical.  Decimal columns sum
    exactly in the unscaled domain first and divide once at the end
    (the quotient itself is a float64 — document consumers that need
    digit-exact division should divide ``column_sum`` themselves).
    Returns one row: (column, avg_value double, n_rows, n_nulls)."""
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
    """COUNT(``column``) / COUNT(*) in the compressed domain: the
    count-only lane reads block VALIDITY alone (open_block parses the
    header + validity bitmap; values are never decoded), so the operator
    works for every tag — including byte/list columns that
    ``column_sum`` refuses.  Returns one row:
    (column, n_values, n_rows, n_nulls) where n_values = COUNT(column)
    and n_rows = COUNT(*) of the surviving selection."""
    blocks, predicates, _ = _plan(spark, blocks_path, manifest_path,
                                  [column], predicate, run_ids)
    return _fold_lanes(_grouped_partials(
        blocks, predicates, [], [], [(None, None)])).select(
        F.lit(column).alias("column"), _n("__nv_0").alias("n_values"),
        _n("__cnt").alias("n_rows"),
        (_n("__cnt") - _n("__nv_0")).alias("n_nulls"))


def value_counts(spark: SparkSession, blocks_path: str, manifest_path: str,
                 column: str, predicate=None,
                 run_ids: list[str] | None = None) -> DataFrame:
    """GROUP BY ``column`` -> COUNT(*) in the compressed domain: the
    column is the one key of ``_grouped_partials`` (N = 1, no value
    columns), so a dict block counts its code stream without
    materializing values and only per-block distinct values ride the
    final (tiny) shuffle.  A NULL group row is emitted when the column
    has nulls (SQL GROUP BY semantics).  ``predicate`` restricts
    counting to surviving rows.  Returns (value, cnt); value typed by
    the table schema."""
    blocks, predicates, meta = _plan(spark, blocks_path, manifest_path,
                                     [column], predicate, run_ids)
    return _fold_lanes(_vc_partials(spark, blocks, predicates,
                                    _fields(meta)[column]), "value")


def _vc_partials(spark: SparkSession, blocks: DataFrame,
                 predicates: list[Predicate], value_type) -> DataFrame:
    """Per-block (part_id, value, cnt) partial histograms over one
    projected blocks frame: ``_grouped_partials`` keyed by the column
    alone; fold with groupBy(value).sum(cnt)."""
    return _grouped_partials(
        blocks, predicates, [value_type],
        [_arrow_type(spark, value_type)], []).select(
        PART_ID, F.col("__g_0").alias("value"), F.col("__cnt").alias("cnt"))


def column_minmax(spark: SparkSession, blocks_path: str, manifest_path: str,
                  column: str, predicate=None,
                  run_ids: list[str] | None = None) -> DataFrame:
    """One-row (column, vmin, vmax, n_rows, n_nulls), value-exact and
    predicate-aware — the companion to stats.column_minmax (which reads
    only float64 zone leaves and can't filter).  The min/max lanes of
    ``_grouped_partials`` are typed by the table schema, so int64
    beyond 2^53, d128 decimals and byte strings stay exact; floats
    follow Spark's order (NaN is the largest value)."""
    blocks, predicates, meta = _plan(spark, blocks_path, manifest_path,
                                     [column], predicate, run_ids)
    dt = _fields(meta)[column]
    return _fold_lanes(_grouped_partials(
        blocks, predicates, [], [],
        [(None, (dt, _arrow_type(spark, dt)))])).select(
        F.lit(column).alias("column"), F.col("__mn_0").alias("vmin"),
        F.col("__mx_0").alias("vmax"), _n("__cnt").alias("n_rows"),
        (_n("__cnt") - _n("__nv_0")).alias("n_nulls"))


# ------------------------------------------------ single-column scans

def _block_distinct(blk: bytes, mask):
    """Distinct non-null values of one block (None when it has none):
    the unique entries of a dict block's dictionary, of an rle block's
    run values, or of the (selectively) decoded values otherwise."""
    values, _w, tag, _n, _nv = _view(blk, mask, "distinct", weighted=False)
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
    blocks, predicates, meta = _plan(spark, blocks_path, manifest_path,
                                     [column], predicate, run_ids)
    dt = _fields(meta)[column]
    out_t = _arrow_type(spark, dt)

    def per_group(g, acc):
        u = _block_distinct(*_cell(g, 0))
        if u is None:
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
        return hll.hash_bytes(strings.to_arrow(values).unique().to_pylist())
    return hll.hash_fixed(np.asarray(values))


def _block_hashes(blk: bytes, mask):
    """(hashes or None, n_rows_or_selected, n_valid) for one block:
    dict blocks hash only their dictionary, rle blocks their run
    values, everything else the (selectively) decoded values."""
    values, _w, tag, n, n_valid = _view(blk, mask, "approx distinct",
                                        weighted=False)
    return (_hash_values(values, tag) if len(values) else None), n, n_valid


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
        h, n, nv = _block_hashes(*_cell(g, 0))
        a[1] += n
        a[2] += n - nv
        if h is not None:
            hll.update(a[0], h)

    def flush(acc):
        return _rows_batch([(pid, regs.tobytes(), rows, nulls)
                            for pid, (regs, rows, nulls) in acc.items()],
                           schema)

    return _scan(blocks, predicates, schema, per_group, flush)


def _max_into(regs: np.ndarray, blob: bytes) -> None:
    """Merge one serialized HLL register partial into ``regs``
    (elementwise max)."""
    part = np.frombuffer(blob, dtype=np.uint8)
    if len(part) != len(regs):
        raise ValueError("HLL register width mismatch in partial")
    np.maximum(regs, part, out=regs)


def _hll_estimate(regs: np.ndarray) -> int:
    from ..kernels import hll

    return int(round(hll.estimate(regs))) if regs.any() else 0


def _fold_hll(partials: DataFrame, column: str, p: int) -> DataFrame:
    """Fold (regs, rows, nulls) partials into the one-row
    column_distinct_approx result (single merge task; registers merge
    by elementwise max)."""
    from ..kernels import hll

    def fold(batches):
        regs, rows, nulls = hll.empty_registers(p), 0, 0
        for batch in batches:
            for r in batch.to_pylist():
                _max_into(regs, r["regs"])
                rows, nulls = rows + r["rows"], nulls + r["nulls"]
        yield pa.RecordBatch.from_arrays(
            [pa.array([_hll_estimate(regs)], pa.int64()),
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
    blocks, predicates, _ = _plan(spark, blocks_path, manifest_path,
                                  [column], predicate, run_ids)
    return _fold_hll(_hll_partials(blocks, predicates, p), column, p)


def _block_summary(blk: bytes, mask, k: int):
    """(values, weights) equi-depth summary of one block under the
    resolved mask (None without valid values), plus
    (n_rows_or_selected, n_valid).  rle and dict blocks summarize their
    (value, multiplicity) pairs without materializing rows."""
    from ..kernels import quantile as qk

    values, w, _t, n, n_valid = _view(blk, mask, "quantiles",
                                      ("bytes", "d128"))
    if not len(values):
        return None, n, n_valid
    return qk.summarize(np.asarray(values), w, k), n, n_valid


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
        smry, n, nv = _block_summary(*_cell(g, 0), k)
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
        summaries, rows, nulls = [], 0, 0
        for batch in batches:
            for r in batch.to_pylist():
                summaries.append((np.asarray(r["vs"], dtype=np.float64),
                                  np.asarray(r["ws"], dtype=np.float64)))
                rows, nulls = rows + r["rows"], nulls + r["nulls"]
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
    blocks, predicates, _ = _plan(spark, blocks_path, manifest_path,
                                  [column], predicate, run_ids)
    return _fold_quantiles(
        _quantile_partials(blocks, predicates, k, task_k), column, plist)


def _topk_candidates(blk: bytes, mask, k: int, ascending: bool):
    """(values, tag): the values of one block that can reach its top-k
    (a row mask decodes only the surviving rows).  Weighted dict and rle
    views hand over their k extreme values expanded by multiplicity and
    capped at k, without materializing the rows; other blocks decode
    dense."""
    values, w, tag, _n, _nv = _view(blk, mask, "topk", ())
    if w is None:
        return values, tag
    order = (np.asarray(pc.sort_indices(strings.to_arrow(values)))
             if tag == "bytes" else np.argsort(values, kind="stable"))
    ext = order[:k] if ascending else order[-k:]
    rep = np.repeat(ext, w[ext])
    rep = rep[:k] if ascending else rep[-k:]
    return (strings.take(values, rep) if tag == "bytes"
            else np.asarray(values)[rep]), tag


def _top_k(values, tag: str, k: int, ascending: bool, out_t):
    """The k extreme values of one block's candidates as an Arrow array
    of ``out_t``; decimals rank unscaled (same scale, so unscaled order
    is value order), d128 values as exact Python ints."""
    if tag == "bytes":
        arr = strings.to_arrow(values)
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
    blocks, predicates, meta = _plan(spark, blocks_path, manifest_path,
                                     [column], predicate, run_ids)
    dt = _fields(meta)[column]
    out_t = _arrow_type(spark, dt)

    def per_group(g, acc):
        out = _top_k(*_topk_candidates(*_cell(g, 0), k, ascending), k,
                     ascending, out_t)
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
        b = int(bound.scaleb(dt.scale, _EXACT))
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
    from .filters import ConstPredicate

    if k <= 0:
        raise ValueError("k must be positive")
    meta = manifestmod.table_meta(spark, manifest_path)
    dt = _fields(meta).get(column)
    if dt is None:
        raise KeyError(f"unknown column {column}")
    if dt.typeName() in ("array", "map", "struct"):
        raise NotImplementedError(
            f"topk_rows cannot order by {dt.simpleString()} — decode + "
            "orderBy instead")
    vals = [r["value"] for r in column_topk(
        spark, blocks_path, manifest_path, column, k, ascending=ascending,
        predicate=predicate, run_ids=run_ids).collect()]
    preds = resolve_predicates(predicate, meta)
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

def _group_codes(g: _Group, cells: list, out_ts: list):
    """The one group-key coder of every grouped reducer: ``g``'s N key
    cells -> (slot, cnt, keys).  Each cell's coded view (``_coded``)
    labels its rows 0 for NULL and code+1 otherwise (a dict-coded
    column's code stream IS the label, its values never materialize; a
    None cell puts every row in the NULL group), and the N labels join
    mixed-radix into one composite code.  ``slot[row]`` ranks the row's
    combination among those the surviving rows hold (read it only where
    ``g.sel``), ``cnt`` counts the surviving rows of each slot and
    ``keys`` holds one Arrow key array per dimension, of type
    ``out_ts[i]``, so memory scales with the combinations present.
    N = 1 is a single-column GROUP BY; N = 0 (a scalar aggregate) puts
    every surviving row in slot 0."""
    if not cells:
        n = g.n_sel
        return (np.zeros(g.n_rows, dtype=np.int64),
                np.array([n] if n else [], dtype=np.int64), [])
    coded = [_coded(_open(c, "group-by", n_rows=g.n_rows)) for c in cells]
    dims = [len(u) + 1 for u, _c, _v in coded]
    radix = math.prod(dims)  # python ints: no wraparound in the check
    if radix >= 1 << 63:
        raise ValueError(
            "composite group code would overflow int64: "
            f"per-block dictionary sizes {dims} multiply to "
            f"{radix}; group by fewer/lower-cardinality "
            "columns or use smaller blocks")
    comp = 0
    for dd, (_u, codes, validity) in zip(dims, coded):
        comp = comp * dd + _full(codes + 1, validity)
    surviving = comp if isinstance(g.mask, str) else comp[g.mask]
    # a code space within a few times the block's rows ranks the
    # combinations by histogram (O(rows)), a wider one by sorting
    if radix <= 4 * len(comp):
        hist = np.bincount(surviving, minlength=radix)
        combos = np.flatnonzero(hist)
        slot = (np.cumsum(hist > 0) - 1)[comp]
        cnt = hist[combos]
    else:
        combos, inv, cnt = np.unique(surviving, return_inverse=True,
                                     return_counts=True)
        slot = np.zeros(len(comp), dtype=np.int64)
        slot[g.sel] = inv
    # decompose the composite codes, last dimension first
    keys = []
    for (u, _c, _v), dd, out_t in reversed(list(zip(coded, dims, out_ts))):
        combos, labels = np.divmod(combos, dd)
        base = pa.nulls(1, out_t)
        if len(u):
            base = pa.concat_arrays([base, _arrow_of(u, out_t)])
        keys.insert(0, base.take(pa.array(labels, pa.int64())))
    return slot, cnt, keys


def _dense_full(blk: bytes | None, n_rows: int):
    """Numeric block -> (values_full, valid_mask_full).  ``values_full``
    is full block length with garbage (zero) in null slots; mask them
    with ``valid_mask_full``."""
    opened = _open(blk, "sum", ("bytes", "d128"), n_rows)
    validity = opened[1]
    return (_full(np.asarray(_dense(opened)), validity),
            np.ones(n_rows, bool) if validity is None else validity)


def _value_ranks(blk: bytes | None, sel: np.ndarray, what: str,
                 bad=("d128",)):
    """The value lanes of the grouped reducers: the value ranks of one
    block's valid rows under ``sel`` -> (ranks, rows_mask, base,
    rank_to_idx) with ``ranks`` aligned to the rows ``rows_mask``
    marks.  Byte values rank through the block's coded view
    (``_coded``): each block distinct ranks once via sort_indices and
    the code stream maps rows to ranks, so strings never compare
    row-by-row.  ``base``/``rank_to_idx`` map a rank back to its value
    (``base.take(rank_to_idx[rank])``); numeric values rank as
    themselves (base=None), d128 word pairs as exact Python ints, and a
    dict or rle block gathers its uniques by code, never decoding
    dense."""
    opened = _open(blk, what, bad, len(sel))
    _p, validity, _m, tag, codec, *_ = opened
    base = rank_to_idx = None
    if tag != "bytes" and codec in ("dict", "rle"):
        uniques, codes, _v = _coded(opened)
        ranks = np.asarray(uniques)[codes]
    elif tag != "bytes":
        ranks = np.asarray(_dense(opened))
        if tag == "d128":
            ranks = _d128_ints(ranks)
    else:
        uniques, codes, _v = _coded(opened)
        base = strings.to_arrow(uniques)
        rank_to_idx = np.asarray(pc.sort_indices(base)).astype(np.int64)
        rank_of = np.empty(len(base), np.int64)
        rank_of[rank_to_idx] = np.arange(len(base))
        ranks = rank_of[codes]
    # ranks hold the valid rows: keep those that survive ``sel``
    keep = sel if validity is None else sel[validity]
    return ((ranks if keep.all() else ranks[keep]),
            (sel if validity is None else validity & sel), base, rank_to_idx)


def _ranked_arr(reduced, got, base, rank_to_idx, out_t):
    """Per-group reduced ranks/values -> typed Arrow array, null where
    ``got`` is False (the group had no valid value)."""
    if not got.any():  # also the no-tag ranks of an absent column
        return pa.nulls(len(got), out_t)
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
                    value_column, predicate, run_ids):
    """(blocks frame of [group, value], resolved predicates, group type,
    value type, group Arrow type) — the shared set-up of the two-column
    grouped scans."""
    blocks, predicates, meta = _plan(spark, blocks_path, manifest_path,
                                     [group_column, value_column],
                                     predicate, run_ids)
    fields = _fields(meta)
    gt, vt = fields[group_column], fields[value_column]
    return blocks, predicates, gt, vt, _arrow_type(spark, gt)


def _extremes(vals: np.ndarray, labels: np.ndarray, nb: int):
    """Per-label (mins, maxs) of ``vals`` over ``nb`` labels; a label
    without a value keeps the +/- extreme (mask it by label count).
    Floats follow Spark's order, NaN above +inf: MIN skips NaN unless
    every value of the label is NaN, MAX is NaN once the label holds
    one.  d128 values reduce as exact Python ints."""
    if vals.dtype.kind == "f":
        mins, maxs = np.full(nb, np.inf), np.full(nb, -np.inf)
        np.fmin.at(mins, labels, vals)
        np.fmax.at(maxs, labels, vals)
        n_nan = np.bincount(labels, np.isnan(vals), nb)
        only_nan = (n_nan > 0) & (n_nan == np.bincount(labels, minlength=nb))
        mins[only_nan] = np.nan
        maxs[n_nan > 0] = np.nan
        return mins, maxs
    if vals.dtype.kind == "O":  # d128: bounds past every 128-bit value
        mins, maxs = np.full(nb, 1 << 128, object), np.full(nb, -1 << 128,
                                                             object)
    else:
        if vals.dtype.kind not in "iu":  # bool, or an absent column's ranks
            vals = vals.astype(np.int64)
        # the values' own width, so a date's int32 casts back to date32
        ii = np.iinfo(vals.dtype)
        mins = np.full(nb, ii.max, dtype=vals.dtype)
        maxs = np.full(nb, ii.min, dtype=vals.dtype)
    np.minimum.at(mins, labels, vals)
    np.maximum.at(maxs, labels, vals)
    return mins, maxs


# per sum lane of a value spec: (the reduction it names, the tags it
# refuses, its lane columns); (None, None) is the count-only lane
_LANES = {"sum": ("sum", ("bytes", "d128"),
                  [("s_l", T.LongType()), ("s_d", T.DoubleType()),
                   ("is_f", T.BooleanType())]),
          "dec": ("sum", ("bytes",), [("s_dec", T.DecimalType(38, 0))]),
          None: ("min/max", (), [])}


def _group_lanes(g: _Group, group_out_ts: list, specs: list):
    """The per-group step of ``_grouped_partials``: the first N cells of
    ``g`` are its keys (``group_out_ts`` their Arrow types), the rest
    its value columns -> one RecordBatch row per key combination the
    surviving rows hold (N = 0: one row when any row survives)."""
    ng = len(group_out_ts)
    slot, cnt, keys = _group_codes(g, g.cells[:ng], group_out_ts)
    nk = len(cnt)
    out = {PART_ID: pa.array(np.full(nk, g.pid, np.int32), pa.int32()),
           **{f"__g_{i}": k for i, k in enumerate(keys)},
           "__cnt": pa.array(cnt, pa.int64())}
    for j, (cell, (lane, minmax)) in enumerate(zip(g.cells[ng:], specs)):
        if lane is None and not minmax:  # COUNT: validity alone, any tag
            valid = (np.zeros(g.n_rows, bool) if cell is None
                     else blockmod.open_block(cell)[1])
            pos = slot[g.sel if valid is None else g.sel & valid]
        else:
            rv, w, base, rank_to_idx = _value_ranks(cell, g.sel,
                                                    *_LANES[lane][:2])
            pos = slot[w]
        nv = np.bincount(pos, minlength=nk)
        out[f"__nv_{j}"] = pa.array(nv, pa.int64())
        if lane == "dec":
            if rv.dtype.kind == "O":  # d128: exact Python ints
                s = np.zeros(nk, dtype=object)
                np.add.at(s, pos, rv)
            else:  # int64 words: two int64 halves sum exactly per block
                rv = rv.astype(np.int64, copy=False)
                hi, lo = np.zeros(nk, np.int64), np.zeros(nk, np.int64)
                np.add.at(hi, pos, rv >> 32)
                np.add.at(lo, pos, rv & 0xFFFFFFFF)
                s = [(int(h) << 32) + int(v) for h, v in zip(hi, lo)]
            out[f"__s_dec_{j}"] = pa.array([Decimal(int(x)) for x in s],
                                           pa.decimal128(38, 0))
        elif lane == "sum":
            is_f = rv.dtype.kind == "f"
            s_l = np.zeros(nk, dtype=np.int64)
            s_d = np.zeros(nk, dtype=np.float64)
            if is_f:
                s_d = np.bincount(pos, weights=rv, minlength=nk)
            else:
                np.add.at(s_l, pos, rv.astype(np.int64, copy=False))
            out[f"__s_l_{j}"] = pa.array(s_l, pa.int64())
            out[f"__s_d_{j}"] = pa.array(s_d, pa.float64())
            out[f"__is_f_{j}"] = pa.array(np.full(nk, is_f), pa.bool_())
        if minmax:
            for name, m in zip(("mn", "mx"), _extremes(rv, pos, nk)):
                out[f"__{name}_{j}"] = _ranked_arr(m, nv > 0, base,
                                                   rank_to_idx, minmax[1])
    return pa.RecordBatch.from_pydict(out)


def _grouped_partials(blocks: DataFrame, predicates: list[Predicate],
                      group_types: list, group_out_ts: list,
                      specs: list) -> DataFrame:
    """The one lane reducer of every grouped and scalar aggregate, over
    ``blocks`` projecting N group then M value columns.  A block
    group's keys code once (``_group_codes``; N = 0 for a scalar
    aggregate) and every value column reduces against the same slots:
    one row per (block, combination present) -> (part_id, __g_0..,
    __cnt, then per value column j its valid count __nv_j and the lanes
    its spec ``(sum_lane, minmax)`` picks).  ``sum_lane`` 'sum' adds the
    __s_l_j/__s_d_j/__is_f_j int64/float64 sums, 'dec' one exact
    unscaled __s_dec_j decimal(38,0), None neither; ``minmax`` = (Spark
    type, Arrow type) adds __mn_j/__mx_j typed by the column.  The spec
    (None, None) counts valid values from the validity alone, so it
    serves every tag.  Fold the rows with ``_fold_lanes``."""
    fields = ([T.StructField(PART_ID, T.IntegerType(), False)]
              + [T.StructField(f"__g_{i}", t, True)
                 for i, t in enumerate(group_types)]
              + [T.StructField("__cnt", T.LongType(), False)])
    for j, (lane, minmax) in enumerate(specs):
        fields.append(T.StructField(f"__nv_{j}", T.LongType(), False))
        fields += [T.StructField(f"__{n}_{j}", t, n == "s_dec")
                   for n, t in _LANES[lane][2]]
        if minmax:
            fields += [T.StructField(f"__{n}_{j}", minmax[0], True)
                       for n in ("mn", "mx")]
    return _scan(blocks, predicates, T.StructType(fields),
                 lambda g, acc: _group_lanes(g, group_out_ts, specs))


# how each lane folds across partial rows, by lane name: pinned partial
# columns carry it bare (s_l), ``_grouped_partials`` rows as __s_l_<j>
_FOLDS = {"cnt": F.sum, "nv": F.sum, "rows": F.sum, "nulls": F.sum,
          "s_l": F.sum, "s_d": F.sum, "is_f": F.max, "s_dec": F.sum,
          "mn": F.min, "mx": F.max}


def _fold_lanes(partials: DataFrame, *keys: str) -> DataFrame:
    """Fold lane partials by ``keys`` (none: into one row), each lane
    column by its rule in ``_FOLDS``; other columns (part_id, run_id)
    drop out."""
    folds = [_FOLDS[lane](c).alias(c) for c in partials.columns
             if c not in keys
             and (lane := re.sub(r"^__|_\d+$", "", c)) in _FOLDS]
    return partials.groupBy(*keys).agg(*folds)


def _final_sum(nv, lane, scale: int | None = None):
    """The one SUM finalization over folded lanes, ``lane(name)`` giving
    the Column of lane ``name``: NULL when no valid value contributed
    (``nv == 0``, SQL SUM), else the exact ``s_dec / 10^scale`` as
    decimal(38, scale) when ``scale`` is given, else ``s_d + s_l`` once
    a float lane contributed and ``s_l`` as a double otherwise."""
    if scale is None:
        t = T.DoubleType()
        s = (F.when(lane("is_f"), lane("s_d") + lane("s_l"))
             .otherwise(lane("s_l").cast(t)))
    else:
        t = T.DecimalType(38, scale)
        divisor = F.lit(10 ** scale).cast(T.DecimalType(scale + 1, 0))
        s = (lane("s_dec") / divisor).cast(t)
    return F.when(nv == 0, F.lit(None).cast(t)).otherwise(s)


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
    blocks, predicates, gt, vt, out_t = _grouped_blocks(
        spark, blocks_path, manifest_path, group_column, value_column,
        predicate, run_ids)
    scale = vt.scale if isinstance(vt, T.DecimalType) else None
    partials = _gsum_partials(blocks, predicates, gt, out_t,
                              exact_decimal=scale is not None)
    return _fold_gsum(partials, scale)


def _gsum_partials(blocks: DataFrame, predicates: list[Predicate],
                   group_type, out_t,
                   exact_decimal: bool = False) -> DataFrame:
    """Per-(block, group) grouped-sum partials -> (part_id, value, cnt,
    nv, s_l, s_d, is_f): ``_grouped_partials`` projected onto the schema
    streaming/agg_stream.py persists.  part_id rides along so
    incremental consumers can re-validate partials against the
    manifest's live pairs.  ``exact_decimal`` replaces the s_l/s_d/is_f
    lanes with one exact unscaled s_dec decimal(38,0) lane."""
    lanes = ["s_dec"] if exact_decimal else ["s_l", "s_d", "is_f"]
    spec = ("dec" if exact_decimal else "sum", None)
    return _grouped_partials(blocks, predicates, [group_type], [out_t],
                             [spec]).select(
        PART_ID, F.col("__g_0").alias("value"), F.col("__cnt").alias("cnt"),
        F.col("__nv_0").alias("nv"),
        *[F.col(f"__{n}_0").alias(n) for n in lanes])


def _fold_gsum(partials: DataFrame, scale: int | None = None) -> DataFrame:
    """Fold grouped-sum partials into the (value, sum_value, cnt)
    result with SQL null semantics (all-null group sums NULL);
    ``scale`` folds exact s_dec partials into decimal(38, scale)."""
    return _fold_lanes(partials, "value").select(
        "value", _final_sum(F.col("nv"), F.col, scale).alias("sum_value"),
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
    groupBy(value).applyInArrow with a commutative register max-merge.
    Groups must be low-cardinality (the same dict/rle assumption grouped_sum
    makes); values hash per row (splitmix64 for fixed widths; byte
    values hash their per-block dictionary uniques once and gather by
    code).

    SQL semantics: NULL groups aggregate into a NULL-group row; NULL
    values never count.  Deterministic (fixed hashes), ~1.6% standard
    error at p=12, time-travel via ``run_ids``.  Returns
    (value, approx_distinct, cnt); ``cnt`` is the group's row count."""
    from ..kernels import hll

    blocks, predicates, gt, _vt, out_t = _grouped_blocks(
        spark, blocks_path, manifest_path, group_column, value_column,
        predicate, run_ids)
    out_schema = T.StructType([
        T.StructField("value", gt, True),
        T.StructField("regs", T.BinaryType(), False),
        T.StructField("cnt", T.LongType(), False),
    ])

    def per_group(g, acc):
        slot, cnt, keys = _group_codes(g, g.cells[:1], [out_t])
        rv, w, base, rank_to_idx = _value_ranks(g.cells[1], g.sel,
                                                "approx distinct")
        # byte values hash each block distinct once
        h = (hll.hash_fixed(rv) if base is None
             else hll.hash_bytes(base.to_pylist())[rank_to_idx[rv]])
        # per-group registers: one vectorized update per group SEGMENT
        # of the surviving hash rows
        regs = [hll.empty_registers(p) for _ in cnt]
        for gid, hs in _segments(slot[w], h):
            hll.update(regs[gid], hs)
        return pa.RecordBatch.from_arrays(
            [keys[0], pa.array([r.tobytes() for r in regs], pa.binary()),
             pa.array(cnt, pa.int64())], names=["value", "regs", "cnt"])

    partials = _scan(blocks, predicates, out_schema, per_group)
    fold_schema = T.StructType([
        T.StructField("value", gt, True),
        T.StructField("approx_distinct", T.LongType(), True),
        T.StructField("cnt", T.LongType(), True),
    ])

    def fold_group(tbl):
        regs = hll.empty_registers(p)
        for blob in tbl.column("regs").to_pylist():
            _max_into(regs, blob)
        return pa.table({
            "value": tbl.column("value").slice(0, 1),
            "approx_distinct": pa.array([_hll_estimate(regs)], pa.int64()),
            "cnt": pa.array([pc.sum(tbl.column("cnt")).as_py()], pa.int64())})

    return partials.groupBy("value").applyInArrow(fold_group, fold_schema)


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
    the per-group fold (applyInArrow over the low-cardinality group
    key) merges summaries losslessly before reading the percentiles.
    Rank error per group ~ N_group/(2k): sub-percent at the default.

    SQL semantics: NULL groups form their own row; NULL values are
    excluded per group (percentile of an all-null group is NULL).
    Deterministic — pure arithmetic, no sampling.  Returns one row per
    (group, p): (value, p, q, n_rows, n_nulls)."""
    from ..kernels import quantile as qk

    plist = _probs(probs)
    blocks, predicates, gt, _vt, out_t = _grouped_blocks(
        spark, blocks_path, manifest_path, group_column, value_column,
        predicate, run_ids)
    out_schema = T.StructType([
        T.StructField("value", gt, True),
        T.StructField("vs", T.ArrayType(T.DoubleType()), False),
        T.StructField("ws", T.ArrayType(T.DoubleType()), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("nulls", T.LongType(), False),
    ])

    def per_group(g, acc):
        slot, cnt, keys = _group_codes(g, g.cells[:1], [out_t])
        vfull, vmask = _dense_full(g.cells[1], g.n_rows)
        # per-group summaries over group-sorted valid rows
        idx = np.nonzero(vmask & g.sel)[0]
        sms = [(np.empty(0), np.empty(0))] * len(cnt)  # no valid value
        for gid, sv in _segments(slot[idx], vfull[idx].astype(np.float64)):
            sms[gid] = qk.summarize(sv, None, k)
        return pa.RecordBatch.from_arrays(
            [keys[0],
             pa.array([v.tolist() for v, _w in sms], pa.list_(pa.float64())),
             pa.array([w.tolist() for _v, w in sms], pa.list_(pa.float64())),
             pa.array(cnt, pa.int64()),
             pa.array([int(c) - int(round(w.sum()))
                       for c, (_v, w) in zip(cnt, sms)], pa.int64())],
            names=["value", "vs", "ws", "rows", "nulls"])

    partials = _scan(blocks, predicates, out_schema, per_group)
    fold_schema = T.StructType([
        T.StructField("value", gt, True),
        T.StructField("p", T.DoubleType(), False),
        T.StructField("q", T.DoubleType(), True),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_nulls", T.LongType(), False),
    ])

    def fold_group(tbl):
        summaries = [(np.asarray(v, dtype=np.float64),
                      np.asarray(w, dtype=np.float64))
                     for v, w in zip(tbl.column("vs").to_pylist(),
                                     tbl.column("ws").to_pylist())]
        v, w = qk.merge(summaries, k=None)  # lossless final fold
        n = len(plist)
        rows = pc.sum(tbl.column("rows")).as_py()
        nulls = pc.sum(tbl.column("nulls")).as_py()
        # an Arrow fold keeps a NaN quantile NaN (pandas would null it)
        qs = qk.quantile(v, w, plist) if len(v) else [None] * n
        return pa.table({
            "value": tbl.column("value").take([0] * n),
            "p": pa.array(plist, pa.float64()),
            "q": pa.array(qs, pa.float64()),
            "n_rows": pa.array([rows] * n, pa.int64()),
            "n_nulls": pa.array([nulls] * n, pa.int64())})

    return partials.groupBy("value").applyInArrow(fold_group, fold_schema)


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
    blocks, predicates, gt, vt, out_tg = _grouped_blocks(
        spark, blocks_path, manifest_path, group_column, value_column,
        predicate, run_ids)
    _reject_d128("grouped_minmax", vt, "column_minmax")
    partials = _grouped_partials(blocks, predicates, [gt], [out_tg],
                                 [(None, (vt, _arrow_type(spark, vt)))])
    return _fold_lanes(partials, "__g_0").select(
        F.col("__g_0").alias("value"), F.col("__mn_0").alias("min_value"),
        F.col("__mx_0").alias("max_value"), F.col("__cnt").alias("cnt"))


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
    blocks, predicates, meta = _plan(spark, blocks_path, manifest_path,
                                     gcols + vcols, predicate, run_ids)
    fields = _fields(meta)
    for v in vcols:
        if isinstance(fields[v], T.DecimalType):
            raise NotImplementedError(
                f"grouped_aggs over decimal column {v!r} is not supported; "
                "use grouped_sum (exact decimal partials) per column")
    partials = _grouped_partials(
        blocks, predicates, [fields[c] for c in gcols],
        [_arrow_type(spark, fields[c]) for c in gcols],
        [("sum", (fields[v], _arrow_type(spark, fields[v])) if minmax
          else None) for v in vcols])
    gkeys = [f"__g_{i}" for i in range(len(gcols))]
    outs = [F.col(k).alias(c) for k, c in zip(gkeys, gcols)]
    for j, v in enumerate(vcols):
        nv = F.col(f"__nv_{j}")
        s = _final_sum(nv, lambda n, j=j: F.col(f"__{n}_{j}"))
        outs += [s.alias(f"sum_{v}"), (s / nv).alias(f"avg_{v}"),
                 nv.alias(f"n_{v}")]
        if minmax:
            outs += [F.col(f"__mn_{j}").alias(f"min_{v}"),
                     F.col(f"__mx_{j}").alias(f"max_{v}")]
    outs.append(F.col("__cnt").alias("cnt"))
    return _fold_lanes(partials, *gkeys).select(*outs)


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
    blocks, predicates, gt, vt, out_tg = _grouped_blocks(
        spark, blocks_path, manifest_path, group_column, value_column,
        predicate, run_ids)
    _reject_d128("grouped_topk", vt, "column_topk")
    out_tv = _arrow_type(spark, vt)
    out_schema = T.StructType([
        T.StructField("value", gt, True),
        T.StructField("item", vt, False),
    ])

    def per_group(g, acc):
        slot, _cnt, keys = _group_codes(g, g.cells[:1], [out_tg])
        rv, w, base, rank_to_idx = _value_ranks(g.cells[1], g.sel,
                                                "grouped topk")
        # rank-sorted rows, then per-group slices of the extreme k
        order = np.argsort(rv, kind="stable")
        g_out, r_out = [], []
        for gid, rs in _segments(slot[w][order], rv[order]):
            rs = rs[:k] if ascending else rs[-k:]
            g_out.append(np.full(len(rs), gid))
            r_out.append(rs)
        if not r_out:
            return None  # no valid value survived: nothing ranks
        r_sel = np.concatenate(r_out)
        return pa.RecordBatch.from_arrays(
            [keys[0].take(pa.array(np.concatenate(g_out))),
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

    from .filters import AndPredicate, ConstPredicate, OrPredicate

    if k <= 0:
        raise ValueError("k must be positive")
    meta = manifestmod.table_meta(spark, manifest_path)
    fields = _fields(meta)
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
    preds = resolve_predicates(predicate, meta)
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
