"""Distributed decode: blocks parquet + manifest -> original DataFrame.

The read path mirrors the reference's scan semantics, but the wide
blocks layout (schema.py) lets parquet itself do the pruning work:

* column pruning — only the requested columns' ``cols.<name>.block``
  struct leaves are selected, so the parquet scan's ReadSchema (and the
  bytes read) shrink to exactly the projection (the analog of
  ``columns_to_read`` in local_file_reader.rs:33-51);
* predicate pushdown — the filter column's zone-map stats are checked
  FIRST: a ``none`` verdict skips the group and an ``all`` verdict
  skips decoding the predicate column entirely, both without touching
  payload bytes (the reference defines check_range but never wires it —
  we do, including byte-prefix zones the reference lacks).  Dictionary
  blocks evaluate the predicate once per distinct value then map over
  codes (dictionary_page_int32_with_filters.rs:97-177), and surviving
  masks gate the remaining columns exactly like the RowRangeSet cascade
  in row_group_reader.rs:204-258;
* point queries — ``part_ids`` pushes a parquet filter that prunes row
  groups on part_id min/max stats (tasks write sorted part ids), the
  analog of ``skip()`` hopping row groups from footer arithmetic
  (local_file_reader.rs:126-171);
* no shuffle, ever — each blocks row is a self-contained block group,
  so decode is embarrassingly parallel over scan splits and peak memory
  is one block group per task.

Every block reader walks those rows through one task loop,
``_groups`` (the row_range window, the predicate cascade, the block
bytes crossing into Python once per surviving group): ``_scan`` maps
it over the planned frame for ``decode_table`` (with ``_make_decoder``
as the per-group step) and every aggregate in agg.py (with their
reducers), and the DSv2 source walks it per blocks file.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T

from ..kernels import block as blockmod
from ..kernels import bitpack, dictionary, lists, strings
from . import manifest as manifestmod
from . import nest
from .manifest import _in_sql, _sql_lit, _sql_name
from .memutil import trimmed
from .filters import ALL, NONE, Predicate, pred_columns, replace_predicate
from .schema import PART_ID, read_blocks as schema_read_blocks

_FIXED_STRUCT = {
    "boolean": pa.bool_(), "integer": pa.int32(), "long": pa.int64(),
    "float": pa.float32(), "double": pa.float64(),
}


def arrow_out_type(t, tz: str = "UTC") -> pa.DataType:
    """Spark DataType -> the Arrow type decode emits for it."""
    name = t.typeName()
    if name == "decimal":
        return pa.decimal128(t.precision, t.scale)
    if name == "array":
        return pa.list_(arrow_out_type(t.elementType, tz))
    if name == "map":
        return pa.map_(arrow_out_type(t.keyType, tz),
                       arrow_out_type(t.valueType, tz))
    if name == "struct":
        return pa.struct([pa.field(f.name, arrow_out_type(f.dataType, tz), True)
                          for f in t.fields])
    return {
        "string": pa.string(), "binary": pa.binary(),
        "timestamp": pa.timestamp("us", tz=tz),
        "timestamp_ntz": pa.timestamp("us"),
        "date": pa.date32(),
        **{k: v for k, v in _FIXED_STRUCT.items()},
    }[name]


def _scatter_bytes(dense: strings.StringColumn, validity: np.ndarray) -> pa.Array:
    """Dense byte rows + validity -> nullable Arrow array (nulls are
    0-length, data blob unchanged)."""
    n = len(validity)
    lens = np.zeros(n, dtype=np.int64)
    lens[validity] = dense.lengths()
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), n,
        [
            pa.py_buffer(bitpack.pack_bools(validity)),
            pa.py_buffer(offsets),
            pa.py_buffer(dense.data),
        ],
    )


def _list_to_arrow(col: lists.ListColumn, validity: np.ndarray | None,
                   elem_type: pa.DataType) -> pa.Array:
    """Dense ListColumn (+ optional validity) -> Arrow large_list array.
    Null rows are zero-length (offset repeats), flagged via the validity
    bitmap; null ELEMENTS scatter back from the element-validity bitmap
    — the rep/def-level reconstruction of nested data."""
    if hasattr(col.values, "offsets"):  # lbytes: StringColumn elements
        if col.elem_validity is not None:
            values = _scatter_bytes(col.values, col.elem_validity)
        else:
            values = strings.to_arrow(col.values)
        if not values.type.equals(elem_type):
            values = values.cast(elem_type)
    elif col.elem_validity is not None:
        full = blockmod.scatter_nulls_fixed(np.asarray(col.values),
                                            col.elem_validity)
        values = pa.array(full, mask=~col.elem_validity)
    else:
        values = pa.array(col.values)
    if validity is None:
        offsets = np.ascontiguousarray(col.offsets)
        bufs = [None, pa.py_buffer(offsets)]
        n = len(col)
    else:
        n = len(validity)
        lens = np.zeros(n, dtype=np.int64)
        lens[validity] = col.lengths()
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        bufs = [pa.py_buffer(bitpack.pack_bools(validity)), pa.py_buffer(offsets)]
    return pa.Array.from_buffers(
        pa.large_list(pa.field("element", elem_type, True)), n, bufs,
        children=[values])


def _decimal_from_i64(values: np.ndarray, validity: np.ndarray | None,
                      target: pa.DataType) -> pa.Array:
    """Unscaled int storage -> decimal128(p, s) via the 16-byte
    two's-complement layout.  Storage is either 1-D int64 (p <= 18: low
    word only, high word is sign extension) or (n, 2) int64 (lo, hi)
    word pairs (tag "d128", 18 < p <= 38)."""
    dense = np.asarray(values, dtype=np.int64)
    if dense.ndim == 2:  # d128 word pairs: already the full 16 bytes
        if validity is not None:
            full = np.zeros((len(validity), 2), dtype=np.int64)
            full[validity] = dense
            pairs = full
        else:
            pairs = np.ascontiguousarray(dense)
        n = len(pairs)
    else:
        full = (blockmod.scatter_nulls_fixed(dense, validity)
                if validity is not None else dense)
        n = len(full)
        pairs = np.empty((n, 2), dtype=np.int64)
        pairs[:, 0] = full
        pairs[:, 1] = full >> 63  # 0 / -1 sign extension
    vbuf = None if validity is None else pa.py_buffer(bitpack.pack_bools(validity))
    return pa.Array.from_buffers(target, n, [vbuf, pa.py_buffer(pairs.tobytes())])


def _to_arrow_full(values, validity, tag: str, target: pa.DataType | None = None) -> pa.Array:
    if tag == "bytes":
        if validity is None:
            return strings.to_arrow(values)
        return _scatter_bytes(values, validity)
    if tag in lists.LIST_TAGS:
        if target is not None and (pa.types.is_list(target)
                                   or pa.types.is_large_list(target)):
            elem = target.value_type
        elif hasattr(values.values, "offsets"):  # lbytes without target
            elem = pa.large_binary()
        else:
            elem = pa.from_numpy_dtype(values.values.dtype)
        return _list_to_arrow(values, validity, elem)
    if target is not None and pa.types.is_decimal(target):
        return _decimal_from_i64(values, validity, target)
    if validity is None:
        return pa.array(values)
    full = blockmod.scatter_nulls_fixed(np.asarray(values), validity)
    return pa.array(full, mask=~validity)


def _decode_mask(cross, stats: dict, predicate: Predicate):
    """Predicate column fast path -> (verdict, mask).

    Zone-map stats (a typed struct row, see schema._STATS_ARROW) answer
    without touching payload bytes whenever they can — ``all``/``none``
    return BEFORE the block's bytes even cross into Python (``cross()``
    returns them; the reference's uncovered pages are never
    decompressed, primitive_column_reader.rs:515-521).  Dictionary
    blocks evaluate the predicate once per distinct value and map over
    codes."""
    zone = predicate.check_zone(stats)
    if zone == NONE:
        return "none", None
    if zone == ALL:
        return "all", None
    payload, validity, meta, tag, codec, n_rows = blockmod.open_block(cross())
    if tag == "d128" and not getattr(predicate, "supports_d128", False):
        raise NotImplementedError(
            "this predicate cannot evaluate decimal(p>18) word pairs — "
            "use Decimal128RangePredicate (unscaled int bounds), filter "
            "after decode, or store at precision <= 18")
    n_valid = int(validity.sum()) if validity is not None else n_rows
    if codec == "dict":
        uniques, codes = dictionary.decode_parts(payload, meta, n_valid, tag)
        mask = predicate.dict_mask(uniques, codes, validity)
    else:
        values = blockmod.decode_values(payload, meta, n_valid, tag, codec)
        mask = predicate.mask(values, validity)
    if mask.all():
        return "all", None
    if not mask.any():
        return "none", None
    return "some", mask


def eval_group_predicate(pred, blk_of, st_of):
    """One predicate over one block group -> (verdict, mask).

    ``blk_of(col)`` returns None where the column is absent from this
    group's run (schema evolution), else a callable that crosses its
    block bytes into Python; ``st_of(col)`` returns its zone-stats
    dict.  Leaves go
    through ``_decode_mask`` (zone short-circuits, dictionary fast
    path); composite predicates (OrPredicate/AndPredicate) recurse per
    child so every leaf KEEPS those short-circuits — an OR still skips
    a whole group unopened when each child's zone says 'none', and
    accepts it outright the moment one child says 'all'."""
    kids = getattr(pred, "children", None)
    if kids is not None:
        if pred.combine == "or":
            union = None
            for ch in kids:
                v, m = eval_group_predicate(ch, blk_of, st_of)
                if v == "all":
                    return "all", None
                if v == "none":
                    continue
                union = m if union is None else (union | m)
            if union is None:
                return "none", None
            if union.all():
                return "all", None
            return "some", union
        inter = None
        for ch in kids:
            v, m = eval_group_predicate(ch, blk_of, st_of)
            if v == "none":
                return "none", None
            if v == "all":
                continue
            inter = m if inter is None else (inter & m)
            if not inter.any():
                return "none", None
        if inter is None:
            return "all", None
        return "some", inter
    cross = blk_of(pred.column)
    if cross is None:
        # column absent from this group's run (schema evolution): the
        # whole column is null here — the zone rule for a missing column
        return pred.zone_verdict_cols(lambda c: None), None
    return _decode_mask(cross, st_of(pred.column), pred)


def resolve_mask(predicates, blk_of, st_of, mask=None):
    """The conjunctive cascade of one block group (row_group_reader.rs:
    204-258) -> 'none' | 'all' | full-length bool mask.

    ``blk_of``/``st_of`` give a predicate column's lazy block and its
    zone stats (see ``eval_group_predicate``).  Each predicate narrows
    the surviving ``mask`` in turn (start from a row window's mask, or
    None for every row); an all-false mask short-circuits the rest.
    Composite predicates (OR across columns, NOT) evaluate through
    ``eval_group_predicate``, so their leaves keep the zone/dictionary
    fast paths."""
    for pred in predicates:
        verdict, pmask = eval_group_predicate(pred, blk_of, st_of)
        if verdict == "none":
            return "none"
        if pmask is not None:
            mask = pmask if mask is None else (mask & pmask)
            if not mask.any():
                return "none"
    return "all" if mask is None else mask


def _logical(meta: dict) -> T.StructType:
    return T.StructType.fromJson(
        json.loads(meta.get("logical_schema_json") or meta["schema_json"]))


def resolve_predicates(predicate, meta: dict) -> list[Predicate]:
    """The one predicate resolver of every reader: ``predicate`` (None,
    one predicate, or a list ANDed as a cascade) -> a list whose dotted
    struct-leaf paths ('meta.width') name flat storage leaves.  Raises
    KeyError on a column the table does not encode (column resolution
    by name, row_group_reader.rs:107-113)."""
    predicates = ([] if predicate is None
                  else list(predicate) if isinstance(predicate, list)
                  else [predicate])
    known = set(meta["columns"])

    def leaf(p):
        if p.column in known:
            return p
        flat = nest.resolve_leaf(p.column, _logical(meta))
        if flat is None or flat not in known:
            raise KeyError(f"predicate column {p.column} not encoded; "
                           f"encoded: {meta['columns']}")
        return replace_predicate(p, column=flat)

    return [p.map_leaves(leaf) for p in predicates]


def output_fields(meta: dict, columns: list[str] | None) -> list:
    """The logical StructFields a read returns: ``columns`` in order, or
    every column.  Raises KeyError on an unknown name and ValueError on
    a repeated one."""
    by_name = {f.name: f for f in _logical(meta).fields}
    names = list(columns or by_name)
    unknown = set(names) - set(by_name)
    if unknown:
        raise KeyError(f"unknown columns {unknown}; encoded: {list(by_name)}")
    repeated = sorted({c for c in names if names.count(c) > 1})
    if repeated:
        raise ValueError(f"duplicate output columns {repeated}: name each "
                         "column once")
    return [by_name[c] for c in names]


def leaf_columns(fields) -> list[str]:
    """Flat storage leaves backing logical ``fields`` (engine/nest.py)."""
    return [leaf for f in fields
            for leaf in nest.leaf_names(f.name, f.dataType, f.nullable)]


def _blocks_proj(spark, blocks_path: str, manifest_path: str,
                 columns: list[str], predicates: list[Predicate],
                 run_ids: list[str] | None = None, meta: dict | None = None,
                 part_ids: list[int] | None = None,
                 seq_range: tuple[int, int] | None = None):
    """The one blocks-frame planner of decode and every aggregate.

    Projects (part_id, run_id, seq, n_rows); the ``block`` leaf of each
    of ``columns`` in order as ``__blk_<col>`` (the output cells); the
    ``block`` leaf of each (resolved) predicate column NOT among them as
    ``__pblk_<col>`` — so a column that is both crosses into Python
    once (``_groups`` finds either); and each predicate column's
    ``stats`` leaf as ``__st_<col>``.  Only these leaves are in the
    parquet ReadSchema.

    ``part_ids`` (point queries; prunes row groups on part_id min/max
    stats), ``run_ids`` (incremental reads; pushed string filter) and
    ``seq_range`` (inclusive seq interval; tasks write groups in seq
    order) are scan-level filters.  The ANDed JVM zone prefilters
    (``Predicate.jvm_zone_keep``) then drop
    groups that provably cannot match before their block bytes cross
    the JVM->Python boundary (Python re-checks zones for the rest;
    null stats pass), and the manifest's valid (part_id, run_id) pairs
    keep the rest (``manifest.join_valid``): on a local manifest whose
    pairs are a cross product of runs and parts, a filter fused into
    the scan stage and pushed to parquet, so a decode is one Spark job;
    otherwise a broadcast join — no shuffle of the block data either
    way.

    The plan is SQL text — the scan filters, one ``selectExpr`` and the
    prefilters — whose literals come from ``manifest._sql_lit`` and
    names from ``manifest._sql_name``: a handful of Py4J calls however
    many columns and predicates, where Column expressions cost ~10 per
    node."""
    if meta is None:
        meta = manifestmod.table_meta(spark, manifest_path)
    pcols = pred_columns(predicates)
    known = set(meta["columns"])
    for c in list(columns) + pcols:
        if c not in known:
            raise KeyError(f"unknown column {c}; encoded: {meta['columns']}")

    def leaf(c, name, alias):
        return f"{_sql_name('cols', c, name)} AS {_sql_name(alias + c)}"

    proj = [_sql_name(c) for c in (PART_ID, "run_id", "seq", "n_rows")]
    proj += [leaf(c, "block", "__blk_") for c in columns]
    proj += [leaf(c, "block", "__pblk_") for c in pcols if c not in columns]
    proj += [leaf(c, "stats", "__st_") for c in pcols]
    scan = []
    if part_ids is not None:
        scan.append(_in_sql(PART_ID, [int(p) for p in part_ids]))
    if run_ids is not None:
        scan.append(_in_sql("run_id", run_ids))
    if seq_range is not None:
        seq, (lo, hi) = _sql_name("seq"), map(_sql_lit, map(int, seq_range))
        scan.append(f"{seq} >= {lo} AND {seq} <= {hi}")
    keeps = [k for k in (p.jvm_zone_keep(lambda c: _sql_name(f"__st_{c}"))
                         for p in predicates) if k is not None]
    # schema from the manifest's merged column list: groups from runs
    # that predate a column read its struct leaves as null (schema
    # evolution), without a per-call footer-merge job
    blocks = schema_read_blocks(spark, blocks_path, meta["columns"])
    if scan:
        blocks = blocks.filter(" AND ".join(scan))
    blocks = blocks.selectExpr(*proj)
    if keeps:
        blocks = blocks.filter(" AND ".join(f"({k})" for k in keeps))
    return manifestmod.join_valid(blocks, manifestmod.valid_pairs_df(
        spark, manifest_path, part_ids=part_ids, run_ids=run_ids))


def _part_totals(pair_rows) -> list[tuple[int, int]] | None:
    """(part_id, rows) sorted by part_id, summed over the valid pairs'
    manifest rows (``manifest.valid_pairs``), or None when there are
    none to trust: the pairs came from Spark, or a pair's n_rows differ
    between its columns (every column of a pair counts the same rows)."""
    if pair_rows is None:
        return None
    totals: dict[int, int] = {}
    for p, lo, hi in zip(pair_rows.column(PART_ID).to_pylist(),
                         pair_rows.column("n_rows_min").to_pylist(),
                         pair_rows.column("n_rows_max").to_pylist()):
        if lo is None or lo != hi:
            return None
        totals[p] = totals.get(p, 0) + lo
    return sorted(totals.items())


class _Group:
    """One block group that survived the predicate cascade, as
    ``_groups`` yields it.  ``cells`` holds the block bytes of each
    ``__blk_`` column in order — None where the group predates the
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


def _groups(batches, predicates: list[Predicate],
            row_window: tuple[int, int, dict] | None = None):
    """The one task loop of every block reader: ``_blocks_proj``-layout
    batches -> the ``_Group`` of each block group that may hold a
    surviving row.  Every input row is one complete block group (all
    columns), so there is no regrouping state.

    ``row_window`` = (start, end, {(part_id, run_id, seq) -> global row
    offset of the group}) is ``row_range``'s positional slice (the
    reference positions INSIDE a row group after skipping whole ones,
    row_group_reader.rs:188-198): groups outside it are skipped and a
    boundary group starts the cascade from the mask of its overlapping
    rows.  The cascade (``resolve_mask``) then skips groups it proves
    empty.  A block's bytes cross into Python at most once, and only
    when read: a predicate block the zone answers never crosses, and a
    predicate column that is also an output cell shares its crossing."""
    pcols = pred_columns(predicates)
    for batch in batches:
        names, cols = batch.schema.names, batch.columns
        outs = [j for j, n in enumerate(names) if n.startswith("__blk_")]
        pids = batch.column(PART_ID).to_pylist()
        grows = batch.column("n_rows").to_pylist()
        # a predicate column's block: its output cell, else its own
        pidx = {c: names.index(f"__blk_{c}" if f"__blk_{c}" in names
                               else f"__pblk_{c}") for c in pcols}
        st_cols = {c: batch.column(f"__st_{c}") for c in pcols}
        if row_window is not None:
            start, end, offsets = row_window
            keys = list(zip(pids, batch.column("run_id").to_pylist(),
                            batch.column("seq").to_pylist()))
        for i in range(batch.num_rows):
            n_rows, mask = grows[i], None
            if row_window is not None:
                goff = offsets.get(keys[i])
                if goff is None:
                    continue  # group outside the slice (orphan/pruned)
                lo, hi = max(start - goff, 0), min(end - goff, n_rows)
                if hi <= lo:
                    continue
                if lo > 0 or hi < n_rows:  # boundary group: partial rows
                    mask = np.zeros(n_rows, dtype=bool)
                    mask[lo:hi] = True
            cell = _crossing(cols, i)

            def blk_of(c, i=i, cell=cell):
                j = pidx[c]
                return (lambda: cell(j)) if cols[j][i].is_valid else None

            mask = resolve_mask(predicates, blk_of,
                                lambda c, i=i: st_cols[c][i].as_py(), mask)
            if isinstance(mask, str) and mask == "none":
                continue
            yield _Group(pids[i], n_rows, mask, [cell(j) for j in outs])


def _crossing(cols, i: int):
    """Row ``i``'s block cells of the Arrow columns ``cols`` as
    ``cell(j)``: column j's block bytes, crossed into Python at most
    once however many readers ask (the predicate cascade, the output
    cells), or None where the group predates the column."""
    crossed: dict = {}

    def cell(j):
        if j not in crossed:
            s = cols[j][i]
            crossed[j] = s.as_py() if s.is_valid else None
        return crossed[j]

    return cell


def _scan(blocks, predicates: list[Predicate], out_schema, per_group,
          flush=None, row_window=None):
    """``mapInArrow`` of ``_groups`` over a ``_blocks_proj`` frame: the
    one Spark task of ``decode_table`` and every compressed-domain
    aggregate.  ``per_group(group, acc)`` either returns a RecordBatch
    for that group (or None), or folds into ``acc`` — a per-task dict —
    which ``flush(acc)`` turns into the task's batch at stream end.
    ``out_schema`` is a Spark schema, or a pyarrow schema for
    fixed-width partial lanes.  The task runs ``trimmed``, so reused
    workers release task memory."""
    if isinstance(out_schema, pa.Schema):
        from pyspark.sql.pandas.types import from_arrow_schema

        out_schema = from_arrow_schema(out_schema)

    def scan_task(batches):
        acc: dict = {}
        for g in _groups(batches, predicates, row_window):
            out = per_group(g, acc)
            if out is not None:
                yield out
        out = flush(acc) if flush is not None else None
        if out is not None:
            yield out

    return blocks.mapInArrow(trimmed(scan_task), out_schema)


def _make_decoder(meta: dict, fields: list, tz: str,
                  include_part_id: bool = False):
    """The per-group decoder of ``decode_table`` and the DSv2 reader:
    one surviving ``_Group`` whose cells are the leaves of ``fields``
    -> a RecordBatch of the logical ``fields`` (nested columns
    assembled in the task, ``nest.assemble``), plus ``part_id`` when
    ``include_part_id``."""
    flat = {f.name: f.dataType
            for f in T.StructType.fromJson(json.loads(meta["schema_json"])).fields}
    leaves = leaf_columns(fields)
    leaf_types = [arrow_out_type(flat[c], tz) for c in leaves]
    out_types = [arrow_out_type(f.dataType, tz) for f in fields]
    out_fields = [pa.field(f.name, t, True) for f, t in zip(fields, out_types)]
    if include_part_id:
        out_fields.append(pa.field(PART_ID, pa.int64(), False))
    out_schema = pa.schema(out_fields)

    def decode_group(g: _Group, acc=None):
        mask = None if isinstance(g.mask, str) else g.mask
        n_out = g.n_sel
        # late materialization: when few rows survive the cascade, decode
        # only those rows of each output column (fsst random access, dict
        # code gather, byte-slice gather) instead of decode-all + filter
        late = mask is not None and n_out * 4 < g.n_rows
        decoded = {}
        for name, target, blk in zip(leaves, leaf_types, g.cells):
            if blk is None:
                # schema evolution: rows from runs that predate this
                # column read back as nulls
                arr = pa.nulls(n_out, target)
            else:
                values, validity, tag, _c, _n = (
                    blockmod.decode_block_rows(blk, mask) if late
                    else blockmod.decode_block(blk))
                arr = _to_arrow_full(values, validity, tag, target)
                if mask is not None and not late:
                    arr = arr.filter(pa.array(mask))
            if not arr.type.equals(target):
                arr = arr.cast(target)
            decoded[name] = arr
        arrays = [nest.assemble(f.name, f.dataType, f.nullable, t, decoded)
                  for f, t in zip(fields, out_types)]
        if include_part_id:
            arrays.append(pa.array(np.full(n_out, g.pid, np.int64)))
        return pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return decode_group


def decode_table(
    spark,
    blocks_path: str,
    manifest_path: str,
    columns: list[str] | None = None,
    predicate: Predicate | list[Predicate] | None = None,
    include_part_id: bool = False,
    n_tasks: int | None = None,
    part_ids: list[int] | None = None,
    run_ids: list[str] | None = None,
    seq_range: tuple[int, int] | None = None,
    row_range: tuple[int, int] | None = None,
):
    """Reconstruct the encoded table (or a projected, filtered slice).

    ``predicate`` may be a list: predicates are ANDed as a cascade —
    each filter column decodes in turn and narrows the surviving mask,
    short-circuiting the rest of the block group when it empties (the
    reference's multi-column read_with_filter cascade, SURVEY.md §3.2).

    ``part_ids`` is the point-query path: only the named partitions'
    blocks are ever read (parquet predicate pushdown on part_id prunes
    whole row groups — the analog of the reference's skip() hopping row
    groups from footer arithmetic, local_file_reader.rs:126-171).

    ``seq_range=(lo, hi)`` additionally prunes block groups by their
    inclusive seq interval (pushed to the parquet scan).  ``row_range=
    (start, end)`` is the positional point query: rows [start, end) in
    GLOBAL encode order — partitions ordered by part_id, rows within a
    partition in append order.  With one ``part_ids`` entry this is the
    classic mid-partition slice; without (or with several) the slice
    spans partition boundaries, resolved from per-partition row-count
    prefix sums so only OVERLAPPING partitions are ever scanned (two
    tiny metadata jobs; whole groups outside the slice are pruned by a
    pushed seq filter — the analog of positioning inside a row group
    after skipping whole ones, row_group_reader.rs:188-198).  "Append
    order" across runs means manifest COMMIT order (the monotonic
    run_seq each commit records), so positions are stable append
    positions even though run ids themselves are random hex.

    The wide blocks layout makes every row a complete block group, so
    decode needs NO shuffle; ``n_tasks`` optionally repartitions for
    parallelism when the blocks dataset has too few scan splits.
    """
    from pyspark.sql import functions as F

    meta = manifestmod.table_meta(spark, manifest_path)
    fields = output_fields(meta, columns)
    predicates = resolve_predicates(predicate, meta)

    row_window = None
    if row_range is not None:
        start, end = int(row_range[0]), int(row_range[1])
        if end <= start:
            raise ValueError(f"empty row_range {row_range}")
        # Global row positions: partitions ordered by part_id, rows
        # within a partition in APPEND order (manifest commit order
        # run_seq, then seq).  With one part_id this is the classic
        # mid-partition point query; with several (or none = the whole
        # table) the slice spans partition boundaries.  The driver
        # never holds the whole table's group list:
        #   1. per-partition row totals (n_parts rows) -> prefix sums
        #      pick the partitions OVERLAPPING [start, end).  They sum
        #      the manifest rows the valid-pairs builder already read
        #      on the driver (no job); on its Spark path, or when a
        #      pair's n_rows disagree across its columns, a groupBy of
        #      the blocks' group metadata computes them instead;
        #   2. group offsets need each group's (run, seq, n_rows),
        #      which only the blocks hold: the one metadata job left
        #      collects them from ONLY the overlapping partitions
        #      (seq/n_rows leaves, part_id pruned).
        # With run_ids the offsets are RUN-RELATIVE (positions among
        # the named runs' rows), matching the scan filter below.
        pair_rows = manifestmod.valid_pairs(
            spark, manifest_path, part_ids=part_ids, run_ids=run_ids)[1]
        gmeta = _blocks_proj(spark, blocks_path, manifest_path, [], [],
                             run_ids=run_ids, meta=meta, part_ids=part_ids)
        per_part = _part_totals(pair_rows)
        if per_part is None:
            per_part = [(int(r[PART_ID]), int(r["p_rows"])) for r in (
                gmeta.groupBy(PART_ID).agg(F.sum("n_rows").alias("p_rows"))
                .orderBy(PART_ID).collect())]
        overlap = {}  # part_id -> global offset of its first row
        goff = 0
        for p0, pr in per_part:
            if goff < end and goff + pr > start:
                overlap[p0] = goff
            goff += pr
        offsets = {}
        seqs_hit = []
        if overlap:
            groups = gmeta.filter(_in_sql(PART_ID, overlap)).collect()
            # append order across runs: manifest commit order (run_seq),
            # falling back to lexicographic run_id for pre-round-4 runs
            order = manifestmod.run_order(spark, manifest_path)
            cursor = dict.fromkeys(overlap, 0)
            for r in sorted(groups, key=lambda r: (
                    int(r[PART_ID]),
                    order.get(r["run_id"], (0, 0, r["run_id"])),
                    r["seq"])):
                p0 = int(r[PART_ID])
                g = overlap[p0] + cursor[p0]
                if g < end and g + r["n_rows"] > start:
                    offsets[(p0, r["run_id"], r["seq"])] = g
                    seqs_hit.append(int(r["seq"]))
                cursor[p0] += r["n_rows"]
        row_window = (start, end, offsets)
        # prune the scan to the overlapping partitions only
        part_ids = sorted(overlap) if overlap else [-1]
        if seqs_hit and seq_range is None:
            # pushed seq interval prunes non-overlapping groups at scan
            seq_range = (min(seqs_hit), max(seqs_hit))

    blocks = _blocks_proj(spark, blocks_path, manifest_path,
                          leaf_columns(fields), predicates, run_ids=run_ids,
                          meta=meta, part_ids=part_ids, seq_range=seq_range)
    if n_tasks:
        blocks = blocks.repartition(n_tasks)
    tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in fields]
        + ([T.StructField(PART_ID, T.LongType(), False)]
           if include_part_id else []))
    return _scan(blocks, predicates, out_schema,
                 _make_decoder(meta, fields, tz, include_part_id),
                 row_window=row_window)
