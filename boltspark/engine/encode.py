"""Distributed encode: DataFrame -> blocks parquet + checkpoint manifest.

Shape (SURVEY.md §7.0): deterministic salted repartition -> one
``mapInArrow`` pass that encodes each partition's columns into bounded
blocks -> blocks parquet (stored uncompressed: payloads already carry
their own codec + outer compression, mirroring Parquet's
encoding-then-compression layering) -> manifest parquet committed
after the blocks write succeeds.

The manifest rows come from the encoder tasks themselves: each task
totals its blocks per (partition, column) and adds those rows to a
Spark accumulator created for this call, so the commit is one tiny
write (manifest.commit) instead of a re-scan of the blocks just
written.

Everything inside the Arrow iterator is vectorized numpy/pyarrow —
no per-row Python.  The batch iterator bounds peak memory exactly the
way the reference's StreamingByteBuffer bounds its read window
(file_streaming_byte_buffer.rs:104-158).
"""

from __future__ import annotations

import logging
import time
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F, types as T

from ..kernels import block as blockmod
from ..kernels import fsst, lists, selector, strings
from . import manifest as manifestmod
from . import nest
from .memutil import trimmed
from .partitioner import (DEFAULT_TARGET_PARTITION_BYTES, PART_COL, SHUF_COL,
                          assign_partition_id, cluster_partitions, input_size,
                          num_partitions, zorder_column)
from .schema import (_STATS_ARROW, blocks_arrow_schema,
                     blocks_spark_schema, storage_cast, tag_for_arrow_type)

log = logging.getLogger(__name__)

DEFAULT_BLOCK_BYTES = 4 << 20
DEFAULT_KEY_COLS = ("repo", "path", "commit")
# engine-level outer compression.  Round 3 defaulted this to 9 on a
# local A/B claiming wall-neutrality; the driver bench (BENCH_r03 vs
# BENCH_r02) disagreed — encode_corpus +27%, roundtrip_documents 1.9x —
# so the default is back to 3 (decision record in BENCH/BASELINE.md
# round-4 appendix).  Archival encode-once runs that want the ~11%
# storage win should pass outer_level=9 explicitly; the level is not
# part of the block format, so readers are unaffected either way.
DEFAULT_OUTER_LEVEL = 3


@dataclass
class EncodeResult:
    out_path: str
    manifest_path: str
    run_id: str
    n_partitions: int
    n_planned: int  # partitions encoded in this run (resume skips done ones)
    total_raw_bytes: int
    total_enc_bytes: int
    wall_sec: float


def _column_stats(values, tag: str, validity) -> dict:
    """Typed zone-map stats dict matching schema._STATS_ARROW."""
    has_null = validity is not None and not bool(validity.all())
    stats = {"vmin": None, "vmax": None, "vmin_pfx": None, "vmax_pfx": None,
             "vmin_exact": None, "vmax_exact": None,
             "has_null": has_null, "bloom": None}
    if tag == "bytes":
        # prefix min/max keeps stats rows small but still zone-usable
        # (filters._zone is the reader side)
        n = len(values)
        if n:
            from ..kernels import bloom

            arr = strings.to_arrow(values)
            vmin = pc.min(arr).as_py() or b""
            vmax = pc.max(arr).as_py() or b""
            stats.update(vmin_pfx=vmin[:24], vmax_pfx=vmax[:24],
                         vmin_exact=len(vmin) <= 24, vmax_exact=len(vmax) <= 24)
            # equality zone filter (parquet bloom analog), only for
            # key-like short strings: equality needles target ids/paths/
            # tags, while multi-KB blobs would pay the unique() hash for
            # a filter nobody probes
            if len(values.data) <= 256 * n:
                uniq = pc.unique(arr)
                if len(uniq) <= bloom.MAX_DISTINCT:
                    # built over EVERY distinct value: a miss is a
                    # certain skip
                    stats["bloom"] = bloom.build(u.as_py() for u in uniq)
    elif tag in lists.LIST_TAGS or tag == "d128":
        pass  # no zone maps: lists lack order semantics; d128 bounds
        # don't fit the float64 stats slot (conservative = no skip)
    elif len(values):
        # bounds stored as double; int bounds beyond 2^53 widen OUTWARD
        # so zone verdicts stay conservative-correct
        vmin, vmax = np.min(values), np.max(values)
        if tag in ("f32", "f64"):
            stats.update(vmin=float(vmin), vmax=float(vmax))
        else:
            lo, hi = float(vmin), float(vmax)
            if int(lo) > int(vmin):
                lo = float(np.nextafter(lo, -np.inf))
            if int(hi) < int(vmax):
                hi = float(np.nextafter(hi, np.inf))
            stats.update(vmin=lo, vmax=hi)
    return stats


def _decimal_unscaled_i64(arr: pa.Array) -> np.ndarray:
    """Dense decimal128(p<=18) -> unscaled int64 (low word of the
    16-byte two's-complement storage; precision <= 18 fits)."""
    buf = arr.buffers()[1]
    lo = np.frombuffer(buf, dtype=np.int64).reshape(-1, 2)[
        arr.offset : arr.offset + len(arr), 0]
    return np.ascontiguousarray(lo)


def _decimal_pairs(arr: pa.Array) -> np.ndarray:
    """Dense decimal128(18<p<=38) -> (n, 2) int64 (lo, hi) word pairs —
    the full 16-byte two's-complement value (tag "d128")."""
    buf = arr.buffers()[1]
    pairs = np.frombuffer(buf, dtype=np.int64).reshape(-1, 2)[
        arr.offset : arr.offset + len(arr)]
    return np.ascontiguousarray(pairs)


def _to_kernel(arr: pa.Array, tag: str):
    """Arrow array -> (dense values, validity or None), zero-copy-ish."""
    validity = None
    if arr.null_count:
        validity = np.asarray(arr.is_valid())
        arr = arr.drop_null()
    if tag == "bytes":
        return strings.from_arrow(arr), validity
    if tag in lists.LIST_TAGS:
        flat = arr.flatten()
        lens = pc.list_value_length(arr).to_numpy(zero_copy_only=False).astype(np.int64)
        offsets = np.zeros(len(arr) + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        is_bytes = lists.LIST_TAGS[tag] == "bytes"
        if flat.null_count:
            # null elements INSIDE list values: dense valid elements +
            # an element-validity bitmap (kernels/lists.py)
            ev = np.asarray(flat.is_valid())
            dense_arr = flat.drop_null()
            dense = (strings.from_arrow(dense_arr) if is_bytes
                     else dense_arr.to_numpy(zero_copy_only=False))
            return lists.ListColumn(offsets, dense, ev), validity
        vals = (strings.from_arrow(flat) if is_bytes
                else flat.to_numpy(zero_copy_only=False))
        return lists.ListColumn(offsets, vals), validity
    if pa.types.is_decimal(arr.type):
        if arr.type.precision > 18:
            return _decimal_pairs(arr), validity
        return _decimal_unscaled_i64(arr), validity
    return arr.to_numpy(zero_copy_only=False), validity


def _split_points(batch: pa.RecordBatch, columns: list[str], block_bytes: int) -> list[int]:
    """Row indices where the batch is cut so each slice stays under
    ``block_bytes`` of logical data (per-row byte weights from offsets)."""
    n = batch.num_rows
    weight = np.zeros(n, dtype=np.int64)
    for name in columns:
        arr = batch.column(batch.schema.get_field_index(name))
        t = arr.type
        if pa.types.is_string(t) or pa.types.is_binary(t) or pa.types.is_large_string(t) or pa.types.is_large_binary(t):
            weight += pc.binary_length(arr).fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64) + 4
        elif pa.types.is_list(t) or pa.types.is_large_list(t):
            vt = t.value_type
            if (pa.types.is_string(vt) or pa.types.is_large_string(vt)
                    or pa.types.is_binary(vt) or pa.types.is_large_binary(vt)):
                # exact per-row bytes from nested offsets: child byte
                # offsets sampled at each row's element range
                comb = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
                dense = comb.fill_null([])
                child = dense.flatten().cast(pa.large_binary())
                cbo = np.frombuffer(child.buffers()[1], dtype=np.int64)[
                    child.offset : child.offset + len(child) + 1]
                lens = (pc.list_value_length(dense).to_numpy(zero_copy_only=False)
                        .astype(np.int64))
                row_end = np.cumsum(lens)
                row_start = row_end - lens
                weight += (cbo[row_end] - cbo[row_start]) + lens * 4 + 8
            else:
                esz = max(vt.bit_width // 8, 1)
                weight += (pc.list_value_length(arr).fill_null(0)
                           .to_numpy(zero_copy_only=False).astype(np.int64) * esz + 8)
        elif pa.types.is_decimal(t):
            weight += 16 if t.precision > 18 else 8
        else:
            weight += max(arr.type.bit_width // 8, 1)
    cum = np.cumsum(weight)
    cuts = [0]
    while cuts[-1] < n:
        base = cum[cuts[-1] - 1] if cuts[-1] else 0
        end = int(np.searchsorted(cum, base + block_bytes, side="right"))
        cuts.append(min(max(end, cuts[-1] + 1), n))
    return cuts


def _make_encoder(columns: list[str], run_id: str, block_bytes: int,
                  outer: str | None,
                  codec_override: dict[str, str] | None = None,
                  outer_level: int | None = None,
                  prebuilt_fsst: dict[str, list[bytes]] | None = None,
                  part_rows=None):
    """Build the mapInArrow function.  Codec choices are cached per
    (partition, column) — the selector runs once per partition (north
    rule).  FSST symbol tables arrive PREBUILT from the driver
    (``prebuilt_fsst``, built once per column on a bounded sample): the
    pure-Python greedy table construction measured 77% of a task's
    encode CPU when every task rebuilt them (BENCH/BASELINE.md round 4),
    and a table built on any representative sample compresses sibling
    partitions of the same column equally well.  Columns WITHOUT a
    prebuilt table skip the fsst trial entirely (a table-less trial
    would rebuild per call); codec_override='fsst' keeps a local-build
    fallback.

    ``part_rows`` (a ``manifest.PartRows`` accumulator) receives the
    task's manifest rows at stream end: one ``manifest.PART_ROW`` per
    (partition, column) it encoded, totalled over that partition's
    blocks — the commit writes them without re-reading a block."""

    arrow_schema = blocks_arrow_schema(columns)
    cols_type = arrow_schema.field("cols").type

    def encode_stream(batches):
        choice_cache: dict[tuple[int, str], selector.CodecChoice] = {}
        fsst_tables: dict[str, list[bytes]] = dict(prebuilt_fsst or {})
        seqs: dict[int, int] = {}
        # (part_id, column) -> [n_rows, raw, enc, ms, n_blocks, codec, outer]
        totals: dict[tuple[int, str], list] = {}

        def encode_slice(part_id: int, sl: pa.RecordBatch):
            seq = seqs.get(part_id, 0)
            seqs[part_id] = seq + 1
            col_structs = []
            for name in columns:
                arr = sl.column(sl.schema.get_field_index(name))
                if isinstance(arr, pa.ChunkedArray):
                    arr = arr.combine_chunks()
                tag = tag_for_arrow_type(arr.type)
                arr = storage_cast(arr)
                t0 = time.perf_counter()
                values, validity = _to_kernel(arr, tag)
                key = (part_id, name)
                choice = choice_cache.get(key)
                if choice is None:
                    if (codec_override and name in codec_override
                            and tag not in lists.LIST_TAGS):
                        # expert knob: pin the codec, still trial the outer
                        # (list columns always use the composite list codec
                        # — overrides apply to their element stream only
                        # via the inner selector)
                        forced = codec_override[name]
                        if forced == "fsst" and name not in fsst_tables:
                            fsst_tables[name] = fsst.build_symbol_table_best(
                                values.data[: fsst._DEFAULT_SAMPLE])
                        choice = selector.CodecChoice(forced, outer or "none",
                                                      None, 1.0)
                    elif tag in lists.LIST_TAGS:
                        # the list codec runs its own selector over the
                        # flattened element stream (kernels/lists.py)
                        choice = selector.CodecChoice("list", outer or "none",
                                                      None, 1.0)
                    else:
                        table = fsst_tables.get(name)
                        choice = selector.choose(
                            values, tag, outer=outer, fsst_table=table,
                            outer_level=outer_level,
                            exclude=() if table is not None else ("fsst",))
                    choice_cache[key] = choice
                try:
                    blk = blockmod.encode_block(
                        values, tag, choice.codec, validity=validity,
                        outer=choice.outer, fsst_table=fsst_tables.get(name),
                        outer_level=outer_level,
                    )
                except (TypeError, ValueError) as e:
                    # stale per-partition choice (e.g. negatives appeared
                    # after a non-negative sample): fall back to plain
                    # for the rest of this partition's column
                    log.info("partition %d column %r: cached codec %r "
                             "rejected a later block (%s: %s); plain from "
                             "here on", part_id, name, choice.codec,
                             type(e).__name__, e)
                    choice_cache[key] = choice = selector.CodecChoice(
                        "plain", choice.outer, choice.stats, 1.0)
                    blk = blockmod.encode_block(
                        values, tag, "plain", validity=validity,
                        outer=choice.outer, outer_level=outer_level,
                    )
                dt = (time.perf_counter() - t0) * 1000
                raw = int(values.nbytes if hasattr(values, "nbytes")
                          else np.asarray(values).nbytes)
                tot = totals.get(key)
                if tot is None:
                    totals[key] = [sl.num_rows, raw, len(blk), dt, 1,
                                   choice.codec, choice.outer]
                else:
                    tot[0] += sl.num_rows
                    tot[1] += raw
                    tot[2] += len(blk)
                    tot[3] += dt
                    tot[4] += 1
                col_structs.append(pa.StructArray.from_arrays(
                    [
                        pa.array([blk], pa.large_binary()),
                        pa.array([choice.codec], pa.string()),
                        pa.array([choice.outer], pa.string()),
                        pa.array([raw], pa.int64()),
                        pa.array([len(blk)], pa.int64()),
                        pa.array([dt], pa.float64()),
                        pa.array([_column_stats(values, tag, validity)],
                                 _STATS_ARROW),
                    ],
                    fields=list(cols_type.field(0).type),
                ))
            # one WIDE row per block group: parquet's own columnar layout
            # then stores each column's blocks as its own column chunk
            cols_arr = pa.StructArray.from_arrays(
                col_structs, fields=list(cols_type))
            return pa.RecordBatch.from_arrays(
                [
                    pa.array([part_id], pa.int64()),
                    pa.array([run_id], pa.string()),
                    pa.array([seq], pa.int32()),
                    pa.array([sl.num_rows], pa.int64()),
                    cols_arr,
                ],
                schema=arrow_schema,
            )

        for batch in batches:
            part_ids = batch.column(batch.schema.get_field_index(PART_COL)).to_numpy(
                zero_copy_only=False)
            # rows arrive sorted by part id (sortWithinPartitions), so
            # each partition is a contiguous segment of the stream
            bounds = np.nonzero(np.diff(part_ids))[0] + 1
            seg_starts = np.concatenate(([0], bounds, [len(part_ids)]))
            for a, b in zip(seg_starts[:-1], seg_starts[1:]):
                if a == b:
                    continue
                seg = batch.slice(int(a), int(b - a))
                pid = int(part_ids[a])
                for lo, hi in zip(*(lambda c: (c[:-1], c[1:]))(
                        _split_points(seg, columns, block_bytes))):
                    yield encode_slice(pid, seg.slice(lo, hi - lo))
        if part_rows is not None and totals:
            part_rows.add([(pid, name, *t) for (pid, name), t in totals.items()])

    return encode_stream


# below this size of the input's byte columns the driver-side FSST
# table prebuild is skipped outright (fsst drops out of the selector
# trials): building the tables costs ~0.4 s of pure-Python CPU per byte
# column, which dwarfs the entire encode of a few-MB table, while the
# few % of ratio fsst can win over plain+zstd is noise at that size.
# codec_override='fsst' columns always get a table regardless.
_FSST_PREBUILD_MIN_BYTES = 64 << 20


def _prebuild_fsst_tables(df_sel, columns: list[str],
                          codec_override: dict[str, str] | None,
                          size: tuple[dict, pa.Table] | None) -> dict:
    """Build FSST symbol tables ONCE on the driver from the encode's one
    input sample and ship them in the encoder closure — instead of once
    per task, where the pure-Python greedy construction measured 77% of
    encode CPU (profile in BENCH/BASELINE.md round 4).  ``size`` is the
    ``partitioner.input_size`` that set n_parts; None (explicit n_parts,
    resume, streaming) sizes the byte columns here, counting rows only
    up to the gate.  One gate: byte columns holding fewer than
    ``_FSST_PREBUILD_MIN_BYTES`` get tables only when pinned with
    ``codec_override='fsst'``.  Per byte column the selector's own
    candidate gate (avg_len / entropy) decides whether fsst is even
    plausible, and only then is a table built, from values taken in
    turn from each sampled file slice.  Columns with no table here have
    fsst excluded from executor-side trials.  The codec CHOICE stays
    per-partition — only the symbol table is shared, which the per-task
    cache already assumed was safe across partitions of one column
    (same distribution)."""
    override = codec_override or {}
    byte_cols = [f.name for f in df_sel.schema.fields
                 if f.name in set(columns)
                 and isinstance(f.dataType, (T.StringType, T.BinaryType))]
    # a column pinned to another codec: a table is dead weight
    wanted = [c for c in byte_cols if override.get(c, "fsst") == "fsst"]
    if not wanted:
        return {}
    col_bytes, sample = size or input_size(df_sel, byte_cols,
                                           _FSST_PREBUILD_MIN_BYTES)
    if sum(col_bytes[c] for c in byte_cols) < _FSST_PREBUILD_MIN_BYTES:
        wanted = [c for c in wanted if c in override]
    jobs: dict[str, bytes] = {}
    for c in wanted:
        col = sample.column(c).drop_null()
        # values in turn from each sampled slice (file), up to fsst's
        # sample size, so no one file fills the table's sample
        turn = np.argsort(np.concatenate(
            [np.arange(len(ch)) for ch in col.chunks] or [[]]), kind="stable")
        vals = col.take(turn).combine_chunks()
        cum = np.cumsum(pc.binary_length(vals).to_numpy())
        sc = strings.from_arrow(vals.slice(
            0, int(np.searchsorted(cum, fsst._DEFAULT_SAMPLE)) + 1))
        if not len(sc) or (c not in override and "fsst" not in
                           selector.candidate_codecs(selector.compute_stats(
                               sc, "bytes"), "bytes")):
            continue
        jobs[c] = bytes(sc.data[: fsst._DEFAULT_SAMPLE])
    if not jobs:
        return {}
    if len(jobs) == 1:
        c, blob = next(iter(jobs.items()))
        return {c: fsst.build_symbol_table_best(blob)}
    # each table is a pure function of its sample blob: build them in
    # parallel worker processes instead of serially on the driver
    # (measured ~2 s serial for 5 columns = a quarter of the whole
    # encode wall at sf0.1); fork-safe — children touch only numpy
    import multiprocessing as mp

    import os as osmod

    names = list(jobs.keys())
    try:
        with mp.Pool(min(len(names), osmod.cpu_count() or 2)) as pool:
            tables = pool.map(fsst.build_symbol_table_best,
                              [jobs[c] for c in names])
    except OSError:  # fork unavailable: fall back to serial
        tables = [fsst.build_symbol_table_best(jobs[c]) for c in names]
    return {c: t for c, t in zip(names, tables) if t}


def encode_table(
    df,
    out_path: str,
    manifest_path: str,
    columns: list[str] | None = None,
    key_cols: tuple[str, ...] = DEFAULT_KEY_COLS,
    target_partition_bytes: int = DEFAULT_TARGET_PARTITION_BYTES,
    block_bytes: int = DEFAULT_BLOCK_BYTES,
    outer: str | None = "zstd",
    resume: bool = True,
    n_parts: int | None = None,
    run_id: str | None = None,
    codec_override: dict[str, str] | None = None,
    outer_level: int | None = None,
    sort_cols: tuple[str, ...] | None = None,
    zorder_cols: tuple[str, ...] | None = None,
) -> EncodeResult:
    """Encode ``columns`` of ``df`` into a blocks dataset + manifest.

    Resumable: partitions already present in the manifest are dropped
    before the shuffle — a filter when the driver reads a local
    manifest, else a broadcast left-anti join (the reference's ``skip``
    analog — local_file_reader.rs:126-171 hops whole row groups from
    footer arithmetic alone; we hop whole partitions from the manifest
    alone).

    ``outer_level`` overrides the outer compressor's level (None ->
    DEFAULT_OUTER_LEVEL = zstd 3; decode speed is unchanged and the
    level is not part of the block format).

    ``sort_cols`` clusters each partition by the given columns instead
    of the key columns: blocks then carry narrow zone-map ranges on a
    hot filter column, so range/point predicates prune most blocks
    JVM-side before any payload byte moves (Z-order-lite; see
    partitioner.with_partition_id).

    ``zorder_cols`` clusters MULTI-dimensionally instead: rows sort by
    an interleaved-bit Z-value over the named numeric columns
    (partitioner.zorder_column), so blocks get narrow zone ranges on
    ALL of them and a range predicate on ANY zorder column prunes —
    plain sort_cols only serves its leading column.  Mutually
    exclusive with sort_cols; numeric columns only.
    """
    t_start = time.time()
    spark = df.sparkSession
    columns = list(columns or df.columns)
    run_id = run_id or uuid.uuid4().hex[:12]
    if outer_level is None:
        outer_level = DEFAULT_OUTER_LEVEL
    if any(nest.SEP in c for c in list(columns) + list(key_cols)):
        raise ValueError(r"column names may not contain \x1f (reserved for"
                         " struct-leaf flattening)")
    reserved = {PART_COL, SHUF_COL} & set(list(columns) + list(key_cols))
    if reserved:
        raise ValueError(f"column names {sorted(reserved)} are reserved for "
                         "the partitioner (engine/partitioner.py)")
    if manifestmod.run_exists(spark, manifest_path, run_id):
        # idempotent replay (streaming epoch retried after a successful
        # commit): the data is already fully manifested — do nothing
        return EncodeResult(out_path, manifest_path, run_id, 0, 0, 0, 0,
                            time.time() - t_start)

    n_done = 0
    if resume:
        n_done, drop_done = manifestmod.completed_partitions(
            spark, manifest_path, PART_COL)
        if n_done and n_parts is None:
            # partition assignment must be the pure function of the data
            # it was on the first run: reuse the recorded partition count
            n_parts = int(manifestmod.table_meta(spark, manifest_path)["n_parts"])

    # struct columns flatten to \x1f-joined leaf columns (one select,
    # JVM-side) and reassemble at decode — engine/nest.py; the manifest
    # records BOTH the flat storage schema and the logical schema
    logical_schema = df.select(*columns).schema
    # Spark's parquet writer expands ${...} in field names through the
    # Hadoop conf, and its SQL parser does inside backticks: such a name
    # would store under another one and read back as NULLs
    subst = sorted({leaf.replace(nest.SEP, ".") for f in logical_schema.fields
                    for leaf in nest.leaf_names(f.name, f.dataType, f.nullable)
                    if "${" in leaf} | {k for k in key_cols if "${" in k})
    if subst:
        raise ValueError(f"column names may not contain '${{': {subst}")
    storage_schema_json = logical_schema.json()
    logical_schema_json = None
    df_sel = df.select(*dict.fromkeys(list(key_cols) + columns))
    if nest.has_struct(logical_schema):
        for k in key_cols:
            if isinstance(df_sel.schema[k].dataType, T.StructType):
                raise TypeError(f"struct column {k!r} cannot be a key column")
        flat_exprs, flat_schema = nest.flatten_exprs(logical_schema)
        extra_keys = [k for k in key_cols if k not in columns]
        df_sel = df_sel.select(*([F.col(k) for k in extra_keys] + flat_exprs))
        columns = [f.name for f in flat_schema.fields]
        storage_schema_json = flat_schema.json()
        logical_schema_json = logical_schema.json()

    # the one input sizing: n_parts from its total, and the FSST gate and
    # tables from the same sample
    size = None
    if n_parts is None:
        size = input_size(df_sel, columns)
        n_parts = num_partitions(sum(size[0].values()), target_partition_bytes,
                                 min_parts=spark.sparkContext.defaultParallelism)

    if zorder_cols:
        if sort_cols:
            raise ValueError("sort_cols and zorder_cols are mutually "
                             "exclusive — pick one clustering")
        for c in zorder_cols:
            t = df_sel.schema[c].dataType
            if not isinstance(t, T.NumericType):
                raise TypeError(f"zorder_cols are numeric-only; {c} is "
                                f"{t.simpleString()} (use sort_cols)")
        sort_cols = (zorder_column(df_sel, tuple(zorder_cols)),)
    keyed = assign_partition_id(df_sel, key_cols, n_parts)
    if n_done:
        # drop the manifest's completed partitions BEFORE the shuffle, so
        # finished partitions' bytes never enter the exchange
        keyed = drop_done(keyed)
    keyed = cluster_partitions(keyed, n_parts, key_cols, sort_cols)
    n_planned = n_parts - n_done

    # no partitions to encode (idempotent resume replay): skip the
    # sizing + driver-side table builds outright
    prebuilt_fsst = (_prebuild_fsst_tables(df_sel, columns, codec_override,
                                           size)
                     if n_planned > 0 else {})
    # fresh per call: the tasks' manifest rows for THIS run only
    part_rows = spark.sparkContext.accumulator([], manifestmod.PartRows())
    blocks = keyed.mapInArrow(
        trimmed(_make_encoder(columns, run_id, block_bytes, outer,
                              codec_override, outer_level, prebuilt_fsst,
                              part_rows)),
        blocks_spark_schema(columns),
    )
    try:
        # payloads are self-compressed; parquet recompression would waste CPU
        blocks.write.mode("append").option("compression", "none").parquet(
            out_path)
        # manifest commit AFTER the blocks write: orphan blocks from
        # crashed runs are invisible because decode joins blocks ⨝ manifest.
        # The write is a result stage, so Spark merged each task's rows
        # exactly once per partition before it returned.
        stats = manifestmod.commit(
            spark, manifest_path, part_rows.value, run_id=run_id,
            columns=columns, key_cols=key_cols, n_parts=n_parts,
            schema_json=storage_schema_json,
            logical_schema_json=logical_schema_json,
        )
    finally:
        # PySpark's driver registry keeps every accumulator for the
        # session's life: drop this run's rows once they are committed
        part_rows.value = []
    return EncodeResult(
        out_path=out_path, manifest_path=manifest_path, run_id=run_id,
        n_partitions=n_parts, n_planned=n_planned,
        total_raw_bytes=stats["raw_bytes"], total_enc_bytes=stats["enc_bytes"],
        wall_sec=time.time() - t_start,
    )
