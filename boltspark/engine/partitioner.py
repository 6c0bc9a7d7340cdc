"""Deterministic salted partitioning for skewed corpora.

The reference is single-threaded — parallelism is the caller's job
(SURVEY.md §3.1); here the caller is Spark and this module decides the
partition key.  Giant repos (Zipf skew) are defused by hashing the full
``(repo, path, commit)`` triple, which scatters any one repo's files
uniformly across all partitions — the salting the north rule asks for.
The assignment is a pure function of the data (xxhash64 of the key
columns mod P), so resume lineage is stable across runs.
"""

from __future__ import annotations

import logging
import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, functions as F

from .manifest import _local_file

log = logging.getLogger(__name__)

PART_COL = "__bsk_part"
SHUF_COL = "__bsk_shuf"
DEFAULT_TARGET_PARTITION_BYTES = 64 << 20
# preimage tables up to this size ride as a literal array expression;
# larger tables (100 TB-scale part counts) go through a broadcast join
_PREIMAGE_LITERAL_MAX = 65536


# rows of an encode's one input sample: it sizes the input and feeds the
# FSST table builds (encode._prebuild_fsst_tables)
SAMPLE_ROWS = 4096


def estimate_bytes_fast(df: DataFrame, columns: list[str]) -> int:
    """Estimated logical bytes of ``columns`` of ``df`` (input_size)."""
    return sum(input_size(df, columns)[0].values())


def input_size(df: DataFrame, columns: list[str],
               limit_bytes: int | None = None) -> tuple[dict, pa.Table]:
    """The one input sizer of an encode, from one row count and one
    sample without a full scan: (estimated logical bytes per column of
    ``columns`` — value bytes of a string/binary, Arrow bytes of any
    other type — and the sample, an Arrow table of ``columns`` whose
    chunks are its read slices).  At 100 TB a full pre-scan would
    double the job's IO; a +-20% estimate shifts partition sizes by the
    same factor, which the 64 MB target tolerates.

    On a plain local parquet scan (``_scan_files``) the driver reads
    both with pyarrow: the first rows of up to 8 evenly spaced files
    (so a time-ordered corpus with drifting row sizes does not bias the
    sample the way a head-of-scan ``limit`` would) and the row count
    from the footers — no Spark job.  Otherwise the sample is
    ``df.limit``, a short one being the whole input, and ``df.count()``
    counts the rows.  With ``limit_bytes`` the count stops once the
    columns reach it (the estimate is then a lower bound past it).  An
    unreadable footer or slice logs one warning and sizes through
    Spark."""
    paths = _scan_files(df, columns)
    if paths:
        try:
            size = _size_files(paths, columns, limit_bytes)
            if size:
                return size
        except (OSError, KeyError, ValueError, pa.ArrowException) as e:
            log.warning("input file footer or slice unreadable (%s: %s); "
                        "sizing through Spark", type(e).__name__, e)
    sample = df.select(*columns).limit(SAMPLE_ROWS).toArrow()
    n, need = sample.num_rows, _rows_needed(sample, limit_bytes)
    if n == SAMPLE_ROWS and need > n:
        # a limit past int32 counts them all
        n = df.count() if need >= 1 << 31 else df.limit(need).count()
    return _scaled(sample, n), sample


def _size_files(paths: list[str], columns: list[str],
                limit_bytes: int | None) -> tuple[dict, pa.Table] | None:
    """``input_size`` of a plain local parquet scan: the first rows of up
    to 8 evenly spaced ``paths`` (one chunk per file, ``SAMPLE_ROWS`` in
    all), then the footers' row counts; None when the sampled files hold
    no rows (Spark then sizes it: one job for an empty input)."""
    picks = paths[:: max(1, len(paths) // 8)][:8]
    per_file = max(64, SAMPLE_ROWS // len(picks))
    batches = []
    for p in picks:
        with pq.ParquetFile(p) as pf:
            b = next(pf.iter_batches(batch_size=per_file, columns=columns),
                     None)
        if b is not None:
            batches.append(b.select(columns))
    if not batches:
        return None
    sample = pa.Table.from_batches(batches)
    need, n = _rows_needed(sample, limit_bytes), 0
    for p in paths:
        if n >= need:
            break
        n += pq.read_metadata(p).num_rows
    return _scaled(sample, n), sample


def _scaled(sample: pa.Table, n: int) -> dict[str, int]:
    """Logical bytes of each ``sample`` column scaled to ``n`` rows:
    value bytes of a string/binary, Arrow bytes of any other type."""
    out = {}
    for c in sample.column_names:
        col = sample.column(c)
        if col.type in (pa.string(), pa.binary(), pa.large_string(),
                        pa.large_binary()):
            b = pc.sum(pc.binary_length(col)).as_py() or 0
        else:
            b = col.nbytes
        out[c] = n * b // max(sample.num_rows, 1)
    return out


def _rows_needed(sample: pa.Table, limit_bytes: int | None):
    """Rows past which a count may stop: where rows like ``sample``'s
    reach ``limit_bytes`` (inf: count them all; 0: rows weigh
    nothing)."""
    total = sum(_scaled(sample, sample.num_rows).values())
    if not total:
        return 0
    if limit_bytes is None:
        return math.inf
    return limit_bytes * sample.num_rows // total + 1


def _scan_files(df: DataFrame, columns: list[str]) -> list[str] | None:
    """The sorted local paths of ``df``'s input files when ``df`` is a
    plain local parquet scan of ``columns``, else None: every input
    file is local parquet (``manifest._local_file``) and the optimized
    plan is only projections of attributes over one parquet relation
    whose files hold ``columns`` — no filter, limit, union or computed
    column, so the files' rows are ``df``'s rows.  A listing or plan
    Spark cannot give is logged."""
    try:
        files = list(df.inputFiles())
    except (Py4JError, PySparkException) as e:
        log.warning("input files of the encode source not listable (%s: %s);"
                    " sizing through Spark", type(e).__name__, e)
        return None
    paths = [_local_file(f, df.sparkSession) for f in files
             if f.endswith(".parquet")]
    if not paths or len(paths) < len(files) or None in paths:
        return None
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        while plan.nodeName() == "Project":
            exprs = plan.projectList()
            if any(exprs.apply(i).getClass().getSimpleName()
                   != "AttributeReference" for i in range(exprs.size())):
                return None
            plan = plan.child()
        if (plan.nodeName() != "LogicalRelation"
                or plan.relation().fileFormat().toString() != "Parquet"):
            return None
        names = set(plan.relation().dataSchema().fieldNames())
    except (Py4JError, PySparkException, AttributeError) as e:
        log.warning("encode source plan unreadable (%s: %s); sizing "
                    "through Spark", type(e).__name__, e)
        return None
    return sorted(paths) if names.issuperset(columns) else None


def num_partitions(total_bytes: int, target_bytes: int, min_parts: int = 1) -> int:
    return max(min_parts, -(-total_bytes // max(target_bytes, 1)))


def _murmur3_long(v) -> np.ndarray:
    """Spark's Murmur3Hash (seed 42) over int64 values, vectorized —
    bit-exact with ``F.hash(longCol)`` (pinned in tests/test_partitioner
    against Spark itself).  Used to precompute shuffle-bucket preimages
    so the encode shuffle maps partitions to reduce tasks 1:1."""
    x = np.asarray(v, dtype=np.int64).astype(np.uint64)
    low = (x & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    high = (x >> np.uint64(32)).astype(np.uint32)

    def mix_k1(k1):
        k1 = k1 * np.uint32(0xCC9E2D51)
        k1 = (k1 << np.uint32(15)) | (k1 >> np.uint32(17))
        return k1 * np.uint32(0x1B873593)

    def mix_h1(h1, k1):
        h1 = h1 ^ k1
        h1 = (h1 << np.uint32(13)) | (h1 >> np.uint32(19))
        return h1 * np.uint32(5) + np.uint32(0xE6546B64)

    h1 = mix_h1(np.full_like(low, 42, dtype=np.uint32), mix_k1(low))
    h1 = mix_h1(h1, mix_k1(high))
    h1 = h1 ^ np.uint32(8)
    h1 = h1 ^ (h1 >> np.uint32(16))
    h1 = h1 * np.uint32(0x85EBCA6B)
    h1 = h1 ^ (h1 >> np.uint32(13))
    h1 = h1 * np.uint32(0xC2B2AE35)
    h1 = h1 ^ (h1 >> np.uint32(16))
    return h1.view(np.int32).astype(np.int64)


# candidates scanned per partition before shuffle_preimages gives up
_PREIMAGE_SCAN_FACTOR = 64


def shuffle_preimages(n_parts: int) -> np.ndarray:
    """preimages[p] = smallest k >= 0 with pmod(murmur3(k), P) == p.

    ``repartition(P, col)`` places rows by ``pmod(murmur3(col), P)``;
    hashing the partition id itself throws 61 balls into 61 bins —
    ~37% of reduce tasks sit idle while the unlucky ones encode 2-4
    partitions (the straggler tail recorded in OPTIMIZATION_r06.md §1).
    Shuffling on ``preimages[part_id]`` instead makes the placement a
    bijection: every partition gets its own reduce task, deterministic
    and independent of the data.  Pure driver-side numpy, O(P) work.

    Bounded: the scan stops after ``_PREIMAGE_SCAN_FACTOR * P``
    candidates (a uniform hash misses a residue there with probability
    ~P·e^-64).  Any residue still unhit gets an unused key past the
    scanned range and one warning is logged — placement-only, so the
    encode stays correct and only that partition's load balance
    degrades."""
    out = np.full(n_parts, -1, dtype=np.int64)
    need = n_parts
    start = 0
    limit = _PREIMAGE_SCAN_FACTOR * max(n_parts, 16)
    chunk = int(min(max(64 * n_parts, 1024), 1 << 24))
    while need > 0 and start < limit:
        cand = np.arange(start, start + chunk, dtype=np.int64)
        b = np.mod(_murmur3_long(cand), n_parts)
        uniq, idx = np.unique(b, return_index=True)
        mask = out[uniq] < 0
        out[uniq[mask]] = cand[idx[mask]]
        need -= int(mask.sum())
        start += chunk
    if need > 0:
        missing = np.nonzero(out < 0)[0]
        out[missing] = start + np.arange(len(missing), dtype=np.int64)
        log.warning("shuffle_preimages: %d of %d partitions have no Murmur3 "
                    "preimage in the first %d keys; they shuffle on unused "
                    "keys and may share a reduce task", len(missing),
                    n_parts, start)
    return out


def assign_partition_id(df: DataFrame, key_cols: tuple[str, ...],
                        n_parts: int) -> DataFrame:
    """Attach the deterministic salted partition id (NO shuffle).

    ``pmod(xxhash64(key), P)`` both salts giant repos across partitions
    and keeps the id reproducible for checkpoint/resume — this
    assignment is the on-disk contract and never changes."""
    return df.withColumn(
        PART_COL, F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_parts))
    )


def cluster_partitions(keyed: DataFrame, n_parts: int,
                       key_cols: tuple[str, ...],
                       sort_cols: tuple[str, ...] | None = None) -> DataFrame:
    """Co-locate each partition's rows in exactly one reduce task and
    order them for the codecs.

    The shuffle key is ``preimages[part_id]`` (see shuffle_preimages):
    partition -> reduce task is a bijection, so no task encodes two
    partitions while a neighbor sits empty (with plain
    ``repartition(P, part)`` ~37% of tasks are empty and the stragglers
    carry 2-4 partitions — guide §2.5's synthetic-key collision trap).
    ``sortWithinPartitions`` lengthens runs for the RLE/dict codecs at
    no extra shuffle (the physical analog of the reference's
    ``is_sorted`` dictionary flag).

    ``sort_cols`` overrides the within-partition order (CLUSTERING): a
    partition sorted by a hot filter column gives every block a narrow
    [vmin, vmax] on it, so zone maps prune most blocks for range/point
    predicates — the Z-order-lite lever for read-heavy tables.  The
    point-query row order (row_range) follows the same columns.
    """
    pre = shuffle_preimages(n_parts)
    if n_parts <= _PREIMAGE_LITERAL_MAX:
        # array<bigint> cast matters: hash(int) and hash(bigint) are
        # different Murmur3 paths, and the preimages assume hashLong
        shuf = F.element_at(F.lit([int(x) for x in pre]).cast("array<long>"),
                            F.col(PART_COL).cast("int") + 1)
        keyed = keyed.withColumn(SHUF_COL, shuf)
    else:
        # 100 TB-scale part counts: the table is too big for a plan
        # literal — ship it as a broadcast-joined mapping instead.
        # Built via Arrow (near zero-copy), never one Python tuple per
        # partition through Py4J.
        import pandas as pd

        spark = keyed.sparkSession
        map_df = spark.createDataFrame(pd.DataFrame(
            {PART_COL: np.arange(n_parts, dtype=np.int64), SHUF_COL: pre}))
        keyed = keyed.join(F.broadcast(map_df), PART_COL, "inner")
    # sort by partition id FIRST so each partition is one contiguous
    # segment of its task's Arrow stream, then by sort/key columns
    # (entries may be Column expressions — the Z-order path passes one)
    order = list(sort_cols) if sort_cols else list(key_cols)
    order = [F.col(c) if isinstance(c, str) else c for c in order]
    return keyed.repartition(n_parts, F.col(SHUF_COL)).sortWithinPartitions(
        PART_COL, *order
    ).drop(SHUF_COL)


def with_partition_id(df: DataFrame, key_cols: tuple[str, ...], n_parts: int,
                      sort_cols: tuple[str, ...] | None = None) -> DataFrame:
    """assign_partition_id + cluster_partitions (kept as the one-call
    surface; encode_table calls the two halves so the resume anti-join
    can drop completed partitions BEFORE their bytes enter the shuffle).
    """
    return cluster_partitions(assign_partition_id(df, key_cols, n_parts),
                              n_parts, key_cols, sort_cols)


def zorder_column(df: DataFrame, cols: tuple[str, ...], bits: int = 8):
    """Interleaved-bit Z-value over numeric columns — the multi-
    dimensional clustering lever.  Each column maps to a 2^bits bucket
    id by min/max scaling (ONE tiny agg job for all bounds), and the
    bucket bits interleave (column c's bit j lands at position
    j*n_cols + c's slot), so sorting by the result clusters EVERY
    dimension at once: blocks get narrow zone ranges on ALL the zorder
    columns and a range predicate on ANY of them prunes — where plain
    ``sort_cols`` clustering prunes only its leading column.

    Pure JVM expression (shift/and/sum over the scaled buckets): no
    Python, no extra shuffle, evaluated only for the within-partition
    sort.  Uniform binning: heavy value skew compresses the effective
    bucket count on that dimension (quantile-edge binning is the
    upgrade path); NULLs bucket to 0 and cluster together.  Resume-
    safe: the bounds are a pure function of the input data."""
    if not cols:
        raise ValueError("zorder needs at least one column")
    if bits * len(cols) > 63:
        raise ValueError(f"bits={bits} x {len(cols)} columns exceeds int64")
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"__mn_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"__mx_{c}")]
    bounds = df.agg(*aggs).first()
    n = len(cols)
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        mn, mx = bounds[f"__mn_{c}"], bounds[f"__mx_{c}"]
        if mn is None or mx is None or mx == mn:
            continue  # constant / all-null dimension carries no bits
        scaled = (F.col(c).cast("double") - float(mn)) \
            / (float(mx) - float(mn)) * top
        bucket = F.coalesce(
            F.least(F.lit(top).cast("long"),
                    F.greatest(F.lit(0).cast("long"),
                               F.floor(scaled).cast("long"))),
            F.lit(0).cast("long"))
        for b in range(bits):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * n + (n - 1 - ci))
    return z
