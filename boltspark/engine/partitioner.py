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

import numpy as np
from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, functions as F

log = logging.getLogger(__name__)

PART_COL = "__bsk_part"
SHUF_COL = "__bsk_shuf"
DEFAULT_TARGET_PARTITION_BYTES = 64 << 20
# preimage tables up to this size ride as a literal array expression;
# larger tables (100 TB-scale part counts) go through a broadcast join
_PREIMAGE_LITERAL_MAX = 65536


def estimate_bytes_fast(df: DataFrame, columns: list[str],
                        sample_rows: int = 4096) -> int:
    """Partition-sizing estimate without a full scan: exact row count
    (metadata-only for parquet sources) x mean row bytes from a bounded
    sample.  At 100 TB a full pre-scan just to size partitions would
    double the job's IO; a +-20% estimate only shifts partition sizes by
    the same factor, which the 64 MB target tolerates.

    The sample is spread over up to 8 evenly spaced input files (first
    row-group slice of each, read via the parquet footer on the driver)
    so time-ordered corpora with drifting row sizes don't bias the
    estimate the way a head-of-table ``limit()`` would.  Non-parquet
    inputs fall back to the prefix sample.
    """
    n = df.count()
    if n == 0:
        return 0
    per_row = _per_row_bytes_from_files(
        _local_parquet_files(_input_files(df)), columns, sample_rows)
    if per_row is None:
        sample = df.limit(sample_rows)
        per_row = estimate_bytes(sample, columns) / min(n, sample_rows)
    return int(n * per_row)


def bytes_below(df: DataFrame, columns: list[str], limit_bytes: int,
                head: list, head_rows: int) -> bool:
    """Whether the string/binary ``columns`` of ``df`` hold fewer than
    ``limit_bytes`` bytes, decided without a full count — the size gate
    of encodes that run no ``estimate_bytes_fast`` (explicit n_parts,
    resume, streaming).  ``head`` is the caller's ``limit(head_rows)``
    sample of ``columns``; a shorter one is the whole input.  Otherwise
    mean row bytes come from the evenly spaced file slices
    ``estimate_bytes_fast`` reads (the head when ``df`` is not a parquet
    scan), and rows are counted only until they reach the limit: from
    the input files' footers on the driver for a local parquet scan (an
    upper bound when ``df`` filters rows), else by a ``limit`` count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    head_bytes = sum(len(v.encode("utf-8")) if isinstance(v, str) else len(v)
                     for r in head for v in r if v is not None)
    if len(head) < head_rows:
        return head_bytes < limit_bytes
    files = _input_files(df)
    paths = _local_parquet_files(files)
    per_row = _per_row_bytes_from_files(paths, columns, head_rows)
    if per_row is None:
        per_row = head_bytes / len(head)
    if per_row <= 0:
        return True
    need = int(limit_bytes // per_row) + 1
    if paths and len(paths) == len(files):
        rows = 0
        try:
            for p in paths:
                rows += pq.ParquetFile(p).metadata.num_rows
                if rows >= need:
                    return False
            return True
        except (OSError, pa.ArrowException) as e:
            log.warning("input footer unreadable (%s: %s); counting rows "
                        "through Spark", type(e).__name__, e)
    return df.limit(need).count() < need


def _input_files(df: DataFrame) -> list[str]:
    """``df.inputFiles()``, or [] when Spark cannot list them (logged:
    the caller then sizes from a sample and counts through Spark)."""
    try:
        return list(df.inputFiles())
    except (Py4JError, PySparkException) as e:
        log.warning("input files of the encode source not listable (%s: %s);"
                    " sizing without them", type(e).__name__, e)
        return []


def _local_parquet_files(files: list[str]) -> list[str]:
    """The local parquet files among ``files`` (``df.inputFiles()``),
    sorted, as plain paths."""
    paths = []
    for f in sorted(f for f in files if f.endswith(".parquet")):
        if f.startswith("file:"):
            paths.append("/" + f.split(":", 1)[1].lstrip("/"))
        elif "://" not in f:
            paths.append(f)
    return paths


def _per_row_bytes_from_files(paths: list[str], columns: list[str],
                              sample_rows: int) -> float | None:
    """Mean logical row bytes from bounded slices of evenly spaced local
    parquet input ``paths``; None when there are none, or they lack
    ``columns`` or cannot be read (logged)."""
    if not paths:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    picks = paths[:: max(1, len(paths) // 8)][:8]
    rows = 0
    nbytes = 0
    per_file = max(64, sample_rows // len(picks))
    try:
        for p in picks:
            pf = pq.ParquetFile(p)
            cols = [c for c in pf.schema_arrow.names if c in columns]
            if not cols:
                return None
            batch = next(pf.iter_batches(batch_size=per_file, columns=cols), None)
            if batch is None:
                continue
            rows += batch.num_rows
            nbytes += sum(a.nbytes for a in batch.columns)
    except (OSError, pa.ArrowException) as e:
        log.warning("input file sample unreadable (%s: %s); sizing from "
                    "the head sample", type(e).__name__, e)
        return None
    if not rows:
        return None
    return nbytes / rows


def estimate_bytes(df: DataFrame, columns: list[str]) -> int:
    """Logical byte size of the selected columns (strings: octet length;
    fixed types: type width)."""
    exprs = []
    for field in df.schema.fields:
        if field.name not in columns:
            continue
        t = field.dataType.typeName()
        if t in ("string", "binary"):
            exprs.append(F.sum(F.coalesce(F.octet_length(F.col(field.name)), F.lit(0))))
        elif t in ("long", "double", "timestamp"):
            exprs.append(F.count(F.col(field.name)) * 8)
        elif t in ("integer", "float", "date"):
            exprs.append(F.count(F.col(field.name)) * 4)
        elif t == "boolean":
            exprs.append(F.count(F.col(field.name)) * 1)
        else:
            exprs.append(F.count(F.col(field.name)) * 8)
    row = df.select(sum(exprs[1:], exprs[0]).alias("b")).collect()[0]
    return int(row["b"] or 0)


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
