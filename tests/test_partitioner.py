"""Shuffle-placement optimizations (round 6): the encode shuffle maps
partitions to reduce tasks 1:1 via Murmur3 preimages, so no task
encodes several partitions while a neighbor sits empty.

Correctness does NOT depend on the murmur implementation matching
Spark's (any part->shuf function keeps a partition's rows together);
the 1:1 placement does — so the parity test pins it against Spark
itself.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from boltspark.engine.partitioner import (
    PART_COL, _murmur3_long, shuffle_preimages, with_partition_id)


def test_murmur3_long_matches_spark(spark):
    vals = (list(range(256)) + [-1, -61, 2**40 + 7, -(2**40) - 13,
                                2**62, -(2**62), 2**63 - 1, -(2**63)])
    df = spark.createDataFrame([(int(v),) for v in vals], "x long")
    got = [r["h"] for r in df.select(F.hash("x").alias("h")).collect()]
    exp = _murmur3_long(np.array(vals, dtype=np.int64)).tolist()
    assert got == exp


@pytest.mark.parametrize("n_parts", [1, 8, 61, 1000])
def test_shuffle_preimages_are_a_bijection(spark, n_parts):
    pre = shuffle_preimages(n_parts)
    assert len(pre) == n_parts and (pre >= 0).all()
    # Spark itself must place preimage p into reduce bucket p
    df = spark.createDataFrame(
        [(int(p), int(k)) for p, k in enumerate(pre)], "p long, k long")
    rows = df.select(
        "p", F.expr(f"pmod(hash(k), {n_parts})").alias("bucket")).collect()
    assert all(r["p"] == r["bucket"] for r in rows)


def test_with_partition_id_one_partition_per_task(spark):
    n_parts = 16
    df = spark.range(4000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    keyed = with_partition_id(df, ("k",), n_parts)
    placed = (keyed.withColumn("task", F.spark_partition_id())
              .select(PART_COL, "task").distinct().collect())
    # bijection: every part in its own task, every task used once
    by_task: dict[int, set] = {}
    for r in placed:
        by_task.setdefault(r["task"], set()).add(r[PART_COL])
    assert len(by_task) == n_parts
    assert all(len(parts) == 1 for parts in by_task.values())
    # the partition id itself is the frozen on-disk contract
    expect = df.select(
        F.pmod(F.xxhash64("k"), F.lit(n_parts)).alias("p"), "k").collect()
    got = {r["k"]: r[PART_COL]
           for r in keyed.select("k", PART_COL).collect()}
    assert all(got[r["k"]] == r["p"] for r in expect)


def test_manifest_driver_reads_tolerate_glob_metacharacters(spark, tmp_path):
    """[, ], * are valid filename characters.  Spark's file source
    glob-interprets READ paths (Hadoop semantics) so such table paths
    were never fully readable — but the round-6 driver-side fast paths
    (_exists / run_exists / table_meta via pyarrow+listdir) must not
    make it worse by glob-matching to nothing (review fix: a False
    run_exists re-encodes a committed streaming epoch).  Create the
    manifest at a plain path, rename the directory, and pin the
    driver-side answers."""
    import shutil

    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.engine import manifest as manifestmod

    plain = tmp_path / "plain"
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    res = encode_table(df, str(plain / "blocks"), str(plain / "manifest"),
                       key_cols=("k",), n_parts=4, resume=False)
    weird = tmp_path / "t[1] x*"
    shutil.move(str(plain), str(weird))
    man = str(weird / "manifest")
    assert manifestmod._exists(spark, man)
    assert manifestmod.run_exists(spark, man, res.run_id)
    assert not manifestmod.run_exists(spark, man, "nope")
    assert manifestmod.table_meta(spark, man)["columns"] == ["k", "v"]


def test_shuffle_preimages_bounded_when_a_residue_is_never_hit(
        monkeypatch, caplog):
    """A hash that never lands in one residue must not spin forever:
    the scan stops at its bound, the residue gets an unused key, and
    one warning says so."""
    import logging

    from boltspark.engine import partitioner

    n_parts = 8
    real = partitioner._murmur3_long

    def skewed(v):
        h = real(v)
        return np.where(np.mod(h, n_parts) == 5, h + 1, h)

    monkeypatch.setattr(partitioner, "_murmur3_long", skewed)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=partitioner.__name__):
        pre = partitioner.shuffle_preimages(n_parts)
    assert len(pre) == n_parts and (pre >= 0).all()
    assert len(set(pre.tolist())) == n_parts
    hit = np.mod(skewed(pre), n_parts)
    assert sorted(int(p) for p in np.nonzero(hit == np.arange(n_parts))[0]) \
        == [0, 1, 2, 3, 4, 6, 7]
    records = [r for r in caplog.records if r.name == partitioner.__name__]
    assert len(records) == 1 and records[0].levelno == logging.WARNING


def _jobs(spark, fn):
    """(result of fn, number of Spark jobs fn ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "sizing job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_input_size_counts_footers_then_stops_at_the_limit(spark, tmp_path):
    """A plain local parquet scan sizes from its files on the driver (no
    Spark job): the slices of 3 files of 1,000 rows are the whole input,
    so the estimate is exact, and a limit stops the footer count once
    the rows reach it.  Any other plan sizes through Spark: a sample
    shorter than requested is the whole input (exact UTF-8 bytes, no
    count), and a longer input's count stops at the limit."""
    from boltspark.engine.partitioner import SAMPLE_ROWS, input_size

    mem = spark.range(3000, numPartitions=3).select(
        F.concat(F.lit("é-row-"), F.col("id").cast("string")).alias("s"))
    mem.write.parquet(str(tmp_path / "src"))
    files = spark.read.parquet(str(tmp_path / "src"))
    utf8 = sum(len(r["s"].encode("utf-8")) for r in mem.collect())
    for df, jobs in ((files, 0), (mem, 1)):
        (sized, sample), n_jobs = _jobs(spark, lambda: input_size(df, ["s"]))
        assert sized == {"s": utf8} and sample.num_rows == 3000
        assert n_jobs == jobs
    # footers stop after the file that reaches the limit: 2 of 3
    (sized, _), n_jobs = _jobs(spark,
                               lambda: input_size(files, ["s"], 20_000))
    assert n_jobs == 0 and sized["s"] == utf8 * 2 // 3
    big = spark.range(3 * SAMPLE_ROWS).select(
        F.lpad(F.col("id").cast("string"), 10, "0").alias("s"))
    assert input_size(big, ["s"])[0] == {"s": 30 * SAMPLE_ROWS}
    # a limit past the sample: the Spark count stops at 50_001 bytes
    assert input_size(big, ["s"], 50_000)[0] == {"s": 50_010}


def _fixed_rows(spark, n):
    """k: int64 (8 bytes a row), s: 20-byte strings."""
    return spark.range(n, numPartitions=4).select(
        F.col("id").alias("k"),
        F.lpad(F.col("id").cast("string"), 20, "0").alias("s"))


@pytest.mark.parametrize("n_parts", [None, 4])
def test_local_parquet_encode_takes_three_jobs(spark, tmp_path, n_parts):
    """A plain local parquet encode sizes its input on the driver: the
    write (shuffle stage + result) and the commit are its only jobs,
    with n_parts sized from the input (12,000 rows x 28 bytes over a
    25 KB target) or given."""
    from boltspark.engine import decode_table, encode_table

    _fixed_rows(spark, 12_000).write.parquet(str(tmp_path / "src"))
    df = spark.read.parquet(str(tmp_path / "src"))
    d = str(tmp_path)
    res, n_jobs = _jobs(spark, lambda: encode_table(
        df, f"{d}/b", f"{d}/m", key_cols=("k",), resume=False,
        n_parts=n_parts, target_partition_bytes=25_000))
    assert n_jobs <= 3
    assert res.n_partitions == (n_parts or 14)
    assert decode_table(spark, f"{d}/b", f"{d}/m").count() == 12_000


def test_non_plain_inputs_size_through_spark(spark, tmp_path):
    """A filtered parquet frame (its footers count rows the filter
    drops) and a ``spark.range`` frame (no files) size through Spark:
    their n_parts is the count-based figure, 6,000 rows x 28 bytes over
    a 25 KB target, where the footers would give 14."""
    from boltspark.engine import encode_table

    _fixed_rows(spark, 12_000).write.parquet(str(tmp_path / "src"))
    files = spark.read.parquet(str(tmp_path / "src"))
    d = str(tmp_path)
    for i, df in enumerate((files.filter(F.col("k") % 2 == 0),
                            _fixed_rows(spark, 6_000))):
        assert df.count() == 6_000
        res, n_jobs = _jobs(spark, lambda: encode_table(
            df, f"{d}/b{i}", f"{d}/m{i}", key_cols=("k",), resume=False,
            target_partition_bytes=25_000))
        assert res.n_partitions == 7 and n_jobs > 3
