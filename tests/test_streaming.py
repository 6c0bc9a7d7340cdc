"""Structured-Streaming incremental encode: micro-batches append runs,
decode sees the union, epoch replays are idempotent."""

from __future__ import annotations

import time

import pytest

from pyspark.sql import functions as F

from boltspark.engine import decode_table, encode_table
from boltspark.streaming import encode_stream


def _mk_batch(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .select(
            F.concat(F.lit("org/repo"), (F.col("id") % 5).cast("string")).alias("repo"),
            F.concat(F.lit("src/f"), F.col("id").cast("string")).alias("path"),
            F.sha1(F.col("id").cast("string")).alias("commit"),
            F.lit("py").alias("lang"),
            F.concat(F.lit("def f():\n    return "), F.col("id").cast("string")).alias("content"),
        )
    )


def test_stream_encode_microbatches(spark, tmp_path):
    src_dir = str(tmp_path / "incoming")
    out, man, ckpt = (str(tmp_path / d) for d in ("blocks", "manifest", "ckpt"))

    _mk_batch(spark, 0, 300).write.mode("append").parquet(src_dir)
    stream = spark.readStream.schema(
        "repo string, path string, commit string, lang string, content string"
    ).parquet(src_dir)
    q = encode_stream(stream, out, man, ckpt, n_parts=8,
                      target_partition_bytes=1 << 20)
    try:
        q.processAllAvailable()
        _mk_batch(spark, 300, 500).write.mode("append").parquet(src_dir)
        q.processAllAvailable()
    finally:
        q.stop()

    decoded = decode_table(spark, out, man)
    assert decoded.count() == 500
    orig = _mk_batch(spark, 0, 500).select(F.sha2("content", 256).alias("h"))
    back = decoded.select(F.sha2("content", 256).alias("h"))
    assert orig.exceptAll(back).count() + back.exceptAll(orig).count() == 0


def test_epoch_replay_is_idempotent(spark, tmp_path):
    out, man = str(tmp_path / "blocks"), str(tmp_path / "manifest")
    df = _mk_batch(spark, 0, 200)
    r1 = encode_table(df, out, man, n_parts=4, resume=False,
                      run_id="stream-000000000007")
    assert r1.total_raw_bytes > 0
    # the same epoch retried after a successful commit: no-op
    r2 = encode_table(df, out, man, n_parts=4, resume=False,
                      run_id="stream-000000000007")
    assert r2.total_raw_bytes == 0
    assert decode_table(spark, out, man).count() == 200


def test_compact_blocks_merges_runs(spark, tmp_path):
    """Compaction folds many appended runs into ONE without re-encoding:
    decode is multiset-identical, the manifest shrinks to one run, and
    the file count drops (the streaming small-file fix)."""
    import glob

    from pyspark.sql import functions as F

    from boltspark import corpus
    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.compact import compact_blocks

    d = str(tmp_path)
    corpus.write_parquet(f"{d}/c.parquet", 1500)
    df = spark.read.parquet(f"{d}/c.parquet").withColumn(
        "__b", F.abs(F.xxhash64("path")) % 3)
    for epoch in range(3):
        encode_table(df.filter(F.col("__b") == epoch).drop("__b"),
                     f"{d}/b", f"{d}/m", n_parts=8, resume=False,
                     run_id=f"stream-{epoch:06d}")
    before = decode_table(spark, f"{d}/b", f"{d}/m")
    n_files_before = len(glob.glob(f"{d}/b/*.parquet"))

    res = compact_blocks(spark, f"{d}/b", f"{d}/m", f"{d}/b2", f"{d}/m2")
    after = decode_table(spark, f"{d}/b2", f"{d}/m2")
    assert after.count() == before.count() == 1500
    a = before.select(F.sha2("content", 256).alias("h")).groupBy("h").count()
    b = after.select(F.sha2("content", 256).alias("h")).groupBy("h").count()
    assert a.exceptAll(b).count() + b.exceptAll(a).count() == 0
    runs = spark.read.parquet(f"{d}/b2").select("run_id").distinct().collect()
    assert [r["run_id"] for r in runs] == [res["run_id"]]
    n_files_after = len(glob.glob(f"{d}/b2/*.parquet"))
    assert n_files_after < n_files_before


def test_streaming_dedup_first_occurrence_only(spark, tmp_path):
    """applyInPandasWithState dedup: a document's fingerprint seen in an
    earlier micro-batch suppresses later copies; within one batch,
    duplicates collapse to one row."""
    from boltspark.streaming.dedup_stream import dedup_stream

    src = str(tmp_path / "docs_in")
    ckpt = str(tmp_path / "ckpt")

    def batch(rows):
        spark.createDataFrame(rows, "doc_id long, text string").write.mode(
            "append").parquet(src)

    # batch 1: A, B, and an in-batch duplicate of A (reflowed whitespace)
    batch([(1, "alpha doc body"), (2, "beta doc body"), (3, "alpha   doc body")])
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (dedup_stream(stream).writeStream.format("memory")
         .queryName("dedup_out").outputMode("update")
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        # batch 2: duplicate of A and B again + new C
        batch([(4, "alpha doc body"), (5, "gamma doc body"), (6, "beta doc body")])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["doc_id"]: r["text"] for r in spark.sql(
        "select * from dedup_out").collect()}
    assert set(rows) == {1, 2, 5}, rows  # 3/4/6 are dups; 5 is new


def test_compact_preserves_evolved_columns(spark, tmp_path):
    """Compacting a dataset whose later runs added columns must carry
    the UNION schema (older groups keep null leaves)."""
    from pyspark.sql import functions as F

    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.compact import compact_blocks

    d = str(tmp_path)
    df1 = spark.range(80).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
        F.lit("c").alias("commit"), F.lit("b").alias("content"))
    encode_table(df1, f"{d}/b", f"{d}/m", n_parts=4, resume=False, run_id="r1")
    df2 = spark.range(80, 120).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
        F.lit("c").alias("commit"), F.lit("b").alias("content"),
        (F.col("id") % 3).alias("extra"))
    encode_table(df2, f"{d}/b", f"{d}/m", n_parts=4, resume=False, run_id="r2")

    compact_blocks(spark, f"{d}/b", f"{d}/m", f"{d}/b2", f"{d}/m2")
    before = decode_table(spark, f"{d}/b", f"{d}/m").select("path", "extra")
    after = decode_table(spark, f"{d}/b2", f"{d}/m2").select("path", "extra")
    assert after.columns == ["path", "extra"]
    assert before.exceptAll(after).count() + after.exceptAll(before).count() == 0


def test_decode_stream_follows_manifest(spark, tmp_path):
    """streaming/stream_decode.py: new runs decode incrementally as
    their manifest commit appears; output is partitioned by run and
    multiset-equal to the source across epochs."""
    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.streaming.stream_decode import decode_stream

    d = str(tmp_path)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text")
    half = F.col("doc_id") % 2
    encode_table(docs.filter(half == 0), f"{d}/b", f"{d}/m",
                 key_cols=("doc_id",), n_parts=4, resume=False, run_id="e0")

    q = decode_stream(spark, f"{d}/b", f"{d}/m", f"{d}/out", f"{d}/ckpt")
    try:
        q.processAllAvailable()
        got1 = spark.read.parquet(f"{d}/out")
        assert got1.count() == docs.filter(half == 0).count()
        # second epoch appears -> decoded incrementally
        encode_table(docs.filter(half == 1), f"{d}/b", f"{d}/m",
                     key_cols=("doc_id",), n_parts=4, resume=False, run_id="e1")
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(f"{d}/out")
    assert set(r["run_id"] for r in got.select("run_id").distinct().collect()) \
        == {"e0", "e1"}
    a = docs.select("doc_id", F.sha2(F.coalesce("text", F.lit("")), 256).alias("h"))
    b = got.select("doc_id", F.sha2(F.coalesce("text", F.lit("")), 256).alias("h"))
    assert a.exceptAll(b).count() + b.exceptAll(a).count() == 0


def test_sum_stream_incremental_and_valid_pair_guard(spark, tmp_path):
    """streaming/agg_stream.py: per-run compressed-domain SUM partials
    accumulate as commits appear; the read-side fold joins the
    manifest's valid pairs, so stale sink directories (no committed
    manifest rows) never contribute to the total."""
    import shutil

    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.streaming.agg_stream import read_sum, sum_stream

    d = str(tmp_path)
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity")
    half = F.col("l_orderkey") % 2
    encode_table(li.filter(half == 0), f"{d}/b", f"{d}/m",
                 key_cols=("l_orderkey", "l_linenumber"), n_parts=4,
                 resume=False, run_id="e0")

    q = sum_stream(spark, f"{d}/b", f"{d}/m", "l_quantity",
                   f"{d}/out", f"{d}/ckpt")
    try:
        q.processAllAvailable()
        got = read_sum(spark, f"{d}/out", f"{d}/m", "l_quantity").collect()[0]
        exp = li.filter(half == 0).agg(F.sum("l_quantity")).collect()[0][0]
        assert got["sum_value"] == pytest.approx(float(exp), rel=1e-12)
        # second run appears -> total includes it without rescanning e0
        encode_table(li.filter(half == 1), f"{d}/b", f"{d}/m",
                     key_cols=("l_orderkey", "l_linenumber"), n_parts=4,
                     resume=False, run_id="e1")
        q.processAllAvailable()
        got2 = read_sum(spark, f"{d}/out", f"{d}/m", "l_quantity").collect()[0]
        exp2 = li.agg(F.sum("l_quantity")).collect()[0][0]
        assert got2["sum_value"] == pytest.approx(float(exp2), rel=1e-12)
        assert got2["n_rows"] == li.count()
        # a stale sink dir with no manifest commit must NOT count:
        # clone e1's partials under a fabricated run id
        shutil.copytree(f"{d}/out/run_id=e1", f"{d}/out/run_id=ghost")
        got3 = read_sum(spark, f"{d}/out", f"{d}/m", "l_quantity").collect()[0]
        assert got3["sum_value"] == pytest.approx(float(exp2), rel=1e-12)
        assert got3["n_rows"] == li.count()
    finally:
        q.stop()


def test_value_counts_stream_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.streaming.agg_stream import (read_value_counts,
                                                value_counts_stream)

    d = str(tmp_path)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "lang")
    half = F.col("doc_id") % 2
    encode_table(docs.filter(half == 0), f"{d}/b", f"{d}/m",
                 key_cols=("doc_id",), n_parts=4, resume=False, run_id="e0")
    q = value_counts_stream(spark, f"{d}/b", f"{d}/m", "lang",
                            f"{d}/out", f"{d}/ckpt")
    try:
        q.processAllAvailable()
        encode_table(docs.filter(half == 1), f"{d}/b", f"{d}/m",
                     key_cols=("doc_id",), n_parts=4, resume=False,
                     run_id="e1")
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["value"]: r["cnt"] for r in
           read_value_counts(spark, f"{d}/out", f"{d}/m").collect()}
    exp = {r["value"]: r["cnt"] for r in
           docs.groupBy(F.col("lang").alias("value"))
           .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert got == exp


def test_distinct_stream_matches_batch(spark, tmp_path):
    """Incremental HLL partials fold to the SAME estimate as the batch
    operator on the full table (register merge is commutative and the
    hashes are fixed), and the second epoch never rescans run e0."""
    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.engine.agg import column_distinct_approx
    from boltspark.streaming.agg_stream import distinct_stream, read_distinct

    d = str(tmp_path)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source")
    half = F.col("doc_id") % 2
    encode_table(docs.filter(half == 0), f"{d}/b", f"{d}/m",
                 key_cols=("doc_id",), n_parts=4, resume=False, run_id="e0")
    q = distinct_stream(spark, f"{d}/b", f"{d}/m", "source",
                        f"{d}/out", f"{d}/ckpt")
    try:
        q.processAllAvailable()
        encode_table(docs.filter(half == 1), f"{d}/b", f"{d}/m",
                     key_cols=("doc_id",), n_parts=4, resume=False,
                     run_id="e1")
        q.processAllAvailable()
    finally:
        q.stop()
    got = read_distinct(spark, f"{d}/out", f"{d}/m", "source").collect()[0]
    batch = column_distinct_approx(spark, f"{d}/b", f"{d}/m",
                                   "source").collect()[0]
    assert got["approx_distinct"] == batch["approx_distinct"]
    assert got["n_rows"] == batch["n_rows"] == docs.count()
    exact = docs.select(F.countDistinct("source")).collect()[0][0]
    assert abs(got["approx_distinct"] - exact) <= max(3, 0.03 * exact)


def test_quantile_stream_matches_batch(spark, tmp_path):
    """Incremental summary partials fold to percentiles within the same
    rank bound as the batch operator on the full table; second epoch
    never rescans run e0."""
    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.streaming.agg_stream import quantile_stream, read_quantiles

    d = str(tmp_path)
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_extendedprice")
    half = F.col("l_orderkey") % 2
    encode_table(li.filter(half == 0), f"{d}/b", f"{d}/m",
                 key_cols=("l_orderkey", "l_linenumber"), n_parts=4,
                 resume=False, run_id="e0")
    q = quantile_stream(spark, f"{d}/b", f"{d}/m", "l_extendedprice",
                        f"{d}/out", f"{d}/ckpt")
    try:
        q.processAllAvailable()
        encode_table(li.filter(half == 1), f"{d}/b", f"{d}/m",
                     key_cols=("l_orderkey", "l_linenumber"), n_parts=4,
                     resume=False, run_id="e1")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = read_quantiles(spark, f"{d}/out", f"{d}/m", "l_extendedprice",
                          probs=(0.25, 0.5, 0.9)).collect()
    n = li.count()
    assert all(r["n_rows"] == n for r in rows)
    for r in rows:
        lo = li.filter(F.col("l_extendedprice") < r["value"]).count() / n
        hi = li.filter(F.col("l_extendedprice") <= r["value"]).count() / n
        assert lo <= r["p"] + 0.01 and hi >= r["p"] - 0.01, (r["p"], lo, hi)


def test_sum_stream_decimal_exact(spark, tmp_path):
    """Decimal columns on the streaming SUM path (round-4 refusal
    lifted): per-run unscaled decimal(38,0) partials fold digit-exact —
    read_sum equals batch column_sum to the last digit after each
    commit."""
    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.engine.agg import column_sum
    from boltspark.streaming.agg_stream import read_sum, sum_stream

    d = str(tmp_path)
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_linenumber",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price"))
    half = F.col("l_orderkey") % 2
    encode_table(li.filter(half == 0), f"{d}/b", f"{d}/m",
                 key_cols=("l_orderkey", "l_linenumber"), n_parts=4,
                 resume=False, run_id="e0")
    q = sum_stream(spark, f"{d}/b", f"{d}/m", "price",
                   f"{d}/out", f"{d}/ckpt")
    try:
        q.processAllAvailable()
        got = read_sum(spark, f"{d}/out", f"{d}/m", "price").collect()[0]
        exp = li.filter(half == 0).agg(F.sum("price")).collect()[0][0]
        assert str(got["sum_value"]) == str(exp)  # digit-exact, no float
        encode_table(li.filter(half == 1), f"{d}/b", f"{d}/m",
                     key_cols=("l_orderkey", "l_linenumber"), n_parts=4,
                     resume=False, run_id="e1")
        q.processAllAvailable()
        got2 = read_sum(spark, f"{d}/out", f"{d}/m", "price").collect()[0]
        batch = column_sum(spark, f"{d}/b", f"{d}/m", "price").collect()[0]
        assert str(got2["sum_value"]) == str(batch["sum_value"])
        assert got2["n_rows"] == batch["n_rows"] == li.count()
    finally:
        q.stop()


def test_grouped_sum_stream_matches_batch(spark, tmp_path):
    """Incremental grouped-sum partials fold to the SAME (value,
    sum_value, cnt) rows as batch grouped_sum on the full table —
    including the NULL-group row and float sums — and decimal value
    columns are refused loudly."""
    import pytest
    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.streaming.agg_stream import (grouped_sum_stream,
                                                read_grouped_sum)

    d = str(tmp_path)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select(
        "doc_id",
        F.when(F.col("doc_id") % 31 != 0, F.col("lang")).alias("lang"),
        "n_chars")
    half = F.col("doc_id") % 2
    encode_table(docs.filter(half == 0), f"{d}/b", f"{d}/m",
                 key_cols=("doc_id",), n_parts=4, resume=False, run_id="e0")
    q = grouped_sum_stream(spark, f"{d}/b", f"{d}/m", "lang", "n_chars",
                           f"{d}/out", f"{d}/ckpt")
    try:
        q.processAllAvailable()
        encode_table(docs.filter(half == 1), f"{d}/b", f"{d}/m",
                     key_cols=("doc_id",), n_parts=4, resume=False,
                     run_id="e1")
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["value"]: (r["sum_value"], r["cnt"]) for r in
           read_grouped_sum(spark, f"{d}/out", f"{d}/m").collect()}
    exp = {r["value"]: (float(r["s"]) if r["s"] is not None else None,
                        r["cnt"]) for r in
           docs.groupBy(F.col("lang").alias("value"))
           .agg(F.sum("n_chars").alias("s"),
                F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(got) == set(exp)
    for k, (es, ec) in exp.items():
        gs, gc = got[k]
        assert gc == ec, k
        assert gs == es or abs(gs - es) < 1e-9, k

    with pytest.raises(NotImplementedError, match="decimal"):
        docs_dec = docs.withColumn(
            "decv", F.col("n_chars").cast("decimal(12,2)"))
        d2 = f"{d}/dec"
        encode_table(docs_dec, f"{d2}/b", f"{d2}/m", key_cols=("doc_id",),
                     n_parts=2, resume=False, run_id="e0")
        grouped_sum_stream(spark, f"{d2}/b", f"{d2}/m", "lang", "decv",
                           f"{d2}/out", f"{d2}/ckpt")


def test_distinct_stream_starts_before_its_predicate_column(spark, tmp_path):
    """A streaming aggregate can start on a manifest with no committed
    run yet, with a predicate on a column only a later run brings: the
    predicate resolves per epoch against the manifest as committed
    then, and the folded estimate equals the batch operator's."""
    from boltspark.engine.agg import column_distinct_approx
    from boltspark.engine.filters import RangePredicate
    from boltspark.streaming.agg_stream import distinct_stream, read_distinct

    d = str(tmp_path)
    (tmp_path / "m").mkdir()
    pred = RangePredicate(column="w", lower=100)
    q = distinct_stream(spark, f"{d}/b", f"{d}/m", "v", f"{d}/out",
                        f"{d}/ckpt", predicate=pred)
    try:
        q.processAllAvailable()
        df = spark.range(400).select(F.col("id").alias("k"),
                                     (F.col("id") % 37).alias("v"),
                                     F.col("id").alias("w"))
        encode_table(df, f"{d}/b", f"{d}/m", key_cols=("k",), n_parts=2,
                     resume=False, run_id="e0")
        q.processAllAvailable()
    finally:
        q.stop()
    got = read_distinct(spark, f"{d}/out", f"{d}/m", "v").collect()[0]
    batch = column_distinct_approx(spark, f"{d}/b", f"{d}/m", "v",
                                   predicate=pred).collect()[0]
    assert got["approx_distinct"] == batch["approx_distinct"] == 37
    assert got["n_rows"] == batch["n_rows"] == 300
