"""Iceberg-lite table layout: snapshots, appends, time travel, and the
encode path reading straight from a table snapshot."""

from __future__ import annotations

from pyspark.sql import functions as F

from boltspark import corpus
from boltspark.engine import decode_table, encode_table
from boltspark.sources import iceberg_lite as il


def test_write_read_append_timetravel(spark, tmp_path):
    table = str(tmp_path / "tbl")
    df1 = spark.range(0, 100).withColumn("v", F.col("id") * 2)
    il.write_table(df1, table)
    assert il.read_table(spark, table).count() == 100

    df2 = spark.range(100, 150).withColumn("v", F.col("id") * 2)
    meta = il.write_table(df2, table, mode="append")
    assert il.read_table(spark, table).count() == 150
    assert len(meta["snapshots"]) == 2

    # time travel to the first snapshot
    first = il.snapshots(table)[0]["snapshot-id"]
    assert il.read_table(spark, table, snapshot_id=first).count() == 100

    # overwrite starts a fresh lineage for current
    df3 = spark.range(0, 10).withColumn("v", F.col("id"))
    il.write_table(df3, table, mode="overwrite")
    assert il.read_table(spark, table).count() == 10

    import pytest

    with pytest.raises(KeyError):
        il.read_table(spark, table, snapshot_id=999999)


def test_encode_from_iceberg_snapshot(spark, tmp_path):
    table = str(tmp_path / "corpus_tbl")
    pdf = corpus.generate(1200)
    df = spark.createDataFrame(pdf.to_pandas())
    il.write_table(df, table)

    src = il.read_table(spark, table)
    out = str(tmp_path / "blocks")
    man = str(tmp_path / "manifest")
    encode_table(src, out, man, target_partition_bytes=1 << 20)
    decoded = decode_table(spark, out, man)
    orig = df.select(F.sha2("content", 256).alias("h")).groupBy("h").count()
    back = decoded.select(F.sha2("content", 256).alias("h")).groupBy("h").count()
    assert orig.exceptAll(back).count() + back.exceptAll(orig).count() == 0


def test_scan_reader_cli_parity(spark):
    """The reference's reader_cli surface: projection, filter, batch
    iteration, skip/point query (examples/reader_cli.rs:32-143)."""
    import pytest
    from pyspark.sql import functions as F

    from boltspark.engine.filters import RangePredicate
    from boltspark.sources.scan import scan, scan_batches

    f = "/root/testdata/sf0.001/lineitem.parquet"
    assert scan(spark, f, columns=["l_orderkey", "l_quantity"]).columns == [
        "l_orderkey", "l_quantity"]
    flt = scan(spark, f, columns=["l_quantity"],
               filters=[RangePredicate(column="l_quantity", lower=10, upper=20)])
    expect = spark.read.parquet(f).filter(
        (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20)
        & F.col("l_quantity").isNotNull()).count()
    assert flt.count() == expect
    # point query: skip into the tail, bounded read; skip past EOF reads 0
    n_rows = spark.read.parquet(f).count()
    assert scan(spark, f, columns=["l_orderkey"], skip=n_rows - 7, limit=50).count() == 7
    assert scan(spark, f, columns=["l_orderkey"], skip=n_rows + 1, limit=5).count() == 0
    # streaming batches cover every row exactly once
    total = sum(b.num_rows for b in scan_batches(spark, f, ["l_orderkey"],
                                                 batch_size=1000))
    assert total == n_rows
    with pytest.raises(KeyError):
        scan(spark, f, columns=["nope"])


def test_scan_multi_file_follows_argument_order(spark, tmp_path):
    """-p/-s point queries must follow the GIVEN file order, not Spark's
    split packing (reader_cli.rs reads files in argument order)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from boltspark.sources.scan import scan

    fa, fb = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"v": list(range(0, 50))}), fa)
    pq.write_table(pa.table({"v": list(range(100, 180))}), fb)
    # b first: global row order must be b's rows then a's
    got = [r["v"] for r in scan(spark, [fb, fa], skip=75, limit=10).collect()]
    assert got == list(range(175, 180)) + list(range(0, 5))


def test_boltspark_datasource_reads_blocks(spark, tmp_path):
    """spark.read.format('boltspark') — the Python DSv2 surface over the
    blocks format: schema from the manifest, exact filter pushdown into
    engine predicates, column projection via option."""
    from pyspark.sql import functions as F

    from boltspark import corpus
    from boltspark.engine import encode_table
    from boltspark.sources import datasource as ds

    d = str(tmp_path)
    corpus.write_parquet(f"{d}/c.parquet", 1200, with_nullable=True)
    df = spark.read.parquet(f"{d}/c.parquet")
    encode_table(df, f"{d}/b", f"{d}/m", target_partition_bytes=1 << 20)

    r = ds.load(spark, f"{d}/b", f"{d}/m")
    assert r.count() == 1200
    a = df.select(F.sha2("content", 256).alias("h")).groupBy("h").count()
    b = r.select(F.sha2("content", 256).alias("h")).groupBy("h").count()
    assert a.exceptAll(b).count() + b.exceptAll(a).count() == 0

    # pushed filters are enforced exactly (fresh relation per query shape)
    cond = (F.col("repo").startswith("org3/")) & (F.col("stars") >= 20_000)
    flt = ds.load(spark, f"{d}/b", f"{d}/m").filter(cond).select("repo", "stars")
    ref = df.filter(cond).select("repo", "stars")
    assert flt.count() == ref.count()
    assert flt.exceptAll(ref).count() + ref.exceptAll(flt).count() == 0

    # projection option
    pr = ds.load(spark, f"{d}/b", f"{d}/m", columns=["lang", "stars"])
    assert pr.columns == ["lang", "stars"] and pr.count() == 1200

    # SQL over the registered relation
    ds.load(spark, f"{d}/b", f"{d}/m").createOrReplaceTempView("bsk_blocks")
    top = spark.sql(
        "SELECT lang, COUNT(*) n FROM bsk_blocks GROUP BY lang ORDER BY n DESC, lang"
    ).first()
    assert top["n"] > 0


def test_datasource_load_registers_on_every_call(spark, tmp_path,
                                                monkeypatch):
    """``load`` registers the source each call: registering it again in
    the same session is a no-op, and a failing registration raises."""
    import pytest

    from boltspark.sources import datasource as ds

    d = str(tmp_path)
    encode_table(spark.range(50).select(F.col("id").alias("k")),
                 f"{d}/b", f"{d}/m", key_cols=("k",), n_parts=2,
                 resume=False)
    assert ds.load(spark, f"{d}/b", f"{d}/m").count() == 50
    assert ds.load(spark, f"{d}/b", f"{d}/m").count() == 50

    def refuse(self, source):
        raise RuntimeError("register failed")

    monkeypatch.setattr(type(spark.dataSource), "register", refuse)
    with pytest.raises(RuntimeError, match="register failed"):
        ds.load(spark, f"{d}/b", f"{d}/m")


def test_datasource_lists_blocks_at_uri_and_glob_paths(spark, tmp_path):
    """The reader lists a blocks directory as files, not as a glob: a
    path holding glob metacharacters and the same path as a ``file:``
    URI both find every blocks file and read every row."""
    import os
    import shutil

    from boltspark.sources import datasource as ds

    plain = tmp_path / "plain"
    encode_table(spark.range(60).select(F.col("id").alias("k")),
                 str(plain / "b"), str(plain / "m"), key_cols=("k",),
                 n_parts=2, resume=False)
    weird = tmp_path / "t[1]"
    shutil.move(str(plain), str(weird))
    b, m = str(weird / "b"), str(weird / "m")
    files = sorted(os.path.join(b, n) for n in os.listdir(b)
                   if n.endswith(".parquet"))
    for path in (b, "file://" + b):
        parts = ds.BoltReader(path, m, None).partitions()
        assert [p.value for p in parts] == files
        assert ds.load(spark, path, m).count() == 60


def test_boltspark_datasource_schema_evolution(spark, tmp_path):
    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.sources import datasource as ds

    d = str(tmp_path)
    df1 = spark.range(60).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
        F.lit("c").alias("commit"), F.lit("body").alias("content"))
    encode_table(df1, f"{d}/b", f"{d}/m", n_parts=3, resume=False, run_id="r1")
    df2 = spark.range(60, 90).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
        F.lit("c").alias("commit"), F.lit("body").alias("content"),
        (F.col("id") % 5).alias("extra"))
    encode_table(df2, f"{d}/b", f"{d}/m", n_parts=3, resume=False, run_id="r2")

    r = ds.load(spark, f"{d}/b", f"{d}/m")
    assert "extra" in r.columns
    assert r.count() == 90
    assert r.filter(F.col("extra").isNull()).count() == 60
    # pushed range on the evolved column skips pre-evolution files wholesale
    sel = ds.load(spark, f"{d}/b", f"{d}/m").filter(F.col("extra") >= 3)
    assert sel.count() == sum(1 for i in range(60, 90) if i % 5 >= 3)


def test_boltspark_datasource_filter_on_compacted_evolved(spark, tmp_path):
    """ADVICE r2 (medium): after compaction, one file mixes groups from
    runs that predate an evolved column (null struct leaves) with groups
    that have it.  A pushed filter on the evolved column must treat the
    null leaves as all-null — mirroring engine decode_row — instead of
    crashing on None stats."""
    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.engine.compact import compact_blocks
    from boltspark.sources import datasource as ds

    d = str(tmp_path)
    df1 = spark.range(60).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
        F.lit("c").alias("commit"), F.lit("body").alias("content"))
    encode_table(df1, f"{d}/b", f"{d}/m", n_parts=3, resume=False, run_id="r1")
    df2 = spark.range(60, 90).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
        F.lit("c").alias("commit"), F.lit("body").alias("content"),
        (F.col("id") % 5).alias("extra"))
    encode_table(df2, f"{d}/b", f"{d}/m", n_parts=3, resume=False, run_id="r2")
    compact_blocks(spark, f"{d}/b", f"{d}/m", f"{d}/b2", f"{d}/m2")

    sel = ds.load(spark, f"{d}/b2", f"{d}/m2").filter(F.col("extra") >= 3)
    assert sel.count() == sum(1 for i in range(60, 90) if i % 5 >= 3)
    # string equality on the evolved-at-r2 path: same null-leaf rule for
    # byte predicates
    df3 = spark.range(90, 100).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
        F.lit("c").alias("commit"), F.lit("body").alias("content"),
        (F.col("id") % 5).alias("extra"),
        F.lit("tagged").alias("label"))
    encode_table(df3, f"{d}/b2", f"{d}/m2", n_parts=3, resume=False, run_id="r3")
    lbl = ds.load(spark, f"{d}/b2", f"{d}/m2").filter(F.col("label") == "tagged")
    assert lbl.count() == 10


def test_boltspark_datasource_struct_columns(spark, tmp_path):
    """DSv2 exposes the LOGICAL schema for struct tables: leaves decode
    and reassemble into struct values (null structs preserved), and a
    pushed filter on a struct leaf resolves to the flat leaf name."""
    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.sources import datasource as ds

    df = spark.range(150).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("b-"), F.col("id")).alias("content"),
        F.when(F.col("id") % 6 != 0, F.struct(
            (F.col("id") % 11).cast("int").alias("w"),
            F.concat(F.lit("t"), F.col("id") % 3).alias("tag"),
        )).alias("m"),
    )
    d = str(tmp_path)
    encode_table(df, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=3,
                 resume=False)
    r = ds.load(spark, f"{d}/b", f"{d}/m")
    assert (r.schema["m"].dataType.simpleString()
            == df.schema["m"].dataType.simpleString())
    assert r.count() == 150
    assert df.exceptAll(r).count() + r.exceptAll(df).count() == 0
    assert (r.filter(F.col("m").isNull()).count()
            == df.filter(F.col("m").isNull()).count())
    # pushed filter on a struct leaf (attribute tuple -> dotted path)
    sel = ds.load(spark, f"{d}/b", f"{d}/m").filter(F.col("m.w") >= 7)
    assert sel.count() == df.filter(F.col("m.w") >= 7).count()
    # projection of just the struct
    pr = ds.load(spark, f"{d}/b", f"{d}/m", columns=["doc_id", "m"])
    assert pr.columns == ["doc_id", "m"] and pr.count() == 150


def test_boltspark_datasource_map_columns(spark, tmp_path):
    """DSv2 reassembles map columns from their #keys/#vals list leaves
    (round-3 gap: the source refused maps while engine.decode_table read
    them).  Null map vs empty map preserved; pushed filters compose."""
    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.sources import datasource as ds

    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 7 == 0, F.lit(None).cast("map<string,bigint>"))
        .when(F.col("id") % 7 == 1, F.expr("map()").cast("map<string,bigint>"))
        .otherwise(F.create_map(
            F.lit("a"), F.col("id"),
            F.lit("b"), F.col("id") * 2,
        )).alias("props"),
    )
    d = str(tmp_path)
    encode_table(df, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=3,
                 resume=False)
    r = ds.load(spark, f"{d}/b", f"{d}/m")
    assert (r.schema["props"].dataType.simpleString()
            == df.schema["props"].dataType.simpleString())
    assert r.count() == 300
    # compare exploded (maps aren't order-comparable via exceptAll)
    def flat(x):
        return (x.select("doc_id",
                         F.explode_outer("props").alias("k", "v"))
                .orderBy("doc_id", "k").collect())
    assert flat(r) == flat(df)
    assert (r.filter(F.col("props").isNull()).count()
            == df.filter(F.col("props").isNull()).count())
    # null map != empty map
    assert (r.filter(F.size("props") == 0).count()
            == df.filter(F.size("props") == 0).count())
    # a pushed filter alongside the map reassembly
    sel = ds.load(spark, f"{d}/b", f"{d}/m").filter(F.col("doc_id") < 50)
    assert sel.count() == 50


def test_boltspark_datasource_list_of_struct(spark, tmp_path):
    """DSv2 reassembles list<struct> columns from their parallel list
    leaves (offsets + per-field values + #edef element validity)."""
    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.sources import datasource as ds

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 9 == 0, F.lit(None))
        .when(F.col("id") % 9 == 1, F.array().cast(
            "array<struct<start:int,end:int>>"))
        .otherwise(F.transform(
            F.sequence(F.lit(0), F.col("id") % 4),
            lambda i: F.when(i % 5 != 2, F.struct(
                (F.col("id") + i).cast("int").alias("start"),
                (F.col("id") + i * 2).cast("int").alias("end"),
            )))).alias("spans"),
    )
    d = str(tmp_path)
    encode_table(df, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=3,
                 resume=False)
    r = ds.load(spark, f"{d}/b", f"{d}/m")
    assert (r.schema["spans"].dataType.simpleString()
            == df.schema["spans"].dataType.simpleString())
    a = {x["doc_id"]: x["spans"] for x in df.collect()}
    b = {x["doc_id"]: x["spans"] for x in r.collect()}
    assert a == b


def test_boltspark_datasource_list_of_list(spark, tmp_path):
    """DSv2 rebuilds list<list<T>> from the (#llen, #lflat) leaves —
    null/empty outer and inner lists preserved."""
    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.sources import datasource as ds

    df = spark.range(150).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 6 == 0, F.lit(None))
        .when(F.col("id") % 6 == 1, F.array().cast("array<array<string>>"))
        .otherwise(F.transform(
            F.sequence(F.lit(0), (F.col("id") % 3).cast("int")),
            lambda i: F.when(i % 4 != 2, F.transform(
                F.sequence(F.lit(0), i),
                lambda j: F.concat(F.lit("t"), F.col("id") % 10, j)))))
        .alias("toks"),
    )
    d = str(tmp_path)
    encode_table(df, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=3,
                 resume=False)
    r = ds.load(spark, f"{d}/b", f"{d}/m")
    assert (r.schema["toks"].dataType.simpleString()
            == df.schema["toks"].dataType.simpleString())
    a = {x["doc_id"]: x["toks"] for x in df.collect()}
    b = {x["doc_id"]: x["toks"] for x in r.collect()}
    assert a == b


def test_boltspark_datasource_nullcheck_on_decimal38(spark, tmp_path):
    """Catalyst auto-generates IsNotNull beside comparison filters, and
    DSv2 pushes it as a type-agnostic ConstPredicate — on a decimal(>18)
    column this must evaluate via the validity bitmap, not trip the
    d128 predicate guard (round-4 review finding)."""
    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.sources import datasource as ds

    df = spark.range(120).select(
        F.col("id").alias("doc_id"),
        F.expr("CASE WHEN id % 5 = 0 THEN NULL ELSE "
               "CAST(CAST(id AS DECIMAL(38,0)) * 1000000000000000000 "
               "AS DECIMAL(38,4)) END").alias("big"),
    )
    d = str(tmp_path)
    encode_table(df, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=2,
                 resume=False)
    r = ds.load(spark, f"{d}/b", f"{d}/m")
    assert r.filter(F.col("big").isNotNull()).count() == 96
    r2 = ds.load(spark, f"{d}/b", f"{d}/m")
    assert r2.filter(F.col("big").isNull()).count() == 24


def test_boltspark_datasource_isnull_pushdown(spark, tmp_path):
    """IsNull maps to ConstPredicate(accept=False, null_allowed=True):
    only null rows survive, enforced exactly by the source."""
    from pyspark.sql import functions as F

    from boltspark import corpus
    from boltspark.engine import encode_table
    from boltspark.sources import datasource as ds

    d = str(tmp_path)
    corpus.write_parquet(f"{d}/c.parquet", 800, with_nullable=True)
    df = spark.read.parquet(f"{d}/c.parquet")
    nullable = next(c for c in df.columns
                    if df.filter(F.col(c).isNull()).count() > 0)
    encode_table(df, f"{d}/b", f"{d}/m", target_partition_bytes=1 << 20,
                 resume=False)
    got = ds.load(spark, f"{d}/b", f"{d}/m").filter(
        F.col(nullable).isNull()).count()
    exp = df.filter(F.col(nullable).isNull()).count()
    assert exp > 0 and got == exp


def test_datasource_matches_decode_table_nested_evolved(spark, tmp_path):
    """DSv2 and decode_table share one decoder: on a two-run table with
    a nullable struct, a map, list<struct> and list<list> (the second
    run adds a struct column), both return the same rows — unfiltered,
    and under a predicate keeping under 25% of each group's rows, which
    takes the late-materialization path."""
    from pyspark.sql import functions as F

    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.filters import RangePredicate
    from boltspark.sources import datasource as ds

    def table(lo, hi):
        i = F.col("id")
        return spark.range(lo, hi).select(
            i.alias("doc_id"),
            F.when(i % 7 != 0, F.struct(
                (i % 13).cast("int").alias("w"),
                F.when(i % 5 != 0, F.concat(F.lit("h"), i % 3)).alias("h"),
            )).alias("meta"),
            F.when(i % 6 == 0, F.lit(None).cast("map<string,bigint>"))
            .when(i % 6 == 1, F.expr("map()").cast("map<string,bigint>"))
            .otherwise(F.create_map(F.lit("a"), i, F.lit("b"), i * 2))
            .alias("props"),
            F.when(i % 9 == 0, F.lit(None))
            .otherwise(F.transform(
                F.sequence(F.lit(0), i % 4),
                lambda j: F.when(j % 5 != 2, F.struct(
                    (i + j).cast("int").alias("start"),
                    (i + j * 2).cast("int").alias("end"),
                )))).alias("spans"),
            F.when(i % 8 == 0, F.lit(None))
            .otherwise(F.transform(
                F.sequence(F.lit(0), (i % 3).cast("int")),
                lambda j: F.when(j % 4 != 2, F.transform(
                    F.sequence(F.lit(0), j),
                    lambda k: F.concat(F.lit("t"), i % 10, k)))))
            .alias("toks"),
        )

    d = str(tmp_path)
    df1 = table(0, 400)
    df2 = table(400, 600).withColumn("extra", F.when(
        F.col("doc_id") % 4 != 0,
        F.struct((F.col("doc_id") % 11).alias("x"))))
    encode_table(df1, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=3,
                 resume=False, run_id="r1")
    encode_table(df2, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=3,
                 resume=False, run_id="r2")
    expected = {r["doc_id"]: r for r in df1.withColumn(
        "extra", F.lit(None).cast(df2.schema["extra"].dataType))
        .unionByName(df2).collect()}

    def rows(df):
        got = df.collect()
        out = {r["doc_id"]: r for r in got}
        assert len(out) == len(got)
        return out

    engine = rows(decode_table(spark, f"{d}/b", f"{d}/m"))
    source = rows(ds.load(spark, f"{d}/b", f"{d}/m"))
    assert engine == source == expected
    lo, hi = 380, 460  # 80 of 600 rows, across both runs
    engine = rows(decode_table(
        spark, f"{d}/b", f"{d}/m",
        predicate=RangePredicate(column="doc_id", lower=lo, upper=hi - 1)))
    source = rows(ds.load(spark, f"{d}/b", f"{d}/m").filter(
        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)))
    assert engine == source == {k: v for k, v in expected.items()
                                if lo <= k < hi}
