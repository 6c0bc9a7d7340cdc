"""End-to-end Spark engine tests (SURVEY.md §5 transfer, items d-f):
encode -> blocks+manifest -> decode -> per-row sha256 equality;
compressed size <= Spark's own parquet output; resume from manifest;
predicate-pushdown decode vs Catalyst on the same filter."""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from boltspark import corpus
from boltspark.engine import decode_table, encode_table
from boltspark.engine.filters import BytesPrefixPredicate, RangePredicate

N_ROWS = 4000


@pytest.fixture(scope="module")
def corpus_df(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "corpus.parquet")
    corpus.write_parquet(path, N_ROWS, with_nullable=True)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def encoded(spark, corpus_df, tmp_path_factory):
    base = tmp_path_factory.mktemp("enc")
    out, man = str(base / "blocks"), str(base / "manifest")
    res = encode_table(
        corpus_df, out, man,
        target_partition_bytes=1 << 20,  # force multiple partitions at test scale
        block_bytes=256 << 10,
    )
    return res


def _dir_bytes(path):
    return sum(os.path.getsize(p) for p in glob.glob(f"{path}/**/*", recursive=True)
               if os.path.isfile(p) and not p.endswith((".crc", "_SUCCESS")))


def test_roundtrip_sha256_exact(spark, corpus_df, encoded):
    decoded = decode_table(spark, encoded.out_path, encoded.manifest_path)
    key = ["repo", "path", "commit"]
    orig = corpus_df.select(*key, F.sha2(F.col("content"), 256).alias("h_orig"),
                            F.col("lang").alias("lang_orig"),
                            F.col("stars").alias("stars_orig"))
    back = decoded.select(*key, F.sha2(F.col("content"), 256).alias("h_back"),
                          F.col("lang").alias("lang_back"),
                          F.col("stars").alias("stars_back"))
    joined = orig.join(back, key, "full_outer")
    n = joined.count()
    assert n == N_ROWS  # no lost or duplicated rows
    bad = joined.filter(
        (F.col("h_orig") != F.col("h_back"))
        | F.col("h_orig").isNull() | F.col("h_back").isNull()
        | (F.col("lang_orig") != F.col("lang_back"))
        | (F.col("stars_orig").isNotNull() != F.col("stars_back").isNotNull())
        | (F.col("stars_orig") != F.col("stars_back"))
        & F.col("stars_orig").isNotNull()
    ).count()
    assert bad == 0


def test_compressed_size_beats_parquet(spark, corpus_df, encoded, tmp_path):
    ref = str(tmp_path / "ref_parquet")
    corpus_df.write.parquet(ref)
    ours = _dir_bytes(encoded.out_path) + _dir_bytes(encoded.manifest_path)
    theirs = _dir_bytes(ref)
    assert ours <= theirs, f"ours {ours} > parquet {theirs}"


def test_manifest_and_blocks_consistency(spark, encoded):
    blocks = spark.read.parquet(encoded.out_path)
    manifest = spark.read.parquet(encoded.manifest_path).filter(
        F.col("column") != "__table_meta__")
    # every partition with blocks appears in the manifest, for every column
    b = blocks.select("part_id").distinct().count()
    m = manifest.select("part_id").distinct().count()
    assert b == m
    n_cols = manifest.select("column").distinct().count()
    assert manifest.select("part_id", "column").distinct().count() == b * n_cols
    # per-column row counts equal the table size
    per_col = manifest.groupBy("column").agg(F.sum("n_rows").alias("n")).collect()
    assert all(r["n"] == N_ROWS for r in per_col)
    assert encoded.n_partitions > 1  # salting actually spread the data


def test_resume_skips_done_partitions(spark, corpus_df, encoded):
    res2 = encode_table(
        corpus_df, encoded.out_path, encoded.manifest_path,
        target_partition_bytes=1 << 20, block_bytes=256 << 10, resume=True,
    )
    assert res2.n_planned == 0  # everything already in the manifest
    # decode still returns exactly one copy of every row
    decoded = decode_table(spark, encoded.out_path, encoded.manifest_path)
    assert decoded.count() == N_ROWS


def test_projection_reads_only_requested_columns(spark, encoded):
    decoded = decode_table(spark, encoded.out_path, encoded.manifest_path,
                           columns=["lang"])
    assert decoded.columns == ["lang"]
    assert decoded.count() == N_ROWS
    with pytest.raises(KeyError):
        decode_table(spark, encoded.out_path, encoded.manifest_path,
                     columns=["nope"])


def test_predicate_pushdown_matches_catalyst(spark, corpus_df, encoded):
    pred = BytesPrefixPredicate(column="repo", prefix=b"org3/")
    ours = decode_table(spark, encoded.out_path, encoded.manifest_path,
                        columns=["repo", "path", "lang"], predicate=pred)
    theirs = corpus_df.select("repo", "path", "lang").filter(
        pred.to_spark_condition())
    assert ours.count() == theirs.count()
    sym_diff = ours.exceptAll(theirs).count() + theirs.exceptAll(ours).count()
    assert sym_diff == 0


def test_predicate_on_nullable_numeric(spark, corpus_df, encoded):
    for null_allowed in (False, True):
        pred = RangePredicate(column="stars", lower=20_000, upper=70_000,
                              null_allowed=null_allowed)
        ours = decode_table(spark, encoded.out_path, encoded.manifest_path,
                            columns=["repo", "stars"], predicate=pred)
        theirs = corpus_df.select("repo", "stars").filter(pred.to_spark_condition())
        assert ours.count() == theirs.count()
        sym_diff = ours.exceptAll(theirs).count() + theirs.exceptAll(ours).count()
        assert sym_diff == 0


def test_corpus_determinism():
    t1 = corpus.generate(500)
    t2 = corpus.generate(500)
    assert t1.equals(t2)
    skew = (
        np.unique(t1.column("repo").to_numpy(zero_copy_only=False),
                  return_counts=True)[1]
    )
    assert skew.max() / 500 > 0.05  # zipf head is heavy


def test_corpus_chunks_keep_row_ids_and_commits_unique(tmp_path):
    """The chunked writer continues row ids and commit keys across
    chunks; at or below chunk_rows it stays byte-identical to
    generate()."""
    import re

    import pyarrow.parquet as pq

    n, chunk = 250, 100
    corpus.write_parquet(str(tmp_path / "c.parquet"), n, chunk_rows=chunk)
    t = pq.read_table(str(tmp_path / "c.parquet"))
    assert t.num_rows == n
    ids = [int(m.group(1)) for c in t.column("content").to_pylist()
           for m in [re.search(r"// row-id (\d+)\n$", c)] if m]
    assert len(ids) == len(set(ids)) and len(ids) > 0.9 * n
    assert min(ids) >= 0 and max(ids) < n and max(ids) >= 2 * chunk
    # chunk boundaries are multiples of the 50-row commit grouping, so
    # no commit may appear in two chunks
    commits = t.column("commit").to_pylist()
    per_chunk = [set(commits[i:i + chunk]) for i in range(0, n, chunk)]
    for i, a in enumerate(per_chunk):
        for b in per_chunk[i + 1:]:
            assert not a & b

    corpus.write_parquet(str(tmp_path / "one.parquet"), chunk,
                         chunk_rows=chunk, with_nullable=True)
    assert pq.read_table(str(tmp_path / "one.parquet")).equals(
        corpus.generate(chunk, with_nullable=True))


def test_point_query_reads_only_named_partitions(spark, corpus_df, encoded):
    from pyspark.sql import functions as F

    full = decode_table(spark, encoded.out_path, encoded.manifest_path,
                        columns=["repo"], include_part_id=True)
    by_part = dict(full.groupBy("part_id").count().collect())
    some = sorted(by_part)[:2]
    point = decode_table(spark, encoded.out_path, encoded.manifest_path,
                         columns=["repo"], part_ids=some)
    assert point.count() == sum(by_part[p] for p in some)
    # pruning reaches the blocks scan
    plan = point._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("part_id" in ln for ln in pushed), pushed


def test_resume_reuses_partition_count(spark, corpus_df, encoded):
    # a resume run derives nothing from fresh estimates: it reuses the
    # manifest's n_parts, so partition ids stay aligned with round one
    res2 = encode_table(corpus_df, encoded.out_path, encoded.manifest_path,
                        target_partition_bytes=123456789, resume=True)
    assert res2.n_partitions == encoded.n_partitions
    assert res2.n_planned == 0


def test_edge_cases(spark, tmp_path):
    d = str(tmp_path)
    schema = "repo string, path string, commit string, lang string, content string"

    # empty input table
    empty = spark.createDataFrame([], schema)
    encode_table(empty, f"{d}/e/b", f"{d}/e/m", n_parts=2)
    assert decode_table(spark, f"{d}/e/b", f"{d}/e/m").count() == 0

    # all-null column round-trips as all-null
    df2 = spark.range(50).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
        F.lit("c").alias("commit"), F.lit(None).cast("string").alias("lang"),
        F.lit("body").alias("content"))
    encode_table(df2, f"{d}/n/b", f"{d}/n/m", n_parts=2)
    back = decode_table(spark, f"{d}/n/b", f"{d}/n/m")
    assert back.filter(F.col("lang").isNull()).count() == 50

    # single row; empty string + multi-MB string in one table
    big = "x" * (3 << 20)
    df4 = spark.createDataFrame(
        [("r", "p1", "c", "py", ""), ("r", "p2", "c", "py", big)], schema)
    encode_table(df4, f"{d}/h/b", f"{d}/h/m", n_parts=1)
    rows = {r["path"]: len(r["content"])
            for r in decode_table(spark, f"{d}/h/b", f"{d}/h/m").collect()}
    assert rows == {"p1": 0, "p2": 3 << 20}


def test_pathological_skew_is_defused(spark, tmp_path):
    """One repo holding 60% of all bytes must still spread ~evenly:
    partition identity hashes (repo, path, commit), not repo alone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 3000
    giant = int(n * 0.6)
    rows = {
        "repo": ["megacorp/monorepo"] * giant
                + [f"org{i % 40}/r{i % 97}" for i in range(n - giant)],
        "path": [f"src/f{i}.py" for i in range(n)],
        "commit": [f"{i:040x}" for i in range(n)],
        "lang": ["py"] * n,
        "content": [f"def f{i}():\n    return {i} " * 40 for i in range(n)],
    }
    path = str(tmp_path / "skew.parquet")
    pq.write_table(pa.table(rows), path, row_group_size=512)
    df = spark.read.parquet(path)
    res = encode_table(df, str(tmp_path / "b"), str(tmp_path / "m"), n_parts=8)
    man = spark.read.parquet(str(tmp_path / "m")).filter(
        F.col("column") == "content")
    per_part = [r["raw_bytes"] for r in man.select("raw_bytes").collect()]
    assert len(per_part) == 8
    assert max(per_part) / (sum(per_part) / len(per_part)) < 1.5, per_part
    # and the round trip still holds
    assert decode_table(spark, str(tmp_path / "b"), str(tmp_path / "m")).count() == n


def test_multi_predicate_cascade_matches_catalyst(spark, corpus_df, encoded):
    """Conjunctive AND cascade across columns (the reference's
    read_with_filter, row_group_reader.rs:204-258)."""
    preds = [
        BytesPrefixPredicate(column="repo", prefix=b"org"),
        RangePredicate(column="stars", lower=10_000, upper=90_000),
        BytesPrefixPredicate(column="lang", prefix=b"p"),
    ]
    ours = decode_table(spark, encoded.out_path, encoded.manifest_path,
                        columns=["repo", "lang", "stars"], predicate=preds)
    cond = preds[0].to_spark_condition()
    for p in preds[1:]:
        cond = cond & p.to_spark_condition()
    theirs = corpus_df.select("repo", "lang", "stars").filter(cond)
    assert ours.count() == theirs.count()
    assert ours.exceptAll(theirs).count() + theirs.exceptAll(ours).count() == 0


def test_array_column_roundtrip(spark, tmp_path):
    """array<float> embeddings ride the engine end to end bit-identical
    (the reference parses nested schema but refuses to read it —
    metadata/utils.rs:88-209, rep_def_parser.rs:36-46)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = str(tmp_path)
    encode_table(emb, f"{d}/b", f"{d}/m", key_cols=("vec_id",), n_parts=4,
                 resume=False)
    back = decode_table(spark, f"{d}/b", f"{d}/m")
    assert back.schema["embedding"].dataType.simpleString() == "array<float>"
    diff = emb.exceptAll(back).count() + back.exceptAll(emb).count()
    assert diff == 0


def test_decimal_column_roundtrip(spark, tmp_path):
    """decimal(12,2) rides as scaled-int64 storage, exact (the reference
    rejects decimals: primitive_column_reader.rs:450-455)."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    dfd = li.select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("decimal(12,2)").alias("qty"),
        (F.col("l_extendedprice") * -1).cast("decimal(14,2)").alias("neg_price"),
    )
    d = str(tmp_path)
    encode_table(dfd, f"{d}/b", f"{d}/m",
                 key_cols=("l_orderkey", "l_linenumber"), n_parts=4,
                 resume=False)
    back = decode_table(spark, f"{d}/b", f"{d}/m")
    assert back.schema["qty"].dataType.simpleString() == "decimal(12,2)"
    diff = dfd.exceptAll(back).count() + back.exceptAll(dfd).count()
    assert diff == 0


def test_list_of_struct_roundtrip(spark, tmp_path):
    """array<struct<start:int,end:int>> (tokenized-span shape) flattens
    to parallel list leaves sharing one offsets stream (engine/nest.py)
    and rebuilds JVM-side via arrays_zip.  Null lists, empty lists, and
    null ELEMENTS all round-trip distinctly."""
    df = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 11 == 0, F.lit(None))
        .when(F.col("id") % 11 == 1, F.array().cast(
            "array<struct<start:int,end:int>>"))
        .otherwise(F.transform(
            F.sequence(F.lit(0), F.col("id") % 5),
            lambda i: F.when(i % 7 != 3, F.struct(
                (F.col("id") + i).cast("int").alias("start"),
                (F.col("id") + i * 2).cast("int").alias("end"),
            )))).alias("spans"),
    )
    d = str(tmp_path)
    encode_table(df, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=4,
                 resume=False)
    back = decode_table(spark, f"{d}/b", f"{d}/m")
    assert (back.schema["spans"].dataType.simpleString()
            == df.schema["spans"].dataType.simpleString())
    a = {r["doc_id"]: r["spans"] for r in df.collect()}
    b = {r["doc_id"]: r["spans"] for r in back.collect()}
    assert a == b


def test_list_of_list_roundtrip(spark, tmp_path):
    """array<array<int>> (nested token-span shape) flattens to an
    inner-lengths leaf + a flattened element stream (engine/nest.py) and
    rebuilds by re-slicing with running offsets — all JVM.  Null outer,
    empty outer, null INNER lists, empty inner lists and null scalar
    elements all round-trip distinctly."""
    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 7 == 0, F.lit(None))
        .when(F.col("id") % 7 == 1, F.array().cast("array<array<int>>"))
        .otherwise(F.transform(
            F.sequence(F.lit(0), (F.col("id") % 4).cast("int")),
            lambda i: F.when(i % 5 != 2, F.transform(
                F.sequence(F.lit(0), i),
                lambda j: F.when(j % 3 != 1,
                                 (F.col("id") * 10 + j).cast("int"))))))
        .alias("toks"),
    )
    d = str(tmp_path)
    encode_table(df, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=4,
                 resume=False)
    back = decode_table(spark, f"{d}/b", f"{d}/m")
    assert (back.schema["toks"].dataType.simpleString()
            == df.schema["toks"].dataType.simpleString())
    a = {r["doc_id"]: r["toks"] for r in df.collect()}
    b = {r["doc_id"]: r["toks"] for r in back.collect()}
    assert a == b


def test_decimal38_column_roundtrip(spark, tmp_path):
    """decimal(38,6) rides as the full 128-bit word pair (tag 'd128',
    word-plane plain storage): values needing the high word, alternating
    sign, and nulls all round-trip exactly."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    dfd = li.select(
        "l_orderkey", "l_linenumber",
        F.expr(
            "CASE WHEN l_linenumber = 3 THEN NULL ELSE "
            "CAST((CAST(l_orderkey AS DECIMAL(38,0)) * 1000000000000000000 "
            "+ l_partkey) * CASE WHEN l_linenumber % 2 = 0 THEN -1 ELSE 1 END "
            "AS DECIMAL(38,6)) END").alias("big"),
    )
    d = str(tmp_path)
    encode_table(dfd, f"{d}/b", f"{d}/m",
                 key_cols=("l_orderkey", "l_linenumber"), n_parts=4,
                 resume=False)
    back = decode_table(spark, f"{d}/b", f"{d}/m")
    assert back.schema["big"].dataType.simpleString() == "decimal(38,6)"
    diff = dfd.exceptAll(back).count() + back.exceptAll(dfd).count()
    assert diff == 0


def test_decimal38_range_predicate(spark, tmp_path):
    """Decimal128RangePredicate: signed-128 lexicographic compare over
    (lo, hi) word pairs with unscaled int bounds — positive band and
    negative band, verified against Python Decimal arithmetic."""
    from decimal import Decimal

    from boltspark.engine.filters import Decimal128RangePredicate

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    dfd = li.select(
        "l_orderkey", "l_linenumber",
        F.expr(
            "CASE WHEN l_linenumber = 3 THEN NULL ELSE "
            "CAST((CAST(l_orderkey AS DECIMAL(38,0)) * 1000000000000000000 "
            "+ l_partkey) * CASE WHEN l_linenumber % 2 = 0 THEN -1 ELSE 1 END "
            "AS DECIMAL(38,6)) END").alias("big"),
    )
    d = str(tmp_path)
    encode_table(dfd, f"{d}/b", f"{d}/m",
                 key_cols=("l_orderkey", "l_linenumber"), n_parts=4,
                 resume=False)
    rows = dfd.collect()

    def unscaled(x):
        return int(x.scaleb(6)) if x is not None else None

    for lo, hi in [(0, 3000 * 10**18 * 10**6),
                   (-3000 * 10**18 * 10**6, -1)]:
        pred = Decimal128RangePredicate(column="big", lower=lo, upper=hi)
        got = sorted((r["l_orderkey"], r["l_linenumber"]) for r in decode_table(
            spark, f"{d}/b", f"{d}/m", columns=["l_orderkey", "l_linenumber"],
            predicate=pred).collect())
        exp = sorted((r["l_orderkey"], r["l_linenumber"]) for r in rows
                     if r["big"] is not None
                     and lo <= unscaled(r["big"]) <= hi)
        assert got == exp and len(exp) > 0, (lo, hi, len(exp))


def test_highly_selective_predicate_late_materialization(spark, corpus_df, encoded):
    """A <25% survivor mask flips decode into late materialization —
    results must still match Catalyst exactly."""
    pred = BytesPrefixPredicate(column="path", prefix=b"src/a")
    ours = decode_table(spark, encoded.out_path, encoded.manifest_path,
                        columns=["path", "content", "stars"], predicate=pred)
    theirs = corpus_df.select("path", "content", "stars").filter(
        pred.to_spark_condition())
    assert ours.count() == theirs.count()
    assert ours.exceptAll(theirs).count() + theirs.exceptAll(ours).count() == 0


def test_bloom_skips_absent_equality(spark, encoded):
    """A needle absent from the table must produce zero rows AND skip
    every block at the zone level (bloom, not decode+empty-mask)."""
    from boltspark.engine.decode import _decode_mask
    from boltspark.engine.filters import BytesEqPredicate

    pred = BytesEqPredicate(column="lang", value=b"zz-not-a-lang")
    out = decode_table(spark, encoded.out_path, encoded.manifest_path,
                       columns=["repo"], predicate=pred)
    assert out.count() == 0
    # kernel-level: the zone check alone rejects (blocks never opened)
    blocks = spark.read.parquet(encoded.out_path).select(
        F.col("cols.lang.stats").alias("st")).limit(5).collect()
    for r in blocks:
        st = r["st"].asDict()
        assert st["bloom"] is not None
        assert pred.check_zone(st) == "none"


def test_in_predicate_matches_catalyst(spark, corpus_df, encoded):
    from boltspark.engine.filters import InPredicate

    for pred in (
        InPredicate(column="lang", values=(b"py", b"rs", b"zz-absent")),
        InPredicate(column="stars", values=(12345, 54321, 99999999)),
        InPredicate(column="stars", values=(), null_allowed=True),  # only nulls... none match
    ):
        ours = decode_table(spark, encoded.out_path, encoded.manifest_path,
                            columns=["repo", "lang", "stars"], predicate=pred)
        theirs = corpus_df.select("repo", "lang", "stars").filter(
            pred.to_spark_condition())
        assert ours.count() == theirs.count(), pred
        assert ours.exceptAll(theirs).count() + theirs.exceptAll(ours).count() == 0


def test_in_pushdown_via_datasource(spark, corpus_df, encoded):
    from boltspark.sources import datasource as ds

    r = ds.load(spark, encoded.out_path, encoded.manifest_path).filter(
        F.col("lang").isin("py", "rs")).select("repo", "lang")
    ref = corpus_df.filter(F.col("lang").isin("py", "rs")).select("repo", "lang")
    assert r.count() == ref.count()
    assert r.exceptAll(ref).count() + ref.exceptAll(r).count() == 0


def test_schema_evolution_on_append(spark, tmp_path):
    """A later run may ADD columns: older rows read back as nulls, the
    merged manifest schema is deterministic, predicates honor null
    semantics on pre-evolution rows, and type conflicts raise."""
    d = str(tmp_path)
    df1 = spark.range(120).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
        F.lit("c").alias("commit"),
        F.concat(F.lit("body"), F.col("id")).alias("content"))
    encode_table(df1, f"{d}/b", f"{d}/m", n_parts=4, resume=False, run_id="run1")
    df2 = spark.range(120, 170).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
        F.lit("c").alias("commit"),
        F.concat(F.lit("body"), F.col("id")).alias("content"),
        (F.col("id") % 7).alias("extra"))
    encode_table(df2, f"{d}/b", f"{d}/m", n_parts=4, resume=False, run_id="run2")

    out = decode_table(spark, f"{d}/b", f"{d}/m")
    assert out.columns == ["repo", "path", "commit", "content", "extra"]
    assert out.count() == 170
    assert out.filter(F.col("extra").isNull()).count() == 120
    got = {r["path"]: r["extra"] for r in out.filter(F.col("extra").isNotNull()).collect()}
    assert got == {str(i): i % 7 for i in range(120, 170)}

    # predicate on the evolved column: null semantics over old rows
    pred = RangePredicate(column="extra", lower=0, upper=3)
    sel = decode_table(spark, f"{d}/b", f"{d}/m", columns=["path", "extra"],
                       predicate=pred)
    exp = sum(1 for i in range(120, 170) if i % 7 <= 3)
    assert sel.count() == exp
    pred_n = RangePredicate(column="extra", lower=0, upper=3, null_allowed=True)
    sel_n = decode_table(spark, f"{d}/b", f"{d}/m", columns=["path", "extra"],
                         predicate=pred_n)
    assert sel_n.count() == exp + 120

    # type conflict must raise loudly
    df3 = spark.range(5).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
        F.lit("c").alias("commit"), F.lit("x").alias("content"),
        F.lit("not-a-long").alias("extra"))
    encode_table(df3, f"{d}/b", f"{d}/m", n_parts=4, resume=False, run_id="run3")
    with pytest.raises(ValueError, match="type conflict"):
        decode_table(spark, f"{d}/b", f"{d}/m")


def test_struct_column_roundtrip(spark, tmp_path):
    """Struct columns flatten to encoded leaves and reassemble on decode
    (engine/nest.py): nested structs, null structs vs structs-of-nulls,
    projection, and dotted-path predicate pushdown."""
    from pyspark.sql import functions as F

    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.filters import RangePredicate

    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t-"), F.col("id")).alias("content"),
        F.when(F.col("id") % 7 != 0, F.struct(
            F.lit("image").alias("media_type"),
            (F.col("id") % 13).cast("int").alias("width"),
            F.when(F.col("id") % 5 != 0, (F.col("id") % 17).cast("int"))
            .alias("height"),
            F.struct((F.col("id") * 2).alias("a"),
                     F.lit("z").alias("b")).alias("inner"),
        )).alias("meta"),
    )
    d = str(tmp_path)
    encode_table(df, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=4,
                 resume=False)
    back = decode_table(spark, f"{d}/b", f"{d}/m")
    assert (back.schema["meta"].dataType.simpleString()
            == df.schema["meta"].dataType.simpleString())
    assert back.count() == 300
    assert df.exceptAll(back).count() + back.exceptAll(df).count() == 0
    # null-struct vs struct-with-null-leaf distinction survives
    assert (back.filter(F.col("meta").isNull()).count()
            == df.filter(F.col("meta").isNull()).count())
    assert (back.filter(F.col("meta").isNotNull()
                        & F.col("meta.height").isNull()).count()
            == df.filter(F.col("meta").isNotNull()
                         & F.col("meta.height").isNull()).count())
    # projection decodes only the struct's leaves
    proj = decode_table(spark, f"{d}/b", f"{d}/m", columns=["doc_id", "meta"])
    assert proj.columns == ["doc_id", "meta"] and proj.count() == 300
    # dotted-path predicate resolves to the flat leaf and pushes down
    pred = RangePredicate(column="meta.width", lower=5, upper=8)
    got = decode_table(spark, f"{d}/b", f"{d}/m", columns=["doc_id"],
                       predicate=pred).count()
    exp = df.filter((F.col("meta.width") >= 5) & (F.col("meta.width") <= 8)).count()
    assert got == exp
    # unknown dotted path errors loudly
    import pytest as _pytest
    with _pytest.raises(KeyError):
        decode_table(spark, f"{d}/b", f"{d}/m",
                     predicate=RangePredicate(column="meta.nope", lower=0)).count()


def test_struct_column_compact_and_resume(spark, tmp_path):
    """Struct tables survive compaction (logical schema rides the
    manifest) and reject \\x1f in user column names."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.compact import compact_blocks

    df = spark.range(120).select(
        F.col("id").alias("doc_id"),
        F.struct((F.col("id") % 9).cast("int").alias("w"),
                 F.concat(F.lit("s"), F.col("id") % 4).alias("tag")).alias("m"),
    )
    d = str(tmp_path)
    encode_table(df.filter(F.col("doc_id") < 60), f"{d}/b", f"{d}/m",
                 key_cols=("doc_id",), n_parts=3, resume=False, run_id="r1")
    encode_table(df.filter(F.col("doc_id") >= 60), f"{d}/b", f"{d}/m",
                 key_cols=("doc_id",), n_parts=3, resume=False, run_id="r2")
    compact_blocks(spark, f"{d}/b", f"{d}/m", f"{d}/b2", f"{d}/m2")
    back = decode_table(spark, f"{d}/b2", f"{d}/m2")
    assert (back.schema["m"].dataType.simpleString()
            == df.schema["m"].dataType.simpleString())
    assert df.exceptAll(back).count() + back.exceptAll(df).count() == 0

    bad = df.withColumnRenamed("m", "a\x1fb")
    with _pytest.raises(ValueError):
        encode_table(bad, f"{d}/b3", f"{d}/m3", key_cols=("doc_id",),
                     n_parts=2, resume=False)


def test_jvm_zone_prefilter_is_conservative_superset(spark):
    """The JVM-side zone prefilter (Predicate.jvm_zone_keep) may only
    drop groups the Python zone check also rejects: for every crafted
    stats row, python check_zone != 'none' implies the JVM keep column
    is True.  And across the grid it must actually prune something."""
    import itertools

    from pyspark.sql import functions as F

    from boltspark.engine.filters import (NONE, BytesEqPredicate,
                                          BytesPrefixPredicate, InPredicate,
                                          RangePredicate)
    from boltspark.engine.schema import _STATS_SPARK

    stats_rows = []
    for pmin, pmax in itertools.product(
            [None, b"apple", b"mango"], [None, b"mango", b"zebra"]):
        if (pmin is None) != (pmax is None):
            continue
        for vex, hx in itertools.product([False, True], [False, True]):
            for vmin, vmax in [(None, None), (10.0, 90.0), (500.0, 900.0)]:
                stats_rows.append({
                    "vmin": vmin, "vmax": vmax, "vmin_pfx": pmin,
                    "vmax_pfx": pmax, "vmin_exact": vex, "vmax_exact": vex,
                    "has_null": hx, "bloom": None,
                })
    df = spark.createDataFrame([(s,) for s in stats_rows],
                               schema=f"st struct<{','.join(f'{f.name}:{f.dataType.simpleString()}' for f in _STATS_SPARK.fields)}>")
    preds = []
    for na in (False, True):
        preds += [
            BytesEqPredicate(column="c", value=b"mango", null_allowed=na),
            BytesEqPredicate(column="c", value=b"aa", null_allowed=na),
            BytesEqPredicate(column="c", value=b"zz", null_allowed=na),
            BytesPrefixPredicate(column="c", prefix=b"man", null_allowed=na),
            BytesPrefixPredicate(column="c", prefix=b"zz", null_allowed=na),
            InPredicate(column="c", values=(b"aa", b"zz"), null_allowed=na),
            InPredicate(column="c", values=(5, 1000), null_allowed=na),
            RangePredicate(column="c", lower=50.0, upper=600.0, null_allowed=na),
        ]
    pruned_any = False
    for pred in preds:
        keep = pred.jvm_zone_keep(lambda c: "st")
        assert keep is not None
        got = [r["k"] for r in df.select(F.expr(keep).alias("k")).collect()]
        for s, k in zip(stats_rows, got):
            py = pred.check_zone(s)
            if py != NONE:
                assert k, (pred, s, py)
            if not k:
                pruned_any = True
    assert pruned_any


def test_byte_predicate_prefilter_parity(spark, tmp_path):
    """End-to-end parity: decode with byte predicates (which now also
    prefilter JVM-side) returns exactly the rows Catalyst returns on the
    source table."""
    from pyspark.sql import functions as F

    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.filters import (BytesEqPredicate,
                                          BytesPrefixPredicate, InPredicate)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = str(tmp_path)
    encode_table(docs, f"{d}/b", f"{d}/m", key_cols=("doc_id",),
                 target_partition_bytes=1 << 19, resume=False)
    cases = [
        (BytesEqPredicate(column="lang", value=b"en"), F.col("lang") == "en"),
        (BytesPrefixPredicate(column="source", prefix=b"src1"),
         F.col("source").startswith("src1")),
        (InPredicate(column="lang", values=(b"de", b"fr")),
         F.col("lang").isin("de", "fr")),
        (InPredicate(column="n_chars", values=(100, 200, 300)),
         F.col("n_chars").isin(100, 200, 300)),
    ]
    for pred, cond in cases:
        got = decode_table(spark, f"{d}/b", f"{d}/m", columns=["doc_id"],
                           predicate=pred).count()
        exp = docs.filter(cond & F.col(pred.column).isNotNull()).count()
        assert got == exp, (pred, got, exp)


def test_row_range_mid_partition_point_query(spark, tmp_path):
    """decode_table(part_ids=[p], row_range=(k, k+n)) returns exactly
    rows [k, k+n) of the partition in encode order, pruning whole block
    groups via a pushed seq filter and slicing boundary groups
    (reference analog: row_group_reader.rs:188-198)."""
    import re

    from pyspark.sql import functions as F

    from boltspark.engine import decode_table, encode_table

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    d = str(tmp_path)
    res = encode_table(docs, f"{d}/b", f"{d}/m", key_cols=("doc_id",),
                       target_partition_bytes=2 << 20, block_bytes=8 << 10,
                       resume=False)
    pid = 1
    part = docs.withColumn(
        "p", F.pmod(F.xxhash64("doc_id"), F.lit(res.n_partitions))
    ).filter(F.col("p") == pid)
    ordered = [r["doc_id"] for r in part.orderBy("doc_id").collect()]
    n_groups = (spark.read.parquet(f"{d}/b")
                .filter(F.col("part_id") == pid).count())
    assert n_groups >= 3, "need a multi-group partition to exercise the skip"

    for k, n in [(0, 5), (7, 11), (len(ordered) - 4, 50), (3, len(ordered))]:
        got = sorted(r["doc_id"] for r in decode_table(
            spark, f"{d}/b", f"{d}/m", columns=["doc_id"],
            part_ids=[pid], row_range=(k, k + n)).collect())
        assert got == sorted(ordered[k:k + n]), (k, n)

    # the seq interval is pushed to the parquet scan
    df = decode_table(spark, f"{d}/b", f"{d}/m", columns=["doc_id"],
                      part_ids=[pid], row_range=(7, 18))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[[^\]]*seq", plan), plan

    # empty ranges raise; a part-free row_range is the GLOBAL slice
    # (round 5) — covered in test_row_range_across_partitions
    import pytest as _pytest
    with _pytest.raises(ValueError):
        decode_table(spark, f"{d}/b", f"{d}/m", part_ids=[pid],
                     row_range=(5, 5))

    # row_range composes with a predicate (mask intersection)
    from boltspark.engine.filters import RangePredicate

    pred = RangePredicate(column="n_chars", lower=400)
    got = sorted(r["doc_id"] for r in decode_table(
        spark, f"{d}/b", f"{d}/m", columns=["doc_id", "n_chars"],
        part_ids=[pid], row_range=(5, 25), predicate=pred).collect())
    by_pos = part.orderBy("doc_id").collect()[5:25]
    exp = sorted(r["doc_id"] for r in by_pos
                 if r["n_chars"] is not None and r["n_chars"] >= 400)
    assert got == exp


def test_row_range_across_partitions(spark, tmp_path):
    """row_range WITHOUT a single part_id is the GLOBAL positional
    slice: partitions ordered by part_id, rows within a partition in
    encode order.  Slices crossing a partition boundary stitch exactly;
    only overlapping partitions are scanned (round-5 lift of the
    one-partition restriction, VERDICT r4 missing #5)."""
    from pyspark.sql import functions as F

    from boltspark.engine import decode_table, encode_table

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    d = str(tmp_path)
    res = encode_table(docs, f"{d}/b", f"{d}/m", key_cols=("doc_id",),
                       n_parts=8, block_bytes=8 << 10, resume=False)
    # global expected order: (part_id, doc_id) — partition rows are
    # key-sorted at encode
    ordered = [r["doc_id"] for r in docs.withColumn(
        "p", F.pmod(F.xxhash64("doc_id"), F.lit(res.n_partitions)))
        .orderBy("p", "doc_id").collect()]
    sizes = docs.withColumn(
        "p", F.pmod(F.xxhash64("doc_id"), F.lit(res.n_partitions))) \
        .groupBy("p").count().orderBy("p").collect()
    c0 = int(sizes[0]["count"])

    # a slice straddling the partition-0/1 boundary, a head slice with
    # no part_ids, a multi-boundary slice, and a tail-overrun slice
    for k, n in [(c0 - 5, 12), (0, 7), (c0 - 3, c0 + 10),
                 (len(ordered) - 4, 50)]:
        got = sorted(r["doc_id"] for r in decode_table(
            spark, f"{d}/b", f"{d}/m", columns=["doc_id"],
            row_range=(k, k + n)).collect())
        assert got == sorted(ordered[k:k + n]), (k, n)

    # an explicit part_ids LIST scopes the global order to that set
    sub = [r["doc_id"] for r in docs.withColumn(
        "p", F.pmod(F.xxhash64("doc_id"), F.lit(res.n_partitions)))
        .filter(F.col("p").isin([2, 3])).orderBy("p", "doc_id").collect()]
    c2 = int(sizes[2]["count"])
    got = sorted(r["doc_id"] for r in decode_table(
        spark, f"{d}/b", f"{d}/m", columns=["doc_id"], part_ids=[2, 3],
        row_range=(c2 - 4, c2 + 4)).collect())
    assert got == sorted(sub[c2 - 4:c2 + 4])

    # a slice past the end returns nothing (and scans nothing)
    assert decode_table(spark, f"{d}/b", f"{d}/m", columns=["doc_id"],
                        row_range=(len(ordered) + 10,
                                   len(ordered) + 20)).count() == 0


def test_row_range_follows_append_order_across_runs(spark, tmp_path):
    """row_range positions across appended runs follow manifest COMMIT
    order (the monotonic run_seq), not lexicographic run_id order: run
    ids here are chosen so the lexicographic order INVERTS the append
    order, and the first-slice rows must still come from the first
    committed run."""
    from pyspark.sql import functions as F

    from boltspark.engine import decode_table, encode_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    d = str(tmp_path)
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    odds = docs.filter(F.col("doc_id") % 2 == 1)
    encode_table(evens, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=2,
                 resume=False, run_id="zz-first")
    encode_table(odds, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=2,
                 resume=False, run_id="aa-second")
    pid = 0
    n1 = (evens.withColumn("p", F.pmod(F.xxhash64("doc_id"), F.lit(2)))
          .filter(F.col("p") == pid).count())
    assert n1 >= 2
    first_slice = decode_table(spark, f"{d}/b", f"{d}/m", columns=["doc_id"],
                               part_ids=[pid], row_range=(0, n1)).collect()
    got = [r["doc_id"] for r in first_slice]
    assert len(got) == n1
    assert all(x % 2 == 0 for x in got), \
        "first-committed run's rows must come first (append order)"


def test_string_list_and_map_columns_roundtrip(spark, tmp_path):
    """array<string> (lbytes list codec) and map<K,V> (two aligned list
    leaves + map_from_arrays rebuild) round-trip exactly, including null
    arrays/maps, null elements, and empty collections."""
    from pyspark.sql import functions as F

    from boltspark.engine import decode_table, encode_table

    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 11 != 0,
               F.transform(
                   F.sequence(F.lit(0), F.col("id") % 4),
                   lambda i: F.when((F.col("id") + i) % 9 == 0, F.lit(None))
                   .otherwise(F.concat(F.lit("tag"), i)))).alias("tags"),
        F.when(F.col("id") % 7 != 0, F.create_map(
            F.lit("k1"), F.concat(F.lit("v"), F.col("id")),
            F.lit("k2"), F.when(F.col("id") % 3 == 0,
                                F.lit(None).cast("string")).otherwise(F.lit("x")),
        )).alias("attrs"),
    )
    d = str(tmp_path)
    encode_table(df, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=4,
                 resume=False)
    back = decode_table(spark, f"{d}/b", f"{d}/m")
    assert back.count() == 300
    a = df.select("doc_id", "tags", F.map_entries("attrs").alias("e"))
    b = back.select("doc_id", "tags", F.map_entries("attrs").alias("e"))
    assert a.exceptAll(b).count() + b.exceptAll(a).count() == 0
    assert (back.filter(F.col("tags").isNull()).count()
            == df.filter(F.col("tags").isNull()).count())
    assert (back.filter(F.col("attrs").isNull()).count()
            == df.filter(F.col("attrs").isNull()).count())
    # empty array != null array
    empt = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.array().cast("array<string>"))
        .alias("tags"))
    encode_table(empt, f"{d}/b3", f"{d}/m3", key_cols=("doc_id",), n_parts=2,
                 resume=False)
    back3 = decode_table(spark, f"{d}/b3", f"{d}/m3")
    assert back3.filter(F.col("tags").isNull()).count() == 20
    assert back3.filter(F.size("tags") == 0).count() == 20
    # DSv2 reads maps too since round 4 (MapArray reassembly from the
    # #keys/#vals leaves — detailed coverage in
    # test_boltspark_datasource_map_columns)
    from boltspark.sources import datasource as ds
    assert ds.load(spark, f"{d}/b", f"{d}/m").count() == 300


def test_column_minmax_metadata_only(spark, tmp_path):
    """engine/stats.py: table MIN/MAX aggregates from the typed stats
    leaves — exact for doubles and small ints, and the plan's ReadSchema
    must contain no 'block' leaf (no payload bytes read)."""
    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.engine.stats import column_minmax

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "value",
        F.when(F.col("event_id") % 5 != 0, F.col("value") * 2).alias("v2"))
    d = str(tmp_path)
    encode_table(ev, f"{d}/b", f"{d}/m", key_cols=("event_id",), n_parts=4,
                 resume=False)
    mm = {r["column"]: r for r in
          column_minmax(spark, f"{d}/b", f"{d}/m").collect()}
    exp = ev.agg(F.min("value"), F.max("value"), F.min("v2"), F.max("v2"),
                 F.count(F.lit(1))).first()
    assert mm["value"]["vmin"] == exp[0] and mm["value"]["vmax"] == exp[1]
    assert mm["v2"]["vmin"] == exp[2] and mm["v2"]["vmax"] == exp[3]
    assert mm["value"]["n_rows"] == exp[4]
    assert mm["v2"]["has_null"] and not mm["value"]["has_null"]
    plan = column_minmax(spark, f"{d}/b", f"{d}/m")._jdf.queryExecution(
        ).executedPlan().toString()
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "cols" in ln]
    assert rs and all("block" not in ln for ln in rs), plan
    import pytest as _pytest
    with _pytest.raises(KeyError):
        column_minmax(spark, f"{d}/b", f"{d}/m", columns=["nope"])


def test_gc_orphans_removes_only_uncommitted_runs(spark, tmp_path):
    """engine/compact.py::gc_orphans: files of runs that never committed
    are reported and deleted; manifested data is untouched and decode is
    unchanged after deletion."""
    from pyspark.sql import functions as F

    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.compact import gc_orphans

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "value")
    d = str(tmp_path)
    encode_table(ev, f"{d}/b", f"{d}/m", key_cols=("event_id",), n_parts=4,
                 resume=False, run_id="good")
    # forge a crashed run: blocks appended, manifest never written
    blocks = spark.read.parquet(f"{d}/b")
    blocks.withColumn("run_id", F.lit("deadrun")).write.mode("append").option(
        "compression", "none").parquet(f"{d}/b")
    n = ev.count()
    assert decode_table(spark, f"{d}/b", f"{d}/m").count() == n
    # in-flight writer guard: fresh files are NEVER reported under the
    # default grace window (encode commits its manifest AFTER blocks)
    assert gc_orphans(spark, f"{d}/b", f"{d}/m")["orphan_files"] == 0
    rep = gc_orphans(spark, f"{d}/b", f"{d}/m", min_age_seconds=0)  # dry run
    assert rep["orphan_files"] > 0 and rep["bytes"] > 0
    gc_orphans(spark, f"{d}/b", f"{d}/m", delete=True, min_age_seconds=0)
    assert gc_orphans(spark, f"{d}/b", f"{d}/m",
                      min_age_seconds=0)["orphan_files"] == 0
    assert decode_table(spark, f"{d}/b", f"{d}/m").count() == n


def test_gc_orphans_deletes_nothing_when_a_path_is_not_local(
        spark, tmp_path, monkeypatch):
    """gc_orphans(delete=True) resolves every orphan file to a local path
    before it deletes any: one path that is not provably local raises
    with every file still in place."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from boltspark.engine import encode_table
    from boltspark.engine import manifest as manifestmod
    from boltspark.engine.compact import gc_orphans

    d = str(tmp_path)
    encode_table(spark.range(400).select(F.col("id").alias("k")),
                 f"{d}/b", f"{d}/m", key_cols=("k",), n_parts=4,
                 resume=False, run_id="good")
    spark.read.parquet(f"{d}/b").withColumn("run_id", F.lit("deadrun")) \
        .write.mode("append").option("compression", "none").parquet(f"{d}/b")
    before = sorted(os.listdir(f"{d}/b"))
    assert gc_orphans(spark, f"{d}/b", f"{d}/m",
                      min_age_seconds=0)["orphan_files"] >= 2
    real, seen = manifestmod._local_path, []

    def second_file_not_local(path, spark=None):
        if path.endswith(".parquet"):
            seen.append(path)
            if len(seen) == 2:
                return None
        return real(path, spark)

    monkeypatch.setattr(manifestmod, "_local_path", second_file_not_local)
    with _pytest.raises(ValueError, match="nothing was deleted"):
        gc_orphans(spark, f"{d}/b", f"{d}/m", delete=True, min_age_seconds=0)
    assert sorted(os.listdir(f"{d}/b")) == before


def test_struct_containing_map_roundtrip(spark, tmp_path):
    """Nested combo: struct<a:int, m:map<string,long>> flattens through
    both the struct and map legs of engine/nest.py."""
    from pyspark.sql import functions as F

    from boltspark.engine import decode_table, encode_table

    df = spark.range(120).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 != 0, F.struct(
            (F.col("id") % 9).cast("int").alias("a"),
            F.create_map(F.lit("x"), F.col("id"),
                         F.lit("y"), F.col("id") * 3).alias("m"),
        )).alias("s"),
    )
    d = str(tmp_path)
    encode_table(df, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=3,
                 resume=False)
    back = decode_table(spark, f"{d}/b", f"{d}/m")
    a = df.select("doc_id", F.col("s.a").alias("a"),
                  F.map_entries("s.m").alias("e"), F.col("s").isNull().alias("sn"))
    b = back.select("doc_id", F.col("s.a").alias("a"),
                    F.map_entries("s.m").alias("e"), F.col("s").isNull().alias("sn"))
    assert a.exceptAll(b).count() + b.exceptAll(a).count() == 0


def test_array_contains_predicate_matches_catalyst(spark, tmp_path):
    """ArrayContainsPredicate over encoded list columns: byte elements
    (tag lists) and float elements, both null_allowed polarities, agree
    with Catalyst's array_contains on the source table."""
    from pyspark.sql import functions as F

    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.filters import ArrayContainsPredicate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(F.col("doc_id") % 13 != 0,
               F.split(F.lower(F.substring(F.coalesce(F.col("text"), F.lit("")),
                                           1, 120)), " ")).alias("tags"))
    d = str(tmp_path)
    encode_table(src, f"{d}/b", f"{d}/m", key_cols=("doc_id",),
                 target_partition_bytes=1 << 19, resume=False)
    for na in (False, True):
        pred = ArrayContainsPredicate(column="tags", value=b"the",
                                      null_allowed=na)
        got = decode_table(spark, f"{d}/b", f"{d}/m", columns=["doc_id"],
                           predicate=pred).count()
        exp = src.filter(pred.to_spark_condition()).count()
        assert got == exp, (na, got, exp)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    encode_table(emb, f"{d}/be", f"{d}/me", key_cols=("vec_id",),
                 target_partition_bytes=4 << 20, resume=False)
    needle = float(emb.select(F.col("embedding")[0].alias("v")).first()["v"])
    pred = ArrayContainsPredicate(column="embedding", value=needle)
    got = decode_table(spark, f"{d}/be", f"{d}/me", columns=["vec_id"],
                       predicate=pred).count()
    exp = emb.filter(F.array_contains("embedding", needle)).count()
    assert got == exp and got >= 1


def test_sort_cols_clustering_sharpens_zone_maps(spark, tmp_path):
    """encode_table(sort_cols=...) clusters partitions by a hot filter
    column: identical query results, but zone maps prune a multiple of
    the blocks a key-sorted layout keeps."""
    from pyspark.sql import functions as F

    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.filters import RangePredicate

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select(
        "event_id", "user_id", "value")
    d = str(tmp_path)
    encode_table(ev, f"{d}/b0", f"{d}/m0", key_cols=("event_id",),
                 block_bytes=16 << 10, resume=False)
    encode_table(ev, f"{d}/b1", f"{d}/m1", key_cols=("event_id",),
                 block_bytes=16 << 10, resume=False, sort_cols=("value",))
    pred = RangePredicate(column="value", lower=100.0, upper=110.0)
    exp = ev.filter(pred.to_spark_condition()).count()
    survivors = {}
    for tag in ("0", "1"):
        got = decode_table(spark, f"{d}/b{tag}", f"{d}/m{tag}",
                           columns=["event_id"], predicate=pred).count()
        assert got == exp
        st = F.col("cols").getField("value").getField("stats")
        blocks = spark.read.parquet(f"{d}/b{tag}")
        survivors[tag] = (
            blocks.filter((st.getField("vmax") >= 100.0)
                          & (st.getField("vmin") <= 110.0)).count(),
            blocks.count(),
        )
    unsorted_frac = survivors["0"][0] / survivors["0"][1]
    sorted_frac = survivors["1"][0] / survivors["1"][1]
    assert sorted_frac < unsorted_frac / 2, survivors


def test_validate_table_detects_damage(spark, tmp_path):
    """stats.validate_table: clean tables pass; a missing blocks file
    (manifested groups gone) and a corrupted payload are both loud."""
    import glob
    import os

    from boltspark.engine import encode_table
    from boltspark.engine.stats import validate_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = str(tmp_path)
    encode_table(docs, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=4,
                 resume=False)
    assert validate_table(spark, f"{d}/b", f"{d}/m") == {"ok": True,
                                                         "errors": []}
    # orphan blocks are NOT an error (invisible to decode, GC's business)
    from pyspark.sql import functions as F
    spark.read.parquet(f"{d}/b").withColumn("run_id", F.lit("dead")).write \
        .mode("append").option("compression", "none").parquet(f"{d}/b")
    assert validate_table(spark, f"{d}/b", f"{d}/m")["ok"]
    # a vanished MANIFESTED blocks file IS an error
    victim = spark.read.parquet(f"{d}/b").filter(
        F.col("run_id") != "dead").select(
        F.col("_metadata.file_path").alias("fp")).first()["fp"]
    os.remove("/" + victim.split(":", 1)[-1].lstrip("/"))
    rep = validate_table(spark, f"{d}/b", f"{d}/m")
    assert not rep["ok"] and any("rowcount mismatch" in e for e in rep["errors"])


def test_validate_table_crc_sample_reaches_last_file(spark, tmp_path):
    """The CRC spot-check samples uniformly over every (group, column)
    cell — rot planted in the LAST blocks file, in a column other than
    the first, is caught within a bounded number of seeded runs (the
    round-3 doctor only ever looked at the first file's first column)."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from boltspark.engine import encode_table
    from boltspark.engine.stats import validate_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = str(tmp_path)
    encode_table(docs, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=4,
                 resume=False)
    files = sorted(glob.glob(f"{d}/b/*.parquet"))
    victim = files[-1]
    t = pq.read_table(victim)
    cols = t.column("cols")
    py = cols.to_pylist()
    blk = bytearray(py[-1]["text"]["block"])
    blk[-2] ^= 0xFF  # inside the stored payload: CRC/outer must trip
    py[-1]["text"]["block"] = bytes(blk)
    mangled = pa.chunked_array([pa.array(py, type=cols.type)])
    pq.write_table(
        t.set_column(t.schema.get_field_index("cols"), "cols", mangled),
        victim)
    # drop Hadoop's sidecar checksum: this test wants the ENGINE's CRC
    # to catch the rot, not the filesystem layer underneath it
    import os

    crc_side = os.path.join(os.path.dirname(victim),
                            "." + os.path.basename(victim) + ".crc")
    if os.path.exists(crc_side):
        os.remove(crc_side)
    # the doctor ranks (group x column) CELLS, so each seed checks 8
    # distinct cells of the ~24 here (p(hit) ~= 1/3 per seed); 24 seeds
    # push the miss rate below 1e-4, short-circuiting on the first
    # catch (~3 expected).  Before the cell-rank fix the sample was
    # capped at n_groups cells/seed and missed ~5/6 of the time.
    hit_seed = None
    for s in range(24):
        if not validate_table(spark, f"{d}/b", f"{d}/m", crc_sample=8,
                              crc_seed=s)["ok"]:
            hit_seed = s
            break
    assert hit_seed is not None, \
        "seeded uniform sample never reached the corrupted cell"
    rep = validate_table(spark, f"{d}/b", f"{d}/m", crc_sample=8,
                         crc_seed=hit_seed)
    assert any("corrupt block" in e and "col=text" in e for e in rep["errors"])


def test_small_explicit_n_parts_encode_skips_fsst_prebuild(spark, tmp_path,
                                                           monkeypatch):
    """The small-input gate on the driver-side FSST table build applies
    when ``n_parts`` is given too: a small encode builds no table unless
    a column is pinned with codec_override='fsst'."""
    from boltspark.engine import encode as encmod

    built = []
    orig = encmod._prebuild_fsst_tables

    def spy(*a, **kw):
        built.append(orig(*a, **kw))
        return built[-1]

    monkeypatch.setattr(encmod, "_prebuild_fsst_tables", spy)
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("the quick brown fox "), F.col("id") % 50,
                 F.lit(" jumps over the lazy dog")).alias("s"))
    d = str(tmp_path)
    encode_table(df, f"{d}/b1", f"{d}/m1", key_cols=("k",), n_parts=4,
                 resume=False)
    encode_table(df, f"{d}/b2", f"{d}/m2", key_cols=("k",), n_parts=4,
                 resume=False, codec_override={"s": "fsst"})
    assert built[0] == {}
    assert set(built[1]) == {"s"}
    assert decode_table(spark, f"{d}/b2", f"{d}/m2").count() == 2000
