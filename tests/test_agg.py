"""Compressed-domain aggregation (engine/agg.py): SUM / GROUP-BY-count
computed from encoded blocks must match Catalyst aggregating the
decoded table, including the rle/dict fast paths that never
materialize rows."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from boltspark.engine import encode_table
from boltspark.engine.agg import column_sum, value_counts
from boltspark.kernels import block as blockmod
from tests.conftest import null_mask


@pytest.fixture(scope="module")
def agg_table(spark, tmp_path_factory):
    """A table engineered to hit every aggregate fast path: a run-heavy
    int column (rle), a low-cardinality string (dict), a float value
    column, and nulls in the canonical %5/%17 pattern."""
    n = 20000
    i = np.arange(n)
    mask = null_mask(n)
    pdf = {
        "k": i,
        "flag": np.repeat(np.array(["A", "N", "R"])[np.arange((n + 99) // 100) % 3],
                          100)[:n],
        "runs": np.repeat(np.arange((n + 499) // 500) % 7, 500)[:n].astype(np.int64),
        "val": np.where(mask, (i % 1000) / 8.0, np.nan),
    }
    import pandas as pd

    df = pd.DataFrame(pdf)
    df.loc[~mask, "val"] = None
    sdf = spark.createDataFrame(df)
    sdf = sdf.withColumn("val", F.when(F.col("val").isNotNull() & ~F.isnan("val"),
                                       F.col("val")))
    base = tmp_path_factory.mktemp("aggenc")
    out, man = str(base / "blocks"), str(base / "manifest")
    encode_table(sdf, out, man, key_cols=("k",),
                 target_partition_bytes=1 << 18, block_bytes=64 << 10,
                 resume=False)
    return sdf, out, man


def test_column_sum_matches_catalyst(spark, agg_table):
    sdf, out, man = agg_table
    for col in ("k", "runs", "val"):
        got = column_sum(spark, out, man, col).collect()[0]
        exp = sdf.agg(
            F.sum(col).alias("s"), F.count(F.lit(1)).alias("n"),
            F.sum(F.col(col).isNull().cast("long")).alias("z")).collect()[0]
        assert got["n_rows"] == exp["n"], col
        assert got["n_nulls"] == exp["z"], col
        assert got["sum_value"] == pytest.approx(float(exp["s"]), rel=1e-12), col


def test_value_counts_matches_catalyst(spark, agg_table):
    sdf, out, man = agg_table
    for col in ("flag", "runs", "val"):
        got = {r["value"]: r["cnt"]
               for r in value_counts(spark, out, man, col).collect()}
        exp = {r["value"]: r["cnt"]
               for r in sdf.groupBy(F.col(col).alias("value"))
               .agg(F.count(F.lit(1)).alias("cnt")).collect()}
        assert got == exp, col


def test_agg_fast_paths_are_exercised(spark, agg_table):
    """The engineered columns must actually store as rle/dict blocks —
    otherwise the O(runs)/O(distinct) paths above tested nothing."""
    _, out, man = agg_table
    rows = (spark.read.parquet(out)
            .select(F.col("cols").getField("runs").getField("codec").alias("r"),
                    F.col("cols").getField("flag").getField("codec").alias("f"))
            .collect())
    assert {r["r"] for r in rows} <= {"rle", "dict"} and rows
    assert {r["f"] for r in rows} <= {"dict", "rle", "prefix", "plain"}
    assert any(r["r"] == "rle" for r in rows)
    assert any(r["f"] == "dict" for r in rows)


def test_block_sum_kernel_fast_paths(rng):
    """The per-group lane reducer on an rle block with nulls (an exact
    int sum, and value counts as the N = 1 key) and on a dict block of
    byte values (counts; SUM refuses the tag)."""
    import pyarrow as pa

    from boltspark.engine.agg import _group_lanes
    from boltspark.engine.decode import _Group

    def lanes(blk, n, key_ts, specs):
        return _group_lanes(_Group(0, n, "all", [blk]), key_ts,
                            specs).to_pylist()

    # rle: run-heavy ints with nulls
    v = np.repeat(rng.integers(-50, 50, 40), 100).astype(np.int64)
    validity = null_mask(len(v))
    dense = v[validity]
    blk = blockmod.encode_block(dense, "i64", "rle", validity=validity,
                                outer="zstd")
    (row,) = lanes(blk, len(v), [], [("sum", None)])
    assert (row["__s_l_0"], row["__cnt"], row["__nv_0"]) == \
        (int(dense.sum()), len(v), int(validity.sum()))
    got = {r["__g_0"]: r["__cnt"] for r in lanes(blk, len(v), [pa.int64()],
                                                 [])}
    expect = dict(zip(*np.unique(dense, return_counts=True)))
    assert got == {**{int(k): int(c) for k, c in expect.items()},
                   None: len(v) - int(validity.sum())}

    # dict over byte values
    langs = [b"en", b"de", b"fr", b"en", b"en", b"zh"] * 500
    from boltspark.kernels import strings

    col = strings.from_pylist(langs)
    blkd = blockmod.encode_block(col, "bytes", "dict", outer="zstd")
    got = {r["__g_0"]: r["__cnt"]
           for r in lanes(blkd, len(langs), [pa.large_binary()], [])}
    assert got == {b"en": 1500, b"de": 500, b"fr": 500, b"zh": 500}
    with pytest.raises(TypeError):
        lanes(blkd, len(langs), [], [("sum", None)])


@pytest.fixture(scope="module")
def null_sel_table(spark, tmp_path_factory):
    """400 rows whose double, decimal(12,2) and d128 decimal(38,2)
    values are NULL on every 5th key."""
    d = tmp_path_factory.mktemp("nullsel")
    k = F.col("id")
    valid = k % 5 != 0
    df = spark.range(400).select(
        k.alias("k"), F.when(valid, k / 4.0).alias("v"),
        F.when(valid, (k / 8).cast("decimal(12,2)")).alias("d"),
        F.when(valid, F.expr("CAST(id AS DECIMAL(38,2)) * 1e20")
               .cast("decimal(38,2)")).alias("big"))
    b, m = str(d / "b"), str(d / "m")
    encode_table(df, b, m, key_cols=("k",), n_parts=2, resume=False)
    return b, m


def test_sum_over_all_null_selection_is_null(spark, null_sel_table):
    """SUM over a selection whose every value is NULL is NULL, as in
    Spark and grouped_sum: column_sum (double and decimal(38,s)),
    column_sums and the fold read_sum applies to sink partials."""
    from boltspark.engine import agg
    from boltspark.engine.filters import InPredicate

    b, m = null_sel_table
    pred = InPredicate(column="k", values=(0, 5, 10, 15))
    cols = ["v", "d", "big"]
    for c in cols:
        got = agg.column_sum(spark, b, m, c, predicate=pred).collect()[0]
        assert (got["sum_value"], got["n_rows"], got["n_nulls"]) == \
            (None, 4, 4), c
        assert agg.column_avg(spark, b, m, c, predicate=pred).collect()[0][
            "avg_value"] is None, c
    got = {r["column"]: r for r in
           agg.column_sums(spark, b, m, cols, predicate=pred).collect()}
    assert {c: (r["sum_value"], r["n_rows"], r["n_nulls"])
            for c, r in got.items()} == {c: (None, 4, 4) for c in cols}
    blocks, preds, _ = agg._plan(spark, b, m, ["v"], pred)
    folded = agg._fold_sum(agg._sum_partials(blocks, preds), "v").collect()
    assert folded[0]["sum_value"] is None
    # a selection with a valid value still sums it
    keep = InPredicate(column="k", values=(0, 6))
    assert agg.column_sum(spark, b, m, "v", predicate=keep).collect()[0][
        "sum_value"] == 1.5


def test_sum_partials_keep_one_row_per_part(spark, agg_table):
    """The SUM partials a streaming sink writes fold the per-block lane
    rows by part_id: one row per part, however many blocks it holds."""
    from boltspark.engine import agg

    _, out, man = agg_table
    for col, build in (("val", agg._sum_partials),
                       ("k", agg._sum_dec_partials)):
        blocks, preds, _ = agg._plan(spark, out, man, [col], None)
        pids = [r[0] for r in build(blocks, preds).select("part_id")
                .collect()]
        assert len(pids) == len(set(pids)) < blocks.count(), col


def test_decimal_rescale_is_exact_past_28_digits():
    """Decimal results and top-k thresholds rescale a 38-digit unscaled
    value exactly (Python's default decimal context keeps 28 digits)."""
    from decimal import Decimal

    import pyarrow as pa
    from pyspark.sql import types as T

    from boltspark.engine import agg

    big = -(10**37) - 123456789
    assert agg._dec_arr([big], pa.decimal128(38, 2)).to_pylist() == \
        [Decimal(big).scaleb(-2, agg._EXACT)]
    assert int(agg._dec_arr([big], pa.decimal128(38, 0))[0].as_py()) == big
    pred = agg._threshold_pred("c", T.DecimalType(38, 2),
                               Decimal(big).scaleb(-2, agg._EXACT), True,
                               False)
    assert pred.upper == big


def test_decode_rle_runs_matches_full_decode(rng):
    v = np.repeat(rng.integers(0, 9, 30), rng.integers(1, 60, 30)).astype(np.int64)
    payload, meta = blockmod.encode_values(v, "i64", "rle")
    rv, rl = blockmod.decode_rle_runs(payload, meta, len(v), "i64")
    np.testing.assert_array_equal(np.repeat(rv, rl.astype(np.int64)), v)


def test_filtered_column_sum_matches_catalyst(spark, agg_table):
    from boltspark.engine.filters import RangePredicate

    sdf, out, man = agg_table
    pred = RangePredicate(column="k", lower=3000, upper=15000,
                          null_allowed=False)
    for col in ("runs", "val", "k"):
        got = column_sum(spark, out, man, col, predicate=pred).collect()[0]
        filt = sdf.filter((F.col("k") >= 3000) & (F.col("k") <= 15000))
        exp = filt.agg(
            F.sum(col).alias("s"), F.count(F.lit(1)).alias("n"),
            F.sum(F.col(col).isNull().cast("long")).alias("z")).collect()[0]
        assert got["n_rows"] == exp["n"], col
        assert got["n_nulls"] == exp["z"], col
        assert got["sum_value"] == pytest.approx(float(exp["s"]), rel=1e-12), col


def test_filtered_value_counts_matches_catalyst(spark, agg_table):
    from boltspark.engine.filters import RangePredicate

    sdf, out, man = agg_table
    pred = RangePredicate(column="val", lower=50.0, upper=None,
                          null_allowed=True)
    got = {r["value"]: r["cnt"]
           for r in value_counts(spark, out, man, "flag",
                                 predicate=pred).collect()}
    exp = {r["value"]: r["cnt"]
           for r in sdf.filter((F.col("val") >= 50.0) | F.col("val").isNull())
           .groupBy(F.col("flag").alias("value"))
           .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert got == exp


def test_filtered_sum_prunes_everything(spark, agg_table):
    from boltspark.engine.filters import RangePredicate

    _, out, man = agg_table
    pred = RangePredicate(column="k", lower=10**9, upper=None,
                          null_allowed=False)
    got = column_sum(spark, out, man, "runs", predicate=pred).collect()[0]
    assert got["n_rows"] == 0 and got["sum_value"] is None
    assert value_counts(spark, out, man, "flag", predicate=pred).count() == 0


def test_column_topk_matches_catalyst(spark, agg_table):
    from boltspark.engine.agg import column_topk

    sdf, out, man = agg_table
    for col, asc in (("k", False), ("k", True), ("val", False),
                     ("flag", False), ("flag", True), ("runs", True)):
        got = [r["value"] for r in
               column_topk(spark, out, man, col, 7, ascending=asc).collect()]
        order = F.col(col).asc() if asc else F.col(col).desc()
        exp = [r[col] for r in sdf.filter(F.col(col).isNotNull())
               .orderBy(order).limit(7).collect()]
        assert got == exp, (col, asc)


def test_column_topk_filtered_and_edge(spark, agg_table):
    from boltspark.engine.agg import column_topk
    from boltspark.engine.filters import RangePredicate

    sdf, out, man = agg_table
    pred = RangePredicate(column="k", lower=None, upper=5000,
                          null_allowed=False)
    got = [r["value"] for r in
           column_topk(spark, out, man, "k", 5, ascending=False,
                       predicate=pred).collect()]
    assert got == [5000, 4999, 4998, 4997, 4996]
    # bytes column under a predicate: masked selective decode + Arrow
    # select_k path
    got_b = [r["value"] for r in
             column_topk(spark, out, man, "flag", 4, ascending=True,
                         predicate=pred).collect()]
    exp_b = [r["flag"] for r in
             sdf.filter((F.col("k") <= 5000) & F.col("flag").isNotNull())
             .orderBy(F.col("flag").asc()).limit(4).collect()]
    assert got_b == exp_b
    # k larger than the table: all rows, ordered
    big = column_topk(spark, out, man, "flag", 10**6).count()
    assert big == sdf.filter(F.col("flag").isNotNull()).count()
    with pytest.raises(ValueError):
        column_topk(spark, out, man, "k", 0)


def _gsum_exp(sdf, g, v, flt=None):
    d = sdf if flt is None else sdf.filter(flt)
    rows = (d.groupBy(F.col(g).alias("value"))
            .agg(F.sum(v).cast("double").alias("s"),
                 F.count(F.lit(1)).alias("c")).collect())
    return {r["value"]: (r["s"], r["c"]) for r in rows}


def _gsum_got(spark, out, man, g, v, pred=None):
    from boltspark.engine.agg import grouped_sum

    rows = grouped_sum(spark, out, man, g, v, predicate=pred).collect()
    return {r["value"]: (r["sum_value"], r["cnt"]) for r in rows}


def test_grouped_sum_matches_catalyst(spark, agg_table):
    sdf, out, man = agg_table
    # dict group x float-with-nulls value; rle group x int value;
    # high-cardinality int group x float value; nullable float group
    # (NULL group row) x int value
    for g, v in (("flag", "val"), ("runs", "k"), ("k", "val"),
                 ("val", "k")):
        got = _gsum_got(spark, out, man, g, v)
        exp = _gsum_exp(sdf, g, v)
        assert set(got) == set(exp), (g, v)
        for key, (es, ec) in exp.items():
            gs, gc = got[key]
            assert gc == ec, (g, v, key)
            if es is None:
                assert gs is None, (g, v, key)
            else:
                assert gs == pytest.approx(es, rel=1e-12), (g, v, key)


def test_grouped_sum_filtered_matches_catalyst(spark, agg_table):
    from boltspark.engine.filters import RangePredicate

    sdf, out, man = agg_table
    pred = RangePredicate(column="k", lower=2500, upper=14000,
                          null_allowed=False)
    got = _gsum_got(spark, out, man, "flag", "val", pred=pred)
    exp = _gsum_exp(sdf, "flag", "val",
                    (F.col("k") >= 2500) & (F.col("k") <= 14000))
    assert set(got) == set(exp)
    for key, (es, ec) in exp.items():
        gs, gc = got[key]
        assert gc == ec and gs == pytest.approx(es, rel=1e-12), key


def test_grouped_sum_all_null_values_sum_null(spark, agg_table):
    from boltspark.engine.filters import RangePredicate

    sdf, out, man = agg_table
    # predicate keeps ONLY rows where val IS NULL -> every group's sum
    # is NULL but counts survive
    pred = RangePredicate(column="val", lower=1e18, upper=None,
                          null_allowed=True)
    got = _gsum_got(spark, out, man, "flag", "val", pred=pred)
    exp = _gsum_exp(sdf, "flag", "val", F.col("val").isNull())
    assert got == exp
    for gs, _gc in got.values():
        assert gs is None


def test_column_minmax_matches_catalyst(spark, agg_table):
    from boltspark.engine.agg import column_minmax

    sdf, out, man = agg_table
    for col in ("k", "runs", "val", "flag"):
        got = column_minmax(spark, out, man, col).collect()[0]
        exp = sdf.agg(F.min(col).alias("lo"), F.max(col).alias("hi"),
                      F.count(F.lit(1)).alias("n"),
                      F.sum(F.col(col).isNull().cast("long")).alias("z")
                      ).collect()[0]
        assert got["vmin"] == exp["lo"] and got["vmax"] == exp["hi"], col
        assert got["n_rows"] == exp["n"] and got["n_nulls"] == exp["z"], col


def test_column_minmax_filtered(spark, agg_table):
    from boltspark.engine.agg import column_minmax
    from boltspark.engine.filters import RangePredicate

    sdf, out, man = agg_table
    pred = RangePredicate(column="k", lower=7000, upper=9000,
                          null_allowed=False)
    for col in ("val", "flag"):
        got = column_minmax(spark, out, man, col, predicate=pred).collect()[0]
        filt = sdf.filter((F.col("k") >= 7000) & (F.col("k") <= 9000))
        exp = filt.agg(F.min(col).alias("lo"), F.max(col).alias("hi"),
                       F.count(F.lit(1)).alias("n")).collect()[0]
        assert got["vmin"] == exp["lo"] and got["vmax"] == exp["hi"], col
        assert got["n_rows"] == exp["n"], col
    # fully pruned
    none = RangePredicate(column="k", lower=10**9, upper=None,
                          null_allowed=False)
    got = column_minmax(spark, out, man, "val", predicate=none).collect()[0]
    assert got["vmin"] is None and got["n_rows"] == 0


def test_column_distinct_matches_catalyst(spark, agg_table):
    from boltspark.engine.agg import column_distinct
    from boltspark.engine.filters import RangePredicate

    sdf, out, man = agg_table
    for col in ("flag", "runs", "val"):
        got = {r["value"] for r in
               column_distinct(spark, out, man, col).collect()}
        exp = {r[col] for r in sdf.select(col).distinct().collect()
               if r[col] is not None}
        assert got == exp, col
    pred = RangePredicate(column="k", lower=0, upper=499,
                          null_allowed=False)
    got = {r["value"] for r in
           column_distinct(spark, out, man, "runs", predicate=pred).collect()}
    assert got == {0}


def test_decimal_sum_exact(spark, tmp_path):
    """SUM over decimal columns stays in the unscaled-integer domain:
    decimal(12,2) (int64 low-word storage) and decimal(38,6) (d128 word
    pairs) both sum EXACTLY — result type decimal(38,s), values equal to
    Catalyst's SUM(decimal) to the last digit, including values needing
    the high 64 bits."""
    from boltspark.engine.agg import column_sum

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    dfd = li.select(
        "l_orderkey", "l_linenumber",
        F.expr("CAST(l_extendedprice AS DECIMAL(12,2))").alias("small"),
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
    for col in ("small", "big"):
        got = column_sum(spark, f"{d}/b", f"{d}/m", col).collect()[0]
        exp = dfd.agg(F.sum(col).alias("s"),
                      F.count(F.lit(1)).alias("n"),
                      F.sum(F.col(col).isNull().cast("long")).alias("z")
                      ).collect()[0]
        assert got["sum_value"] == exp["s"], col  # exact Decimal equality
        assert got["n_rows"] == exp["n"] and got["n_nulls"] == exp["z"], col
    scale = dict(small=2, big=6)
    for col, s in scale.items():
        t = column_sum(spark, f"{d}/b", f"{d}/m", col).schema["sum_value"]
        assert t.dataType.simpleString() == f"decimal(38,{s})", col


def test_decimal_sum_filtered(spark, tmp_path):
    """Predicate + decimal sum: the filter rides the zone/mask cascade,
    the surviving rows sum exactly in the unscaled domain."""
    from boltspark.engine.agg import column_sum
    from boltspark.engine.filters import RangePredicate

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    dfd = li.select(
        "l_orderkey", "l_linenumber", "l_quantity",
        F.expr("CAST(l_extendedprice AS DECIMAL(12,2))").alias("price"))
    d = str(tmp_path)
    encode_table(dfd, f"{d}/b", f"{d}/m",
                 key_cols=("l_orderkey", "l_linenumber"), n_parts=4,
                 resume=False)
    pred = RangePredicate(column="l_quantity", lower=10.0, upper=35.0,
                          null_allowed=False)
    got = column_sum(spark, f"{d}/b", f"{d}/m", "price",
                     predicate=pred).collect()[0]
    filt = dfd.filter((F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 35))
    exp = filt.agg(F.sum("price").alias("s"),
                   F.count(F.lit(1)).alias("n")).collect()[0]
    assert got["sum_value"] == exp["s"]
    assert got["n_rows"] == exp["n"]


def test_decimal_sum_exact_past_int64(spark, tmp_path):
    """decimal(18,0) storage is int64 words: a block whose sum passes
    2^63 still sums exactly (no int64 wraparound inside the block)."""
    from boltspark.engine.agg import column_sum

    df = spark.range(20).select(
        F.col("id").alias("k"),
        F.lit(9 * 10**17).cast("decimal(18,0)").alias("big"))
    d = str(tmp_path)
    encode_table(df, f"{d}/b", f"{d}/m", key_cols=("k",), n_parts=1,
                 resume=False)
    got = column_sum(spark, f"{d}/b", f"{d}/m", "big").collect()[0]
    assert got["sum_value"] == df.agg(F.sum("big")).collect()[0][0] \
        == 18 * 10**18


def test_grouped_decimal_sum_exact_mixed_signs_near_int64(spark, tmp_path):
    """decimal(18,0) words near +-9e17 sum exactly per group: one group
    past +2^63, one below -2^63, one alternating in sign; checked
    against exact Python sums, and the scalar SUM against their total."""
    from decimal import Decimal

    from boltspark.engine.agg import grouped_sum

    def value(i):
        mag = 9 * 10**17 - 7 * i
        return (mag if i % 3 == 0 else -mag if i % 3 == 2
                else mag * (-1) ** (i // 3))

    rows = [(i, i % 3, Decimal(value(i))) for i in range(90)]
    df = spark.createDataFrame(rows, "k long, g long, v decimal(18,0)")
    d = str(tmp_path)
    encode_table(df, f"{d}/b", f"{d}/m", key_cols=("k",), n_parts=2,
                 resume=False)
    want = {g: sum(value(i) for i in range(90) if i % 3 == g)
            for g in range(3)}
    assert want[0] > 2**63 and want[2] < -(2**63)
    got = {r["value"]: r["sum_value"] for r in
           grouped_sum(spark, f"{d}/b", f"{d}/m", "g", "v").collect()}
    assert got == {g: Decimal(s) for g, s in want.items()}
    total = column_sum(spark, f"{d}/b", f"{d}/m", "v").collect()[0]
    assert total["sum_value"] == sum(want.values())


def test_grouped_sum_decimal_exact(spark, tmp_path):
    """GROUP BY flag -> SUM(decimal): exact unscaled-domain arithmetic
    for both int64 low-word (p<=18) and d128 word-pair storage, result
    decimal(38,s) equal to Catalyst digit-for-digit; all-null-value
    groups sum NULL."""
    from boltspark.engine.agg import grouped_sum

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    dfd = li.select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.expr("CAST(l_extendedprice AS DECIMAL(12,2))").alias("small"),
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
    for col in ("small", "big"):
        got = {r["value"]: (r["sum_value"], r["cnt"]) for r in
               grouped_sum(spark, f"{d}/b", f"{d}/m", "l_returnflag",
                           col).collect()}
        exp = {r["value"]: (r["s"], r["c"]) for r in
               dfd.groupBy(F.col("l_returnflag").alias("value"))
               .agg(F.sum(col).alias("s"),
                    F.count(F.lit(1)).alias("c")).collect()}
        assert set(got) == set(exp), col
        for k, (es, ec) in exp.items():
            gs, gc = got[k]
            assert gc == ec and gs == es, (col, k)  # exact Decimal equality


def test_column_sums_one_scan_matches_per_column(spark, agg_table):
    """column_sums: N sums in one scan must equal per-column column_sum
    and Catalyst, with and without a shared predicate."""
    from boltspark.engine.agg import column_sums
    from boltspark.engine.filters import RangePredicate

    sdf, out, man = agg_table
    cols = ["k", "runs", "val"]
    for pred, flt in ((None, None),
                      (RangePredicate(column="k", lower=3000, upper=15000,
                                      null_allowed=False),
                       (F.col("k") >= 3000) & (F.col("k") <= 15000))):
        got = {r["column"]: r for r in
               column_sums(spark, out, man, cols, predicate=pred).collect()}
        d = sdf if flt is None else sdf.filter(flt)
        for c in cols:
            exp = d.agg(F.sum(c).alias("s"), F.count(F.lit(1)).alias("n"),
                        F.sum(F.col(c).isNull().cast("long")).alias("z")
                        ).collect()[0]
            assert got[c]["n_rows"] == exp["n"], c
            assert got[c]["n_nulls"] == exp["z"], c
            assert got[c]["sum_value"] == pytest.approx(float(exp["s"]),
                                                        rel=1e-12), c
    with pytest.raises(ValueError):
        column_sums(spark, out, man, [])
    with pytest.raises(KeyError):
        column_sums(spark, out, man, ["nope"])


def test_column_sums_mixed_decimal(spark, tmp_path):
    from boltspark.engine.agg import column_sums

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    dfd = li.select(
        "l_orderkey", "l_linenumber", "l_quantity",
        F.expr("CAST(l_extendedprice AS DECIMAL(12,2))").alias("price"))
    d = str(tmp_path)
    encode_table(dfd, f"{d}/b", f"{d}/m",
                 key_cols=("l_orderkey", "l_linenumber"), n_parts=4,
                 resume=False)
    got = {r["column"]: r for r in
           column_sums(spark, f"{d}/b", f"{d}/m",
                       ["l_quantity", "price"]).collect()}
    exp = dfd.agg(F.sum("l_quantity").alias("q"),
                  F.sum("price").cast("double").alias("p")).collect()[0]
    assert got["l_quantity"]["sum_value"] == pytest.approx(float(exp["q"]),
                                                           rel=1e-12)
    assert got["price"]["sum_value"] == pytest.approx(exp["p"], rel=1e-12)


def test_aggregate_as_of_run(spark, tmp_path):
    """Time travel: runs_as_of(run) + run_ids= reconstructs the
    aggregate exactly as it stood after that commit — appended runs
    don't leak into the past."""
    from boltspark.engine.agg import column_sum, value_counts
    from boltspark.engine.manifest import runs_as_of

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    half = F.col("l_orderkey") % 2
    d = str(tmp_path)
    encode_table(li.filter(half == 0), f"{d}/b", f"{d}/m",
                 key_cols=("l_orderkey", "l_linenumber"), n_parts=4,
                 resume=False, run_id="e0")
    encode_table(li.filter(half == 1), f"{d}/b", f"{d}/m",
                 key_cols=("l_orderkey", "l_linenumber"), n_parts=4,
                 resume=False, run_id="e1")
    past = runs_as_of(spark, f"{d}/m", "e0")
    assert past == ["e0"]
    got = column_sum(spark, f"{d}/b", f"{d}/m", "l_quantity",
                     run_ids=past).collect()[0]
    exp = li.filter(half == 0).agg(F.sum("l_quantity"),
                                   F.count(F.lit(1))).collect()[0]
    assert got["sum_value"] == pytest.approx(float(exp[0]), rel=1e-12)
    assert got["n_rows"] == exp[1]
    # present: both runs
    now = runs_as_of(spark, f"{d}/m", "e1")
    assert now == ["e0", "e1"]
    vc = {r["value"]: r["cnt"] for r in
          value_counts(spark, f"{d}/b", f"{d}/m", "l_returnflag",
                       run_ids=now).collect()}
    exp_vc = {r["value"]: r["cnt"] for r in
              li.groupBy(F.col("l_returnflag").alias("value"))
              .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert vc == exp_vc
    with pytest.raises(KeyError):
        runs_as_of(spark, f"{d}/m", "nope")


def test_column_distinct_approx_matches_exact(spark, agg_table):
    """HLL approx distinct within its error bound on every codec path:
    dict strings (flag), rle ints (runs), high-cardinality ints (k),
    floats with nulls (val)."""
    from boltspark.engine.agg import column_distinct_approx

    sdf, out, man = agg_table
    n = sdf.count()
    for col in ("flag", "runs", "k", "val"):
        got = column_distinct_approx(spark, out, man, col).collect()[0]
        exact = sdf.select(F.countDistinct(col)).collect()[0][0]
        nulls = sdf.filter(F.col(col).isNull()).count()
        assert got["column"] == col
        assert got["n_rows"] == n, col
        assert got["n_nulls"] == nulls, col
        assert abs(got["approx_distinct"] - exact) <= max(3, 0.03 * exact), col


def test_column_distinct_approx_filtered_and_pruned(spark, agg_table):
    from boltspark.engine.agg import column_distinct_approx
    from boltspark.engine.filters import RangePredicate

    sdf, out, man = agg_table
    pred = RangePredicate(column="k", lower=0, upper=499, null_allowed=False)
    got = column_distinct_approx(spark, out, man, "runs",
                                 predicate=pred).collect()[0]
    # k in [0, 500) -> runs is the single value 0
    assert got["approx_distinct"] == 1
    assert got["n_rows"] == 500
    # fully-pruned predicate -> zero row, not an empty frame
    dead = RangePredicate(column="k", lower=10**9, upper=None,
                          null_allowed=False)
    got = column_distinct_approx(spark, out, man, "k",
                                 predicate=dead).collect()[0]
    assert got["approx_distinct"] == 0 and got["n_rows"] == 0


def test_column_distinct_approx_is_deterministic(spark, agg_table):
    from boltspark.engine.agg import column_distinct_approx

    _, out, man = agg_table
    a = column_distinct_approx(spark, out, man, "k").collect()[0]
    b = column_distinct_approx(spark, out, man, "k").collect()[0]
    assert a["approx_distinct"] == b["approx_distinct"]


def test_column_quantiles_matches_exact(spark, agg_table):
    """Equi-depth summary quantiles within 1% rank error on every codec
    path; rle/dict blocks are exact per block (distinct <= k)."""
    from boltspark.engine.agg import column_quantiles

    sdf, out, man = agg_table
    n = sdf.count()
    for col in ("runs", "k", "val"):
        rows = column_quantiles(spark, out, man, col,
                                probs=(0.1, 0.5, 0.9)).collect()
        nulls = sdf.filter(F.col(col).isNull()).count()
        n_valid = n - nulls
        assert len(rows) == 3
        for r in rows:
            assert r["column"] == col
            assert r["n_rows"] == n and r["n_nulls"] == nulls
            # rank check: the true rank interval of the estimate,
            # [P(col < v), P(col <= v)], must cover p within 1% —
            # point masses legitimately widen the interval (a discrete
            # lower-quantile's rank overshoots p by up to the mass)
            lo = sdf.filter(F.col(col) < r["value"]).count() / n_valid
            hi = sdf.filter(F.col(col) <= r["value"]).count() / n_valid
            assert lo <= r["p"] + 0.01 and hi >= r["p"] - 0.01, \
                (col, r["p"], r["value"], lo, hi)


def test_column_quantiles_low_cardinality_exact(spark, agg_table):
    from boltspark.engine.agg import column_quantiles

    sdf, out, man = agg_table
    # runs has 7 distinct values -> every block summary exact; median
    # must equal the true weighted median
    got = {r["p"]: r["value"] for r in
           column_quantiles(spark, out, man, "runs", probs=(0.5,)).collect()}
    exact = sdf.selectExpr("percentile_cont(0.5) WITHIN GROUP "
                           "(ORDER BY runs) AS m").collect()[0]["m"]
    assert abs(got[0.5] - float(exact)) <= 1.0


def test_column_quantiles_filtered_pruned_and_bytes_raise(spark, agg_table):
    from boltspark.engine.agg import column_quantiles
    from boltspark.engine.filters import RangePredicate

    sdf, out, man = agg_table
    pred = RangePredicate(column="k", lower=0, upper=499, null_allowed=False)
    rows = column_quantiles(spark, out, man, "k", probs=(0.5,),
                            predicate=pred).collect()
    assert rows[0]["n_rows"] == 500
    assert 0 <= rows[0]["value"] <= 499
    dead = RangePredicate(column="k", lower=10**9, upper=None,
                          null_allowed=False)
    rows = column_quantiles(spark, out, man, "k", probs=(0.5,),
                            predicate=dead).collect()
    assert rows[0]["value"] is None and rows[0]["n_rows"] == 0
    import pytest as _pt
    with _pt.raises(Exception):
        column_quantiles(spark, out, man, "flag", probs=(0.5,)).collect()


def test_grouped_distinct_approx_matches_exact(spark, agg_table):
    """Per-group HLL distinct within the error bound; NULL group row and
    NULL-value exclusion per SQL semantics."""
    from boltspark.engine.agg import grouped_distinct_approx

    sdf, out, man = agg_table
    got = {r["value"]: r for r in
           grouped_distinct_approx(spark, out, man, "flag", "k").collect()}
    exp = {r["value"]: r for r in
           sdf.groupBy(F.col("flag").alias("value"))
           .agg(F.countDistinct("k").alias("nd"),
                F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(got) == set(exp)
    for v, e in exp.items():
        assert got[v]["cnt"] == e["cnt"], v
        assert abs(got[v]["approx_distinct"] - e["nd"]) <= \
            max(3, 0.05 * e["nd"]), (v, got[v]["approx_distinct"], e["nd"])
    # null VALUES never count: val has nulls, runs is the group
    got2 = {r["value"]: r for r in
            grouped_distinct_approx(spark, out, man, "runs", "val").collect()}
    exp2 = {r["value"]: r for r in
            sdf.groupBy(F.col("runs").alias("value"))
            .agg(F.countDistinct("val").alias("nd"),
                 F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(got2) == set(exp2)
    for v, e in exp2.items():
        assert got2[v]["cnt"] == e["cnt"], v
        assert abs(got2[v]["approx_distinct"] - e["nd"]) <= \
            max(3, 0.05 * e["nd"]), (v, got2[v]["approx_distinct"], e["nd"])


def test_grouped_distinct_approx_filtered(spark, agg_table):
    from boltspark.engine.agg import grouped_distinct_approx
    from boltspark.engine.filters import RangePredicate

    sdf, out, man = agg_table
    pred = RangePredicate(column="k", lower=3000, upper=15000,
                          null_allowed=False)
    got = {r["value"]: r for r in
           grouped_distinct_approx(spark, out, man, "flag", "k",
                                   predicate=pred).collect()}
    filt = sdf.filter((F.col("k") >= 3000) & (F.col("k") <= 15000))
    exp = {r["value"]: r for r in
           filt.groupBy(F.col("flag").alias("value"))
           .agg(F.countDistinct("k").alias("nd"),
                F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(got) == set(exp)
    for v, e in exp.items():
        assert got[v]["cnt"] == e["cnt"], v
        assert abs(got[v]["approx_distinct"] - e["nd"]) <= \
            max(3, 0.05 * e["nd"]), v


# ---------------------------------------------------------------------------
# round 5: multi-column GROUP BY, AVG/COUNT, grouped quantiles
# ---------------------------------------------------------------------------


def test_grouped_sum_multi_matches_catalyst(spark, agg_table):
    """GROUP BY (flag, runs) -> SUM/COUNT via the composite code stream
    must match Catalyst on the decoded table, for int and float value
    columns."""
    from boltspark.engine.agg import grouped_sum_multi

    sdf, out, man = agg_table
    for vcol in ("val", "k"):
        got = {(r["flag"], r["runs"]): r for r in grouped_sum_multi(
            spark, out, man, ["flag", "runs"], vcol).collect()}
        exp = {(r["flag"], r["runs"]): r for r in sdf.groupBy("flag", "runs")
               .agg(F.sum(vcol).alias("sum_value"),
                    F.count(F.lit(1)).alias("cnt")).collect()}
        assert set(got) == set(exp), vcol
        for key, e in exp.items():
            assert got[key]["cnt"] == e["cnt"], (vcol, key)
            if e["sum_value"] is None:
                assert got[key]["sum_value"] is None, (vcol, key)
            else:
                assert got[key]["sum_value"] == pytest.approx(
                    float(e["sum_value"]), rel=1e-12), (vcol, key)


def test_grouped_sum_multi_null_group_keys(spark, agg_table):
    """A nullable group dimension (val has the %5/%17 null pattern)
    forms its own composite key rows, matching SQL GROUP BY."""
    from boltspark.engine.agg import grouped_sum_multi

    sdf, out, man = agg_table
    got = {(r["flag"], r["val"]): r["cnt"] for r in grouped_sum_multi(
        spark, out, man, ["flag", "val"], "k").collect()}
    exp = {(r["flag"], r["val"]): r["cnt"] for r in sdf.groupBy("flag", "val")
           .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert got == exp
    assert any(k[1] is None for k in got)  # NULL dimension keys exist


def test_grouped_sum_multi_filtered(spark, agg_table):
    from boltspark.engine.agg import grouped_sum_multi
    from boltspark.engine.filters import RangePredicate

    sdf, out, man = agg_table
    pred = RangePredicate(column="k", lower=3000, upper=15000,
                          null_allowed=False)
    got = {(r["flag"], r["runs"]): r for r in grouped_sum_multi(
        spark, out, man, ["flag", "runs"], "val", predicate=pred).collect()}
    fsdf = sdf.filter((F.col("k") >= 3000) & (F.col("k") <= 15000))
    exp = {(r["flag"], r["runs"]): r for r in fsdf.groupBy("flag", "runs")
           .agg(F.sum("val").alias("sum_value"),
                F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(got) == set(exp)
    for key, e in exp.items():
        assert got[key]["cnt"] == e["cnt"], key
        assert got[key]["sum_value"] == pytest.approx(
            float(e["sum_value"]), rel=1e-12), key


def test_grouped_sum_multi_single_column_falls_back(spark, agg_table):
    from boltspark.engine.agg import grouped_sum, grouped_sum_multi

    _, out, man = agg_table
    a = {r["flag"]: (r["sum_value"], r["cnt"]) for r in grouped_sum_multi(
        spark, out, man, ["flag"], "val").collect()}
    b = {r["value"]: (r["sum_value"], r["cnt"]) for r in grouped_sum(
        spark, out, man, "flag", "val").collect()}
    assert a == b


def test_grouped_sum_multi_rejects_decimal_and_dups(spark, tmp_path):
    from boltspark.engine.agg import grouped_sum_multi

    d = str(tmp_path)
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
        F.col("l_quantity").cast("decimal(12,2)").alias("qty"))
    encode_table(li, f"{d}/b", f"{d}/m",
                 key_cols=("l_orderkey", "l_linenumber"), resume=False)
    with pytest.raises(NotImplementedError):
        grouped_sum_multi(spark, f"{d}/b", f"{d}/m",
                          ["l_returnflag", "l_linestatus"], "qty")
    with pytest.raises(ValueError):
        grouped_sum_multi(spark, f"{d}/b", f"{d}/m",
                          ["l_returnflag", "l_returnflag"], "l_orderkey")


def test_grouped_sum_multi_tpch_q1_shape(spark, tmp_path):
    """The TPC-H Q1 core: GROUP BY (l_returnflag, l_linestatus) with a
    quantity predicate — the exact rollup VERDICT r4 named."""
    from boltspark.engine.agg import grouped_sum_multi
    from boltspark.engine.filters import RangePredicate

    d = str(tmp_path)
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
        "l_extendedprice", "l_quantity")
    encode_table(li, f"{d}/b", f"{d}/m",
                 key_cols=("l_orderkey", "l_linenumber"), resume=False)
    pred = RangePredicate(column="l_quantity", lower=5.0, upper=45.0,
                          null_allowed=False)
    got = {(r["l_returnflag"], r["l_linestatus"]): r for r in
           grouped_sum_multi(spark, f"{d}/b", f"{d}/m",
                             ["l_returnflag", "l_linestatus"],
                             "l_extendedprice", predicate=pred).collect()}
    fli = li.filter((F.col("l_quantity") >= 5.0) & (F.col("l_quantity") <= 45.0))
    exp = {(r["l_returnflag"], r["l_linestatus"]): r for r in
           fli.groupBy("l_returnflag", "l_linestatus")
           .agg(F.sum("l_extendedprice").alias("sum_value"),
                F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(got) == set(exp)
    for key, e in exp.items():
        assert got[key]["cnt"] == e["cnt"], key
        assert got[key]["sum_value"] == pytest.approx(
            float(e["sum_value"]), rel=1e-12), key


def test_column_avg_matches_catalyst(spark, agg_table):
    """AVG with SQL null semantics: nulls leave numerator AND
    denominator; an empty selection averages to NULL (not 0/0)."""
    from boltspark.engine.agg import column_avg
    from boltspark.engine.filters import RangePredicate

    sdf, out, man = agg_table
    for col in ("k", "val"):
        got = column_avg(spark, out, man, col).collect()[0]
        exp = sdf.agg(F.avg(col).alias("a"),
                      F.count(F.lit(1)).alias("n")).collect()[0]
        assert got["n_rows"] == exp["n"], col
        assert got["avg_value"] == pytest.approx(float(exp["a"]),
                                                 rel=1e-12), col
    # empty selection -> NULL average, zero counts
    pred = RangePredicate(column="k", lower=10**9, upper=2 * 10**9,
                          null_allowed=False)
    got = column_avg(spark, out, man, "val", predicate=pred).collect()[0]
    assert got["avg_value"] is None
    assert got["n_rows"] == 0


def test_column_count_matches_catalyst(spark, agg_table):
    """COUNT(col) works for STRING columns too (validity only, no value
    decode) and under a predicate."""
    from boltspark.engine.agg import column_count
    from boltspark.engine.filters import RangePredicate

    sdf, out, man = agg_table
    for col in ("flag", "val", "k"):
        got = column_count(spark, out, man, col).collect()[0]
        exp = sdf.agg(F.count(col).alias("nv"),
                      F.count(F.lit(1)).alias("n")).collect()[0]
        assert got["n_values"] == exp["nv"], col
        assert got["n_rows"] == exp["n"], col
        assert got["n_nulls"] == exp["n"] - exp["nv"], col
    pred = RangePredicate(column="k", lower=100, upper=4999,
                          null_allowed=False)
    got = column_count(spark, out, man, "val", predicate=pred).collect()[0]
    fsdf = sdf.filter((F.col("k") >= 100) & (F.col("k") <= 4999))
    exp = fsdf.agg(F.count("val").alias("nv"),
                   F.count(F.lit(1)).alias("n")).collect()[0]
    assert got["n_values"] == exp["nv"]
    assert got["n_rows"] == exp["n"]


def test_grouped_quantiles_matches_exact(spark, agg_table):
    """Per-group equi-depth quantiles: each group's estimate must sit
    within 2% true rank of its target, and the per-group row/null
    bookkeeping must be exact."""
    from boltspark.engine.agg import grouped_quantiles

    sdf, out, man = agg_table
    probs = (0.25, 0.5, 0.9)
    rows = grouped_quantiles(spark, out, man, "flag", "val",
                             probs=probs).collect()
    exp_counts = {r["flag"]: r for r in sdf.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("val").isNull().cast("long")).alias("z")).collect()}
    assert {r["value"] for r in rows} == set(exp_counts)
    for r in rows:
        e = exp_counts[r["value"]]
        assert r["n_rows"] == e["n"], r
        assert r["n_nulls"] == e["z"], r
        grp = sdf.filter(F.col("flag") == r["value"])
        n_valid = e["n"] - e["z"]
        rank = grp.filter(F.col("val") <= r["q"]).count() / n_valid
        assert abs(rank - r["p"]) <= 0.02, (r, rank)


def test_grouped_quantiles_all_null_group_and_filter(spark, tmp_path):
    """An all-null group quantiles to NULL; a predicate restricts the
    per-group populations."""
    from boltspark.engine.agg import grouped_quantiles
    from boltspark.engine.filters import RangePredicate

    import pandas as pd

    n = 4000
    i = np.arange(n)
    g = np.where(i % 4 == 0, "dead", np.where(i % 2 == 0, "x", "y"))
    v = np.where(g == "dead", np.nan, i.astype(np.float64))
    df = pd.DataFrame({"k": i, "g": g, "v": v})
    sdf = spark.createDataFrame(df).withColumn(
        "v", F.when(~F.isnan("v"), F.col("v")))
    d = str(tmp_path)
    encode_table(sdf, f"{d}/b", f"{d}/m", key_cols=("k",),
                 block_bytes=16 << 10, resume=False)
    pred = RangePredicate(column="k", lower=0, upper=1999,
                          null_allowed=False)
    rows = {(r["value"], r["p"]): r for r in grouped_quantiles(
        spark, f"{d}/b", f"{d}/m", "g", "v", probs=(0.5,),
        predicate=pred).collect()}
    assert rows[("dead", 0.5)]["q"] is None
    assert rows[("dead", 0.5)]["n_nulls"] == rows[("dead", 0.5)]["n_rows"]
    for gname in ("x", "y"):
        r = rows[(gname, 0.5)]
        grp = sdf.filter((F.col("g") == gname) & (F.col("k") <= 1999))
        n_valid = grp.filter(F.col("v").isNotNull()).count()
        assert r["n_rows"] == grp.count()
        rank = grp.filter(F.col("v") <= r["q"]).count() / n_valid
        assert abs(rank - 0.5) <= 0.03, (gname, rank)
