"""Engine vs Catalyst on the value-set edges of numeric predicates:
int64 bounds past 2^53 (float64 stats cannot hold them), NaN (Spark
sorts it above +inf and makes NaN = NaN; a NaN-bearing block stores NaN
stats) and float32 columns (Catalyst compares them in double).
``decode_table(predicate=p)`` must return exactly
``df.filter(p.to_spark_condition())``, and so must SQL over the DSv2
source, which hands these filters to the engine and never re-applies
them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from boltspark.engine import decode_table, encode_table
from boltspark.engine.filters import InPredicate, NotPredicate, RangePredicate

NAN = float("nan")
INF = float("inf")


def _keys(df) -> list[int]:
    return sorted(r[0] for r in df.select("k").collect())


def _encode(df, base, **kw):
    out, man = str(base / "b"), str(base / "m")
    encode_table(df, out, man, key_cols=("k",), resume=False, **kw)
    return out, man


def test_int64_bounds_past_2_53(spark, tmp_path):
    """A block whose 50 rows all hold 2^60: a bound of 2^60+1 keeps no
    bigint row (exact compare) but every double row (Catalyst compares
    against the rounded literal, 2^60)."""
    df = (spark.range(50).select(F.col("id").alias("k"),
                                 F.lit(2**60).cast("long").alias("x"),
                                 F.lit(2**60).cast("double").alias("d")))
    out, man = _encode(df, tmp_path, n_parts=1)
    b = 2**60 + 1
    for p in (RangePredicate(column="x", lower=b, upper=b),
              RangePredicate(column="x", lower=b),
              RangePredicate(column="x", upper=2**60 - 1),
              InPredicate(column="x", values=(b,)),
              RangePredicate(column="d", lower=b, upper=b),
              RangePredicate(column="d", lower=b),
              NotPredicate(RangePredicate(column="x", lower=b))):
        got = decode_table(spark, out, man, predicate=p, columns=["k"])
        assert got.count() == df.filter(p.to_spark_condition()).count(), p


def test_nan_block_keeps_its_rows(spark, tmp_path):
    """x = [1.0, NaN, 3.0, 0.5] in one block: its stats are NaN, which
    read as unknown, and the NaN row sorts above every bound."""
    df = spark.createDataFrame([(0, 1.0), (1, NAN), (2, 3.0), (3, 0.5)],
                               "k long, x double")
    out, man = _encode(df, tmp_path, n_parts=1)
    for p, want in ((RangePredicate(column="x", upper=2.0), [0, 3]),
                    (RangePredicate(column="x", lower=0.0, upper=10.0), [0, 2, 3]),
                    (InPredicate(column="x", values=(1.0,)), [0]),
                    (RangePredicate(column="x", lower=0.0), [0, 1, 2, 3]),
                    (InPredicate(column="x", values=(NAN,)), [1])):
        assert _keys(decode_table(spark, out, man, predicate=p)) == want, p
        assert _keys(df.filter(p.to_spark_condition())) == want, p


@pytest.fixture(scope="module")
def nan_table(spark, tmp_path_factory):
    # sorted by x: most blocks hold tight NaN-free zones, the last of
    # each partition holds the NaNs (Spark sorts them last)
    x = (F.when(F.col("id") % 13 == 0, F.lit(None))
         .when(F.col("id") % 17 == 0, F.lit(NAN))
         .when(F.col("id") % 29 == 0, F.lit(INF))
         .otherwise((F.col("id") % 40) * 0.5 - 5.0))
    df = spark.range(1200).select(
        F.col("id").alias("k"), x.cast("double").alias("x"),
        ((F.col("id") % 7) * 0.1).cast("float").alias("f"))
    out, man = _encode(df, tmp_path_factory.mktemp("nan"), sort_cols=("x",),
                       n_parts=2, block_bytes=1 << 10)
    return df, out, man


def _float_preds():
    leaves = []
    for na in (False, True):
        leaves += [
            RangePredicate(column="x", lower=0.0, null_allowed=na),
            RangePredicate(column="x", lower=0.5, lower_inclusive=False,
                           null_allowed=na),
            RangePredicate(column="x", upper=2.0, null_allowed=na),
            RangePredicate(column="x", upper=2.0, upper_inclusive=False,
                           null_allowed=na),
            RangePredicate(column="x", lower=-1.0, upper=INF, null_allowed=na),
            RangePredicate(column="x", lower=NAN, null_allowed=na),
            RangePredicate(column="x", upper=NAN, upper_inclusive=False,
                           null_allowed=na),
            InPredicate(column="x", values=(1.0, -5.0), null_allowed=na),
            InPredicate(column="x", values=(NAN, 0.5), null_allowed=na),
        ]
    return leaves + [NotPredicate(p, null_allowed=p.null_allowed)
                     for p in leaves]


@pytest.mark.parametrize("pred", _float_preds(), ids=repr)
def test_float_predicates_match_catalyst(spark, nan_table, pred):
    df, out, man = nan_table
    got = decode_table(spark, out, man, predicate=pred, columns=["k"])
    assert _keys(got) == _keys(df.filter(pred.to_spark_condition()))


def test_float32_compares_in_double(spark, nan_table):
    df, out, man = nan_table
    for p in (RangePredicate(column="f", upper=0.1),
              RangePredicate(column="f", lower=0.3),
              InPredicate(column="f", values=(0.1, 0.5))):
        got = decode_table(spark, out, man, predicate=p, columns=["k"])
        assert _keys(got) == _keys(df.filter(p.to_spark_condition())), p


def test_dsv2_sql_over_nan_block(spark, nan_table):
    from boltspark.sources import datasource as ds

    df, out, man = nan_table
    src = ds.load(spark, out, man)
    for cond in ("x <= 2.0", "x > 0.5", "x IN (1.0, -5.0)", "NOT (x >= 0.0)",
                 "x != 1.0"):
        assert _keys(src.filter(cond)) == _keys(df.filter(cond)), cond
