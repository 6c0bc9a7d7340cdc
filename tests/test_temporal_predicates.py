"""Temporal bounds on RangePredicate: datetime/date values normalize
to the storage epoch integers (timestamps = microseconds, dates =
days) at construction, so range decode / DSv2 pushdown / aggregates
filter timestamp and date columns directly — parity vs Catalyst."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from boltspark.engine import decode_table, encode_table
from boltspark.engine.filters import RangePredicate


@pytest.fixture(scope="module")
def ts_table(spark, tmp_path_factory):
    df = (spark.range(5000)
          .select(F.col("id").alias("k"),
                  F.when(F.col("id") % 19 != 0, F.timestamp_seconds(
                      F.lit(1_600_000_000) + F.col("id") * 3600))
                  .alias("ts"),
                  F.date_add(F.lit("2020-01-01").cast("date"),
                             (F.col("id") % 900).cast("int")).alias("day"),
                  (F.col("id") % 97).alias("v")))
    base = tmp_path_factory.mktemp("tsenc")
    out, man = str(base / "blocks"), str(base / "manifest")
    encode_table(df, out, man, key_cols=("k",),
                 target_partition_bytes=1 << 18, block_bytes=64 << 10,
                 resume=False)
    return df, out, man


def test_timestamp_range_decode(spark, ts_table):
    df, out, man = ts_table
    lo = dt.datetime(2020, 10, 1, tzinfo=dt.timezone.utc)
    hi = dt.datetime(2021, 1, 15, tzinfo=dt.timezone.utc)
    pred = RangePredicate(column="ts", lower=lo, upper=hi)
    got = decode_table(spark, out, man, columns=["k", "ts"], predicate=pred)
    exp = df.select("k", "ts").filter(pred.to_spark_condition())
    assert sorted(got.collect()) == sorted(exp.collect())
    assert got.count() > 0


def test_date_range_decode(spark, ts_table):
    df, out, man = ts_table
    pred = RangePredicate(column="day", lower=dt.date(2020, 6, 1),
                          upper=dt.date(2021, 3, 1))
    got = decode_table(spark, out, man, columns=["k", "day"], predicate=pred)
    exp = df.select("k", "day").filter(pred.to_spark_condition())
    assert sorted(got.collect()) == sorted(exp.collect())
    assert got.count() > 0


def test_timestamp_pushdown_via_datasource(spark, ts_table):
    from boltspark.sources import datasource as ds

    df, out, man = ts_table
    lo = dt.datetime(2020, 10, 1, tzinfo=dt.timezone.utc)
    r = ds.load(spark, out, man)
    got = r.filter(F.col("ts") >= F.lit(lo)).select("k", "ts")
    exp = df.filter(F.col("ts") >= F.lit(lo)).select("k", "ts")
    assert sorted(got.collect()) == sorted(exp.collect())


def test_timestamp_filtered_aggregate(spark, ts_table):
    from boltspark.engine.agg import column_sum

    df, out, man = ts_table
    lo = dt.datetime(2020, 10, 1, tzinfo=dt.timezone.utc)
    pred = RangePredicate(column="ts", lower=lo)
    got = column_sum(spark, out, man, "v", predicate=pred).collect()[0]
    exp = df.filter(F.col("ts") >= F.lit(lo)).agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")).collect()[0]
    assert got["n_rows"] == exp["n"]
    assert got["sum_value"] == float(exp["s"])


@pytest.mark.parametrize("column, needle, outside", [
    ("day", dt.date(2020, 3, 5), dt.date(2019, 1, 1)),
    # a naive datetime is UTC, as for RangePredicate bounds
    ("ts", dt.datetime.fromtimestamp(1_600_000_000 + 100 * 3600,
                                     dt.timezone.utc).replace(tzinfo=None),
     dt.datetime(2000, 1, 1, tzinfo=dt.timezone.utc)),
])
def test_in_temporal_needles_match_a_point_range(spark, ts_table, column,
                                                 needle, outside):
    """InPredicate needles that are dates/datetimes mean the same as the
    point RangePredicate: same mask, same decode (and Catalyst's), same
    explain_scan verdicts — a needle outside every zone skips them all."""
    import numpy as np

    from boltspark.engine.filters import InPredicate, _storage_bound
    from boltspark.engine.stats import explain_scan

    df, out, man = ts_table
    v = _storage_bound(needle)
    vals = np.array([v, v + 1], dtype=np.int64)
    for n in (needle, outside):
        inp = InPredicate(column=column, values=(n,))
        rng = RangePredicate(column=column, lower=n, upper=n)
        assert (inp.mask(vals, None).tolist()
                == rng.mask(vals, None).tolist())
        got = sorted(decode_table(spark, out, man, columns=["k", column],
                                  predicate=inp).collect())
        assert got == sorted(decode_table(spark, out, man,
                                          columns=["k", column],
                                          predicate=rng).collect())
        assert got == sorted(df.select("k", column)
                             .filter(inp.to_spark_condition()).collect())
        assert bool(got) == (n is needle)

        def report(p):
            return sorted(tuple(r) for r in
                          explain_scan(spark, out, man, predicate=p).collect())

        assert report(inp) == report(rng)
    assert InPredicate(column=column, values=(needle,)).mask(
        vals, None).tolist() == [True, False]
    assert {r[0] for r in report(InPredicate(column=column,
                                             values=(outside,)))} == {"skip"}
