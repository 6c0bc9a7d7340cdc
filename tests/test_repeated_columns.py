"""A read that names an output column twice is refused up front with
an error naming the column, through ``decode_table`` and through the
DSv2 source's ``columns`` option (before, Spark analysis failed later
with an ambiguous ``__blk_<col>`` reference)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from boltspark.engine import decode_table, encode_table
from boltspark.sources import datasource as ds


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("repeat")
    b, m = str(base / "b"), str(base / "m")
    df = spark.range(300).select(F.col("id").alias("k"),
                                 (F.col("id") % 7).alias("v"))
    encode_table(df, b, m, key_cols=("k",), n_parts=2, resume=False)
    return b, m


def test_decode_table_rejects_repeated_columns(spark, table):
    b, m = table
    with pytest.raises(ValueError, match=r"duplicate output columns \['k'\]"):
        decode_table(spark, b, m, columns=["k", "k", "v"])
    assert decode_table(spark, b, m, columns=["k", "v"]).count() == 300


def test_datasource_rejects_repeated_columns(spark, table):
    b, m = table
    with pytest.raises(Exception, match=r"duplicate output columns \['v'\]"):
        ds.load(spark, b, m, columns=["v", "k", "v"]).collect()
    assert ds.load(spark, b, m, columns=["v", "k"]).columns == ["v", "k"]
