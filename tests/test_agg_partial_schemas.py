"""The partial-aggregate frames streaming/agg_stream.py persists to its
run-keyed parquet sinks are an on-disk format: a sink written earlier
must still fold with the current code.  Pin each builder's
(name, dataType) list, both on the frame and after a parquet round
trip."""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from boltspark.engine import agg, encode_table
from boltspark.engine.decode import arrow_out_type

L, D, B, S = T.LongType(), T.DoubleType(), T.BooleanType(), T.StringType()
PID = ("part_id", T.IntegerType())
LIST_D = T.ArrayType(D, True)

EXPECTED = {
    "sum": [PID, ("s_l", L), ("s_d", D), ("is_f", B), ("rows", L),
            ("nulls", L)],
    "sum_dec": [PID, ("s_dec", T.DecimalType(38, 0)), ("rows", L),
                ("nulls", L)],
    "vc": [PID, ("value", S), ("cnt", L)],
    "hll": [PID, ("regs", T.BinaryType()), ("rows", L), ("nulls", L)],
    "quantile": [PID, ("vs", LIST_D), ("ws", LIST_D), ("rows", L),
                 ("nulls", L)],
    "gsum": [PID, ("value", S), ("cnt", L), ("nv", L), ("s_l", L),
             ("s_d", D), ("is_f", B)],
}


@pytest.fixture(scope="module")
def small(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("partials")
    b, m = str(base / "b"), str(base / "m")
    df = spark.range(600).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 != 0, (F.col("id") % 3).cast("string"))
        .alias("g"),
        F.when(F.col("id") % 5 != 0, F.col("id") / 4.0).alias("v"),
        (F.col("id") / 100).cast("decimal(10,2)").alias("d"))
    encode_table(df, b, m, key_cols=("k",), n_parts=2, resume=False)
    return b, m, base


def _project(spark, b, m, columns):
    """Batch blocks projection of ``columns`` without a predicate — the
    frame agg_stream hands a partial builder for one run.  Also accepts
    the single-column/``value_column`` projection signature, so the pin
    can be checked against code from before the one-list projection."""
    if "columns" in inspect.signature(agg._blocks_proj).parameters:
        return agg._blocks_proj(spark, b, m, columns, [])
    return agg._blocks_proj(spark, b, m, columns[0], [], *columns[1:])


def _frames(spark, b, m):
    out_t = arrow_out_type(S, spark.conf.get("spark.sql.session.timeZone",
                                             "UTC"))
    # the grouped builder once also took an is_bytes flag
    gsum_args = ((S, out_t, True) if "is_bytes" in
                 inspect.signature(agg._gsum_partials).parameters
                 else (S, out_t))
    return {
        "sum": agg._sum_partials(_project(spark, b, m, ["v"]), []),
        "sum_dec": agg._sum_dec_partials(_project(spark, b, m, ["d"]), []),
        "vc": agg._vc_partials(spark, _project(spark, b, m, ["g"]), [], S),
        "hll": agg._hll_partials(_project(spark, b, m, ["k"]), [], 10),
        "quantile": agg._quantile_partials(_project(spark, b, m, ["v"]), [],
                                           64, 256),
        "gsum": agg._gsum_partials(_project(spark, b, m, ["g", "v"]), [],
                                   *gsum_args),
    }


def _names_types(schema):
    return [(f.name, f.dataType) for f in schema.fields]


@pytest.mark.parametrize("name", list(EXPECTED))
def test_persisted_partial_schema(spark, small, name):
    b, m, base = small
    frame = _frames(spark, b, m)[name]
    assert _names_types(frame.schema) == EXPECTED[name]
    path = str(base / f"sink_{name}")
    frame.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert _names_types(back.schema) == EXPECTED[name]
    assert back.count() > 0
