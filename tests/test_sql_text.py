"""The read plans are SQL text: every literal comes from
``manifest._sql_lit`` and every name from ``manifest._sql_name``.  Each
literal must parse back to exactly its value and each name to exactly
its column, whatever quotes, backslashes, ``${...}`` or non-ASCII text
they hold; and a column name the parser (or Spark's parquet writer)
would substitute is refused at encode."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from boltspark.engine import decode_table, encode_table
from boltspark.engine.manifest import _sql_lit, _sql_name

_AWKWARD = ["", "'", "\\", "''", "\\'", "${x}", "${spark.app.name}", "`",
            "a b", "é", "日本", "\x00", "\n", "--", "/*", ";"]

_floats = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True, allow_subnormal=True),
    st.sampled_from([0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308,
                     float(2 ** 53 + 1), float(2 ** 63), -float(2 ** 63),
                     float(2 ** 64), math.nan, math.inf, -math.inf]))
_ints = st.one_of(
    st.integers(-(1 << 63), (1 << 63) - 1),
    st.sampled_from([0, -1, (1 << 31) - 1, -(1 << 31), 1 << 31,
                     -(1 << 31) - 1, (1 << 53) + 1, (1 << 63) - 1,
                     -(1 << 63)]))
_strs = st.one_of(st.text(), st.sampled_from(_AWKWARD),
                  st.lists(st.sampled_from(_AWKWARD), max_size=4).map("".join))
_bytes = st.one_of(st.binary(), st.sampled_from(
    [b"", b"'", b"\\", b"\xff\xfe", b"\x80", b"${x}", "é".encode()]))


def _same(got, want) -> bool:
    if isinstance(want, float):
        return (math.isnan(got) and math.isnan(want)) or (
            got == want and math.copysign(1, got) == math.copysign(1, want))
    if isinstance(want, bytes):
        return bytes(got) == want
    return type(got) is type(want) and got == want


@given(st.lists(st.one_of(_ints, _floats, _strs, _bytes), min_size=1,
                max_size=12))
@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_every_literal_parses_back_to_its_value(spark, values):
    row = spark.range(1).select(*[
        F.expr(_sql_lit(v)).alias(f"v{i}") for i, v in enumerate(values)
    ]).first()
    for i, v in enumerate(values):
        assert _same(row[f"v{i}"], v), (v, _sql_lit(v), row[f"v{i}"])


def test_int_literals_type_as_f_lit_types_them(spark):
    types = spark.range(1).selectExpr(
        *[f"{_sql_lit(v)} AS v{i}" for i, v in enumerate(
            [1, -(1 << 31), 1 << 31, -(1 << 63)])]).dtypes
    assert [t for _, t in types] == ["int", "int", "bigint", "bigint"]


_names = st.one_of(st.sampled_from(_AWKWARD[1:]), st.text(min_size=1)).filter(
    lambda n: "${" not in n)


@given(_names, _names)
@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_every_name_resolves_to_its_column(spark, name, field):
    df = spark.range(1).select(F.struct(F.lit(7).alias(field)).alias(name))
    got = df.selectExpr(f"{_sql_name(name, field)} AS {_sql_name(name)}")
    assert got.columns == [name]
    assert got.first()[0] == 7


def test_encode_refuses_names_the_parser_substitutes(spark, tmp_path):
    """A column named ``a${conf}`` was stored under the conf's value and
    read back as NULLs by a session without it: refused, flattened
    struct leaves included."""
    spark.conf.set("bsksubst", "plain")
    try:
        src = spark.range(40).select(
            F.col("id").alias("k"), F.col("id").alias("a${bsksubst}"),
            F.struct(F.col("id").alias("b${x}")).alias("s"))
        for cols in (["k", "a${bsksubst}"], ["k", "s"]):
            with pytest.raises(ValueError, match=r"\$\{"):
                encode_table(src.select(*cols), str(tmp_path / "b"),
                             str(tmp_path / "m"), key_cols=("k",), n_parts=2,
                             resume=False)
        encode_table(src.select("k"), str(tmp_path / "b"),
                     str(tmp_path / "m"), key_cols=("k",), n_parts=2,
                     resume=False)
        assert decode_table(spark, str(tmp_path / "b"),
                            str(tmp_path / "m")).count() == 40
    finally:
        spark.conf.unset("bsksubst")
