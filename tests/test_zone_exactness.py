"""Hypothesis property tests: every ordered leaf's zone verdict is exact
and the JVM zone prefilter never drops a live group.

Blocks are drawn with and without nulls, their stats written by the
encoder's own ``_column_stats`` (int64 bounds past 2^53 widened
outward, NaN stats for NaN-bearing float blocks, 24-byte byte prefixes
that go inexact on longer values, bloom filters on short byte values).
Each predicate's answer is brute-forced row by row in Catalyst's
semantics (Spark's float order: NaN above +inf, NaN = NaN; an int
column meets a double bound as a double):

* ``check_zone`` 'all' must keep every row and 'none' no row;
* ``mask`` must equal the brute force;
* ``jvm_zone_keep`` must be True wherever ``check_zone`` is not 'none'.
"""

from __future__ import annotations

import math
import operator

import numpy as np
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from boltspark.engine.encode import _column_stats
from boltspark.engine.filters import (ALL, NONE, BooleanPredicate,
                                      BytesEqPredicate, BytesPrefixPredicate,
                                      BytesRangePredicate, ConstPredicate,
                                      InPredicate, NotPredicate,
                                      RangePredicate)
from boltspark.engine.schema import _STATS_SPARK
from boltspark.kernels import strings

NAN = float("nan")
_INT_BASES = (0, 2**53, 2**60, -(2**60), 2**63 - 64)
_FLOATS = (-math.inf, -2.5, -0.0, 0.0, 0.5, 1.0, 2.0, 3.0, 1e300, math.inf, NAN)
_BYTE_STEMS = (b"", b"a", b"a" * 23, b"ab" * 12, b"\xff" * 24, b"a\xff" * 13)
_ALPHABET = (b"\x00", b"a", b"b", b"\xff")


def _domain(draw, kind):
    """(value strategy, bound strategy) of a column kind."""
    if kind == "i64":
        base = draw(st.sampled_from(_INT_BASES))
        near = st.integers(-4, 4).map(lambda d: base + d)
        # bounds: ints around the values (past 2^53 float64 cannot hold
        # them) and their double roundings
        return near, st.one_of(near, near.map(float))
    if kind == "f64":
        return st.sampled_from(_FLOATS), st.sampled_from(_FLOATS)
    if kind == "bool":
        return st.booleans(), st.booleans()
    tail = st.lists(st.sampled_from(_ALPHABET), max_size=4).map(b"".join)
    val = st.builds(operator.add, st.sampled_from(_BYTE_STEMS), tail)
    # needles: whole values, and prefixes of them (the empty one, ones
    # ending in 0xFF, ones longer than the stored 24 bytes)
    return val, st.one_of(val, st.tuples(val, st.integers(0, 30))
                          .map(lambda t: t[0][:t[1]]))


def _leaves(kind, bound):
    na = st.booleans()
    opt = st.one_of(st.none(), bound)
    const = st.builds(ConstPredicate, column=st.just("c"),
                      accept=st.booleans(), null_allowed=na)
    # up to 20 needles: past 16 the JVM prefilter is skipped
    in_ = st.builds(InPredicate, column=st.just("c"),
                    values=st.lists(bound, max_size=20).map(tuple),
                    null_allowed=na)
    if kind == "bytes":
        rng = st.builds(BytesRangePredicate, column=st.just("c"),
                        lower=bound, upper=opt, lower_inclusive=na,
                        upper_inclusive=na, null_allowed=na)
        return st.one_of(
            const, in_, rng,
            st.builds(BytesRangePredicate, column=st.just("c"), upper=bound,
                      upper_inclusive=na, null_allowed=na),
            st.builds(BytesEqPredicate, column=st.just("c"), value=bound,
                      null_allowed=na),
            st.builds(BytesPrefixPredicate, column=st.just("c"),
                      prefix=bound, null_allowed=na))
    if kind == "bool":
        return st.one_of(const, st.builds(BooleanPredicate, column=st.just("c"),
                                          value=bound, null_allowed=na))
    return st.one_of(const, in_, st.builds(
        RangePredicate, column=st.just("c"), lower=opt, upper=opt,
        lower_inclusive=na, upper_inclusive=na, null_allowed=na))


@st.composite
def cases(draw, max_blocks=1):
    """(kind, [block cells], [predicates]); a cell None is a null row."""
    kind = draw(st.sampled_from(("i64", "f64", "bytes", "bool")))
    value, bound = _domain(draw, kind)
    cells = st.lists(st.one_of(value, value, value, st.none()),
                     min_size=1, max_size=12)
    blocks = draw(st.lists(cells, min_size=1, max_size=max_blocks))
    leaf = _leaves(kind, bound)
    pred = st.one_of(leaf, st.builds(NotPredicate, child=leaf,
                                     null_allowed=st.booleans()))
    return kind, blocks, draw(st.lists(pred, min_size=1, max_size=8))


def _kernel(kind, cells):
    """Cells -> (dense values, validity or None), as the encoder has them."""
    dense = [v for v in cells if v is not None]
    validity = None if len(dense) == len(cells) else np.array(
        [v is not None for v in cells])
    if kind == "bytes":
        return strings.from_pylist(dense), validity
    dtype = {"i64": np.int64, "f64": np.float64, "bool": np.bool_}[kind]
    return np.array(dense, dtype=dtype), validity


def _key(v):
    # Spark's float order: NaN above +inf, NaN = NaN
    return (1, 0.0) if v != v else (0, v)


def _cmp(v, b, kind) -> int:
    """sign(v - b) as Catalyst compares a column value with a literal."""
    if kind == "bytes":
        return (v > b) - (v < b)
    if kind == "f64" or isinstance(b, float):
        v, b = float(v), float(b)  # a double on either side: doubles
    kv, kb = _key(v), _key(b)
    return (kv > kb) - (kv < kb)


def _value_ok(p, v, kind) -> bool:
    if isinstance(p, NotPredicate):
        return not _value_ok(p.child, v, kind)
    if isinstance(p, ConstPredicate):
        return p.accept
    if isinstance(p, BooleanPredicate):
        return v == p.value
    if isinstance(p, BytesEqPredicate):
        return v == p.value
    if isinstance(p, BytesPrefixPredicate):
        return v.startswith(p.prefix)
    if isinstance(p, InPredicate):
        # Catalyst compares IN at the needles' common type: one double
        # needle makes every comparison a double one
        dbl = any(isinstance(b, float) for b in p.values)
        return any(_cmp(v, float(b) if dbl else b, kind) == 0
                   for b in p.values)
    ok = True
    if p.lower is not None:
        c = _cmp(v, p.lower, kind)
        ok &= c > 0 or (c == 0 and p.lower_inclusive)
    if p.upper is not None:
        c = _cmp(v, p.upper, kind)
        ok &= c < 0 or (c == 0 and p.upper_inclusive)
    return ok


def _brute(p, cells, kind) -> list[bool]:
    return [p.null_allowed if v is None else _value_ok(p, v, kind)
            for v in cells]


def _stats(kind, cells) -> dict:
    dense, validity = _kernel(kind, cells)
    return _column_stats(dense, kind, validity)


@given(cases())
@settings(max_examples=600, deadline=None)
def test_zone_verdicts_and_masks_are_exact(case):
    kind, blocks, preds = case
    for cells in blocks:
        dense, validity = _kernel(kind, cells)
        stats = _column_stats(dense, kind, validity)
        for p in preds:
            want = _brute(p, cells, kind)
            z = p.check_zone(stats)
            assert z != ALL or all(want), (p, cells, stats)
            assert z != NONE or not any(want), (p, cells, stats)
            assert p.mask(dense, validity).tolist() == want, (p, cells)


@given(cases(max_blocks=8))
@settings(max_examples=25, deadline=None)
def test_jvm_zone_keep_covers_every_live_zone(spark, case):
    kind, blocks, preds = case
    rows = [_stats(kind, cells) for cells in blocks]
    schema = T.StructType([T.StructField("st", _STATS_SPARK)])
    df = spark.createDataFrame([(s,) for s in rows], schema=schema)
    keeps = [p.jvm_zone_keep(lambda c: "st") for p in preds]
    cols = [(F.lit(True) if k is None else F.expr(k)).alias(f"k{j}")
            for j, k in enumerate(keeps)]
    got = df.select(*cols).collect()
    for s, r, cells in zip(rows, got, blocks):
        for j, p in enumerate(preds):
            live = p.check_zone(s) != NONE or any(_brute(p, cells, kind))
            assert not live or r[f"k{j}"], (p, cells, s)
