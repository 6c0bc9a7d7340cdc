"""Every grouped aggregate, and every scalar one (the N = 0 case of the
same lane reducer, value_counts its N = 1 key), against Catalyst over
``decode_table`` on the inputs that break group coders and value lanes
at once: a group column the first run predates (its rows all fall in
the NULL group), explicit NULL group keys, a second group column for
the composite code, a double value column holding NULLs and NaNs
(including a group whose every value is NaN), a date value column and
a binary value column the first run predates.  Spark orders NaN above
+inf: SUM and AVG of a group holding a NaN are NaN, MIN skips NaN
unless every value is NaN, MAX is NaN, and COUNT(DISTINCT) counts NaN
once.  Each operator runs with no predicate, a key range that cuts
block groups partially, and a range on the NaN-bearing value column
itself."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window, functions as F

from boltspark.engine import agg, decode_table, encode_table
from boltspark.engine.filters import RangePredicate

N1, N2 = 1200, 800

PREDICATES = {
    "none": None,
    "k_partial": RangePredicate(column="k", lower=500, upper=1700),
    # NaN is above every bound, so a lower bound keeps the NaN rows
    "v_lower": RangePredicate(column="v", lower=5.0),
}


@pytest.fixture(scope="module")
def hard(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("grouped_hard")
    b, m = str(base / "b"), str(base / "m")
    i = F.col("id")
    v = (F.when(i % 5 == 0, F.lit(None).cast("double"))
         .when(i % 7 == 0, F.lit(float("nan")))
         .otherwise((i % 50) / 4.0))
    h = F.when(i % 13 != 0, (i % 2).cast("int"))
    d = F.when(i % 9 != 0, F.date_add(F.lit("2020-01-01").cast("date"),
                                      (i % 400).cast("int")))
    run1 = spark.range(N1).select(i.alias("k"), h.alias("h"), v.alias("v"),
                                  d.alias("d"))
    encode_table(run1, b, m, key_cols=("k",), n_parts=2, block_bytes=2048,
                 resume=False, run_id="run1")
    # g: NULL keys, and a group "q" whose values are only NaN and NULL
    xyz = F.array(F.lit("x"), F.lit("y"), F.lit("z"))
    g = (F.when(i % 11 == 0, F.lit(None).cast("string"))
         .when(i % 7 == 0, F.lit("q"))
         .otherwise(F.element_at(xyz, (i % 3 + 1).cast("int"))))
    # bn: a binary column run 1 predates
    bn = F.when(i % 3 != 0, F.encode(F.concat(F.lit("b"), i % 40), "utf-8"))
    run2 = spark.range(N1, N1 + N2).select(i.alias("k"), h.alias("h"),
                                           v.alias("v"), d.alias("d"),
                                           g.alias("g"), bn.alias("bn"))
    encode_table(run2, b, m, key_cols=("k",), n_parts=2, block_bytes=2048,
                 resume=False, run_id="run2")
    ref = decode_table(spark, b, m).cache()
    assert ref.count() == N1 + N2
    assert ref.filter(F.isnan("v")).count() > 0
    yield b, m, ref
    ref.unpersist()


def _same(a, b, rel=1e-9):
    """Equal, NaN equal to NaN, floats within ``rel``."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == pytest.approx(b, rel=rel, abs=1e-9)
    return a == b


def _by(rows, *keys):
    return {tuple(r[k] for k in keys): r for r in rows}


def _check_grouped_sum(spark, b, m, ref, pred):
    got = _by(agg.grouped_sum(spark, b, m, "g", "v", predicate=pred)
              .collect(), "value")
    exp = _by(ref.groupBy(F.col("g").alias("value")).agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("cnt")).collect(),
        "value")
    assert set(got) == set(exp)
    for key, e in exp.items():
        assert got[key]["cnt"] == e["cnt"], key
        assert _same(got[key]["sum_value"], e["s"]), key


def _check_grouped_sum_multi(spark, b, m, ref, pred):
    got = _by(agg.grouped_sum_multi(spark, b, m, ["g", "h"], "v",
                                    predicate=pred).collect(), "g", "h")
    exp = _by(ref.groupBy("g", "h").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("cnt")).collect(),
        "g", "h")
    assert set(got) == set(exp)
    for key, e in exp.items():
        assert got[key]["cnt"] == e["cnt"], key
        assert _same(got[key]["sum_value"], e["s"]), key


def _check_grouped_aggs(spark, b, m, ref, pred):
    vals = ["v", "k"]
    got = _by(agg.grouped_aggs(spark, b, m, ["g", "h"], vals,
                               predicate=pred, minmax=True).collect(),
              "g", "h")
    exp = _by(ref.groupBy("g", "h").agg(
        F.count(F.lit(1)).alias("cnt"),
        *[x for v in vals for x in (
            F.sum(v).alias(f"s_{v}"), F.avg(v).alias(f"a_{v}"),
            F.count(v).alias(f"n_{v}"), F.min(v).alias(f"lo_{v}"),
            F.max(v).alias(f"hi_{v}"))]).collect(), "g", "h")
    assert set(got) == set(exp)
    for key, e in exp.items():
        r = got[key]
        assert r["cnt"] == e["cnt"], key
        for v in vals:
            assert r[f"n_{v}"] == e[f"n_{v}"], (key, v)
            for ours, theirs in (("sum", "s"), ("avg", "a"), ("min", "lo"),
                                 ("max", "hi")):
                assert _same(r[f"{ours}_{v}"], e[f"{theirs}_{v}"]), \
                    (key, v, ours)


def _check_grouped_avg(spark, b, m, ref, pred):
    got = _by(agg.grouped_avg(spark, b, m, "g", "v", predicate=pred)
              .collect(), "value")
    exp = _by(ref.groupBy(F.col("g").alias("value")).agg(
        F.avg("v").alias("a"), F.count("v").alias("nv"),
        F.count(F.lit(1)).alias("cnt")).collect(), "value")
    assert set(got) == set(exp)
    for key, e in exp.items():
        r = got[key]
        assert (r["n_values"], r["cnt"]) == (e["nv"], e["cnt"]), key
        assert _same(r["avg_value"], e["a"]), key


def _check_grouped_minmax(spark, b, m, ref, pred):
    # also a date value (int32 storage) and a binary value run 1 predates
    for g, v in (("g", "v"), ("g", "d"), ("h", "bn")):
        got = _by(agg.grouped_minmax(spark, b, m, g, v, predicate=pred)
                  .collect(), "value")
        exp = _by(ref.groupBy(F.col(g).alias("value")).agg(
            F.min(v).alias("lo"), F.max(v).alias("hi"),
            F.count(F.lit(1)).alias("cnt")).collect(), "value")
        assert set(got) == set(exp), (g, v)
        for key, e in exp.items():
            r = got[key]
            assert r["cnt"] == e["cnt"], (g, v, key)
            assert _same(r["min_value"], e["lo"]), (g, v, key)
            assert _same(r["max_value"], e["hi"]), (g, v, key)


def _check_grouped_quantiles(spark, b, m, ref, pred):
    rows = agg.grouped_quantiles(spark, b, m, "g", "v", probs=(0.25, 0.75),
                                 predicate=pred).collect()
    exp = _by(ref.groupBy(F.col("g").alias("value")).agg(
        F.count("v").alias("nv"), F.count(F.lit(1)).alias("cnt"),
        F.sum(F.isnan("v").cast("int")).alias("n_nan")).collect(), "value")
    assert {(r["value"],) for r in rows} == set(exp)
    assert len(rows) == 2 * len(exp)
    for r in rows:
        e = exp[(r["value"],)]
        assert (r["n_rows"], r["n_nulls"]) == (e["cnt"], e["cnt"] - e["nv"])
        if not e["nv"]:
            assert r["q"] is None, r
            continue
        if e["n_nan"] == e["nv"]:
            assert math.isnan(r["q"]), r
            continue
        # Spark's order: NaN ranks above every number, so the estimate's
        # rank interval over the non-null values must cover p
        grp = ref.filter(F.col("g").isNull() if r["value"] is None
                         else F.col("g") == r["value"])
        lo = grp.filter(F.col("v") < r["q"]).count() / e["nv"]
        hi = grp.filter(F.col("v") <= r["q"]).count() / e["nv"]
        assert lo <= r["p"] + 0.02 and hi >= r["p"] - 0.02, (r, lo, hi)


def _check_grouped_distinct_approx(spark, b, m, ref, pred):
    got = _by(agg.grouped_distinct_approx(spark, b, m, "g", "v",
                                          predicate=pred).collect(), "value")
    exp = _by(ref.groupBy(F.col("g").alias("value")).agg(
        F.countDistinct("v").alias("nd"),
        F.count(F.lit(1)).alias("cnt")).collect(), "value")
    assert set(got) == set(exp)
    for key, e in exp.items():
        assert got[key]["cnt"] == e["cnt"], key
        assert abs(got[key]["approx_distinct"] - e["nd"]) <= \
            max(1, 0.05 * e["nd"]), key


def _ranked(ref, asc: bool, k: int):
    order = F.col("v").asc() if asc else F.col("v").desc()
    w = Window.partitionBy("g").orderBy(order)
    out: dict = {}
    for r in (ref.filter(F.col("v").isNotNull())
              .withColumn("rnk", F.row_number().over(w))
              .filter(F.col("rnk") <= k).collect()):
        out.setdefault(r["g"], []).append((r["rnk"], r["v"]))
    return {g: [v for _, v in sorted(vs)] for g, vs in out.items()}


def _check_grouped_topk(spark, b, m, ref, pred):
    for asc in (False, True):
        got: dict = {}
        for r in agg.grouped_topk(spark, b, m, "g", "v", 3, ascending=asc,
                                  predicate=pred).collect():
            got.setdefault(r["value"], []).append((r["rnk"], r["item"]))
        got = {g: [v for _, v in sorted(vs)] for g, vs in got.items()}
        exp = _ranked(ref, asc, 3)
        assert set(got) == set(exp), asc
        for key, e in exp.items():
            assert len(got[key]) == len(e), (asc, key)
            assert all(_same(a, x) for a, x in zip(got[key], e)), (asc, key)


def _check_grouped_topk_rows(spark, b, m, ref, pred):
    got = agg.grouped_topk_rows(spark, b, m, "g", "v", 2,
                                columns=["k", "g", "v"], tiebreak=("k",),
                                predicate=pred).collect()
    w = Window.partitionBy("g").orderBy(F.col("v").desc_nulls_last(),
                                        F.col("k").asc())
    exp = (ref.withColumn("rnk", F.row_number().over(w))
           .filter(F.col("rnk") <= 2).select("k", "g", "v", "rnk").collect())
    assert sorted((r["g"] or "", r["rnk"], r["k"]) for r in got) == \
        sorted((r["g"] or "", r["rnk"], r["k"]) for r in exp)


# scalar aggregates over the NaN/NULL double, the date, the binary a run
# predates, the key and the string a run predates
SUMMED = ("v", "k")
COLUMNS = ("v", "d", "bn", "k", "g")


def _key(x):
    """A hashable, NaN-stable form of a collected value."""
    if isinstance(x, float) and math.isnan(x):
        return "NaN"
    return bytes(x) if isinstance(x, bytearray) else x


def _check_column_sum(spark, b, m, ref, pred):
    for c in SUMMED:
        got = agg.column_sum(spark, b, m, c, predicate=pred).collect()[0]
        exp = ref.agg(F.sum(c).alias("s"), F.count(F.lit(1)).alias("n"),
                      F.count(c).alias("nv")).collect()[0]
        assert (got["n_rows"], got["n_nulls"]) == \
            (exp["n"], exp["n"] - exp["nv"]), c
        assert _same(got["sum_value"], exp["s"]), c


def _check_column_sums(spark, b, m, ref, pred):
    got = _by(agg.column_sums(spark, b, m, list(SUMMED), predicate=pred)
              .collect(), "column")
    exp = ref.agg(F.count(F.lit(1)).alias("n"),
                  *[F.sum(c).alias(f"s_{c}") for c in SUMMED],
                  *[F.count(c).alias(f"nv_{c}") for c in SUMMED]).collect()[0]
    assert set(got) == {(c,) for c in SUMMED}
    for c in SUMMED:
        r = got[(c,)]
        assert (r["n_rows"], r["n_nulls"]) == \
            (exp["n"], exp["n"] - exp[f"nv_{c}"]), c
        assert _same(r["sum_value"], exp[f"s_{c}"]), c


def _check_column_avg(spark, b, m, ref, pred):
    for c in SUMMED:
        got = agg.column_avg(spark, b, m, c, predicate=pred).collect()[0]
        exp = ref.agg(F.avg(c).alias("a"), F.count(F.lit(1)).alias("n"),
                      F.count(c).alias("nv")).collect()[0]
        assert (got["n_rows"], got["n_nulls"]) == \
            (exp["n"], exp["n"] - exp["nv"]), c
        assert _same(got["avg_value"], exp["a"]), c


def _check_column_count(spark, b, m, ref, pred):
    for c in COLUMNS:
        got = agg.column_count(spark, b, m, c, predicate=pred).collect()[0]
        exp = ref.agg(F.count(F.lit(1)).alias("n"),
                      F.count(c).alias("nv")).collect()[0]
        assert (got["n_values"], got["n_rows"], got["n_nulls"]) == \
            (exp["nv"], exp["n"], exp["n"] - exp["nv"]), c


def _check_column_minmax(spark, b, m, ref, pred):
    for c in COLUMNS:
        got = agg.column_minmax(spark, b, m, c, predicate=pred).collect()[0]
        exp = ref.agg(F.min(c).alias("lo"), F.max(c).alias("hi"),
                      F.count(F.lit(1)).alias("n"),
                      F.count(c).alias("nv")).collect()[0]
        assert (got["n_rows"], got["n_nulls"]) == \
            (exp["n"], exp["n"] - exp["nv"]), c
        assert _same(got["vmin"], exp["lo"]), c
        assert _same(got["vmax"], exp["hi"]), c


def _check_value_counts(spark, b, m, ref, pred):
    for c in COLUMNS:
        got = agg.value_counts(spark, b, m, c, predicate=pred).collect()
        exp = ref.groupBy(F.col(c).alias("value")).agg(
            F.count(F.lit(1)).alias("cnt")).collect()
        assert len({_key(r["value"]) for r in got}) == len(got), c
        assert {_key(r["value"]): r["cnt"] for r in got} == \
            {_key(r["value"]): r["cnt"] for r in exp}, c


CHECKS = {
    "column_sum": _check_column_sum,
    "column_sums": _check_column_sums,
    "column_avg": _check_column_avg,
    "column_count": _check_column_count,
    "column_minmax": _check_column_minmax,
    "value_counts": _check_value_counts,
    "grouped_sum": _check_grouped_sum,
    "grouped_sum_multi": _check_grouped_sum_multi,
    "grouped_aggs": _check_grouped_aggs,
    "grouped_avg": _check_grouped_avg,
    "grouped_minmax": _check_grouped_minmax,
    "grouped_quantiles": _check_grouped_quantiles,
    "grouped_distinct_approx": _check_grouped_distinct_approx,
    "grouped_topk": _check_grouped_topk,
    "grouped_topk_rows": _check_grouped_topk_rows,
}


@pytest.mark.parametrize("pred_name", list(PREDICATES))
@pytest.mark.parametrize("op", list(CHECKS))
def test_grouped_on_hard_inputs(spark, hard, op, pred_name):
    b, m, ref = hard
    pred = PREDICATES[pred_name]
    sel = ref if pred is None else ref.filter(pred.to_spark_condition())
    CHECKS[op](spark, b, m, sel, pred)
