"""Characterization of every public aggregate in engine/agg.py on an
evolved two-run table: run 2 adds a numeric, a decimal and a
low-cardinality string column, so run-1 block groups hold no block for
them and every aggregate must read those rows as NULL.  Each result is
checked against Catalyst over ``decode_table`` (exact answers) or
against the exact answer within the HLL/quantile bounds the other agg
tests use, with no predicate, a predicate that cuts block groups
partially, and a predicate on the evolved column itself."""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F

from boltspark.engine import agg, decode_table, encode_table, manifest
from boltspark.engine.filters import RangePredicate
from boltspark.engine.schema import read_blocks

N1, N2 = 2400, 1600

PREDICATES = {
    "none": None,
    # k is the sort key: groups inside the range resolve 'all', groups
    # outside 'none', boundary groups a partial row mask
    "k_partial": RangePredicate(column="k", lower=1000, upper=3200),
    # predicate on the evolved column: run-1 groups have no block for it
    "extra_nulls": RangePredicate(column="extra", lower=0, upper=3,
                                  null_allowed=True),
}


@pytest.fixture(scope="module")
def evolved(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("aggchar")
    b, m = str(base / "b"), str(base / "m")
    flag = F.when(F.col("id") % 13 != 0, F.element_at(
        F.array(F.lit("A"), F.lit("N"), F.lit("R")),
        (F.floor(F.col("id") / 37) % 3 + 1).cast("int")))
    v = F.when(F.col("id") % 5 != 0, (F.col("id") % 50) / 4.0)
    run1 = spark.range(N1).select(F.col("id").alias("k"), flag.alias("flag"),
                                  v.alias("v"))
    encode_table(run1, b, m, key_cols=("k",), n_parts=4, block_bytes=2048,
                 resume=False, run_id="run1")
    run2 = spark.range(N1, N1 + N2).select(
        F.col("id").alias("k"), flag.alias("flag"), v.alias("v"),
        F.when(F.col("id") % 11 != 0, F.col("id") % 7).alias("extra"),
        F.when(F.col("id") % 9 != 0, ((F.col("id") % 300) / 100)
               .cast("decimal(12,2)")).alias("amt"),
        F.when(F.col("id") % 17 != 0, F.element_at(
            F.array(F.lit("x"), F.lit("y"), F.lit("z")),
            (F.col("id") % 3 + 1).cast("int"))).alias("tag"))
    encode_table(run2, b, m, key_cols=("k",), n_parts=4, block_bytes=2048,
                 resume=False, run_id="run2")
    ref = decode_table(spark, b, m).cache()
    assert ref.count() == N1 + N2
    yield b, m, ref
    ref.unpersist()


def _sel(ref, pred):
    return ref if pred is None else ref.filter(pred.to_spark_condition())


def _num(x):
    return None if x is None else float(x)


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    return a == pytest.approx(b, rel=1e-9, abs=1e-9)


def _check_column_sum(spark, b, m, ref, pred):
    for c in ("extra", "v", "amt"):
        got = agg.column_sum(spark, b, m, c, predicate=pred).collect()[0]
        exp = ref.agg(F.sum(c).alias("s"), F.count(F.lit(1)).alias("n"),
                      F.count(c).alias("nv")).collect()[0]
        assert got["n_rows"] == exp["n"] and \
            got["n_nulls"] == exp["n"] - exp["nv"], c
        if c == "amt":  # exact decimal(38, s)
            assert got["sum_value"] == exp["s"], c
        else:
            assert _close(_num(got["sum_value"]), _num(exp["s"])), c


def _check_column_sums(spark, b, m, ref, pred):
    cols = ["extra", "v", "amt", "k"]
    got = {r["column"]: r for r in
           agg.column_sums(spark, b, m, cols, predicate=pred).collect()}
    exp = ref.agg(F.count(F.lit(1)).alias("n"),
                  *[F.sum(c).alias(f"s_{c}") for c in cols],
                  *[F.count(c).alias(f"nv_{c}") for c in cols]).collect()[0]
    assert set(got) == set(cols)
    for c in cols:
        r = got[c]
        assert r["n_rows"] == exp["n"], c
        assert r["n_nulls"] == exp["n"] - exp[f"nv_{c}"], c
        assert _close(r["sum_value"], _num(exp[f"s_{c}"])), c


def _check_column_avg(spark, b, m, ref, pred):
    for c in ("extra", "v", "amt"):
        got = agg.column_avg(spark, b, m, c, predicate=pred).collect()[0]
        # AVG over a decimal is a double quotient here, Catalyst rounds
        # it to decimal(p+4, s+4): compare with the double average
        exp = ref.agg(F.avg(F.col(c).cast("double")).alias("a"),
                      F.count(F.lit(1)).alias("n"),
                      F.count(c).alias("nv")).collect()[0]
        assert _close(got["avg_value"], _num(exp["a"])), c
        assert got["n_rows"] == exp["n"], c
        assert got["n_nulls"] == exp["n"] - exp["nv"], c


def _check_column_count(spark, b, m, ref, pred):
    for c in ("extra", "tag", "amt", "flag"):
        got = agg.column_count(spark, b, m, c, predicate=pred).collect()[0]
        exp = ref.agg(F.count(F.lit(1)).alias("n"),
                      F.count(c).alias("nv")).collect()[0]
        assert (got["n_values"], got["n_rows"], got["n_nulls"]) == \
            (exp["nv"], exp["n"], exp["n"] - exp["nv"]), c


def _check_value_counts(spark, b, m, ref, pred):
    for c in ("tag", "extra"):
        got = {r["value"]: r["cnt"] for r in
               agg.value_counts(spark, b, m, c, predicate=pred).collect()}
        exp = {r["value"]: r["cnt"] for r in
               ref.groupBy(F.col(c).alias("value"))
               .agg(F.count(F.lit(1)).alias("cnt")).collect()}
        assert got == exp, c


def _check_column_minmax(spark, b, m, ref, pred):
    for c in ("extra", "tag", "amt"):
        got = agg.column_minmax(spark, b, m, c, predicate=pred).collect()[0]
        exp = ref.agg(F.min(c).alias("lo"), F.max(c).alias("hi"),
                      F.count(F.lit(1)).alias("n"),
                      F.count(c).alias("nv")).collect()[0]
        assert (got["vmin"], got["vmax"]) == (exp["lo"], exp["hi"]), c
        assert (got["n_rows"], got["n_nulls"]) == \
            (exp["n"], exp["n"] - exp["nv"]), c


def _check_column_distinct(spark, b, m, ref, pred):
    for c in ("tag", "extra"):
        got = [r["value"] for r in
               agg.column_distinct(spark, b, m, c, predicate=pred).collect()]
        exp = {r[c] for r in ref.filter(F.col(c).isNotNull())
               .select(c).distinct().collect()}
        assert sorted(got) == sorted(exp), c


def _check_column_distinct_approx(spark, b, m, ref, pred):
    for c in ("extra", "tag"):
        got = agg.column_distinct_approx(spark, b, m, c,
                                         predicate=pred).collect()[0]
        exp = ref.agg(F.countDistinct(c).alias("nd"),
                      F.count(F.lit(1)).alias("n"),
                      F.count(c).alias("nv")).collect()[0]
        assert abs(got["approx_distinct"] - exp["nd"]) <= \
            max(3, 0.05 * exp["nd"]), c
        assert (got["n_rows"], got["n_nulls"]) == \
            (exp["n"], exp["n"] - exp["nv"]), c


def _rank_covers(sel, c, value, p, tol):
    """The estimate's true rank interval [P(c < v), P(c <= v)] over the
    non-null values must cover ``p`` within ``tol``."""
    nv = sel.filter(F.col(c).isNotNull()).count()
    lo = sel.filter(F.col(c) < value).count() / nv
    hi = sel.filter(F.col(c) <= value).count() / nv
    return lo <= p + tol and hi >= p - tol


def _check_column_quantiles(spark, b, m, ref, pred):
    for c in ("extra", "v"):
        rows = agg.column_quantiles(spark, b, m, c, probs=(0.1, 0.5, 0.9),
                                    predicate=pred).collect()
        exp = ref.agg(F.count(F.lit(1)).alias("n"),
                      F.count(c).alias("nv")).collect()[0]
        assert len(rows) == 3
        for r in rows:
            assert (r["n_rows"], r["n_nulls"]) == \
                (exp["n"], exp["n"] - exp["nv"]), c
            if not exp["nv"]:
                assert r["value"] is None, c
            else:
                assert _rank_covers(ref, c, r["value"], r["p"], 0.01), (c, r)


def _check_column_topk(spark, b, m, ref, pred):
    for c, asc in (("extra", False), ("tag", True), ("amt", False)):
        got = [r["value"] for r in
               agg.column_topk(spark, b, m, c, 7, ascending=asc,
                               predicate=pred).collect()]
        order = F.col(c).asc() if asc else F.col(c).desc()
        exp = [r[c] for r in ref.filter(F.col(c).isNotNull())
               .orderBy(order).limit(7).collect()]
        assert got == exp, c


def _grouped_ref(ref, g, v):
    sums = ([] if dict(ref.dtypes)[v] == "string" else
            [F.sum(v).alias("s"), F.avg(v).alias("a")])
    return {r["g"]: r for r in ref.groupBy(F.col(g).alias("g")).agg(
        *sums, F.count(v).alias("nv"), F.min(v).alias("lo"),
        F.max(v).alias("hi"), F.countDistinct(v).alias("nd"),
        F.count(F.lit(1)).alias("cnt")).collect()}


# (group column, value column) pairs: evolved group over old and evolved
# values, old group over evolved values
PAIRS = (("tag", "extra"), ("flag", "extra"), ("tag", "v"))


def _check_grouped_sum(spark, b, m, ref, pred):
    for g, v in PAIRS + (("tag", "amt"), ("flag", "amt")):
        got = {r["value"]: r for r in
               agg.grouped_sum(spark, b, m, g, v, predicate=pred).collect()}
        exp = _grouped_ref(ref, g, v)
        assert set(got) == set(exp), (g, v)
        for key, e in exp.items():
            assert got[key]["cnt"] == e["cnt"], (g, v, key)
            if v == "amt":
                assert got[key]["sum_value"] == e["s"], (g, v, key)
            else:
                assert _close(got[key]["sum_value"], _num(e["s"])), (g, v, key)


def _check_grouped_sum_multi(spark, b, m, ref, pred):
    got = {(r["flag"], r["tag"]): r for r in agg.grouped_sum_multi(
        spark, b, m, ["flag", "tag"], "extra", predicate=pred).collect()}
    exp = {(r["flag"], r["tag"]): r for r in ref.groupBy("flag", "tag").agg(
        F.sum("extra").alias("s"), F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(got) == set(exp)
    for key, e in exp.items():
        assert got[key]["cnt"] == e["cnt"], key
        assert _close(got[key]["sum_value"], _num(e["s"])), key


def _check_grouped_aggs(spark, b, m, ref, pred):
    vals = ["extra", "v", "k"]
    got = {(r["tag"], r["flag"]): r for r in agg.grouped_aggs(
        spark, b, m, ["tag", "flag"], vals, predicate=pred,
        minmax=True).collect()}
    exp = {(r["tag"], r["flag"]): r for r in ref.groupBy("tag", "flag").agg(
        F.count(F.lit(1)).alias("cnt"),
        *[x for v in vals for x in (
            F.sum(v).alias(f"s_{v}"), F.avg(v).alias(f"a_{v}"),
            F.count(v).alias(f"n_{v}"), F.min(v).alias(f"lo_{v}"),
            F.max(v).alias(f"hi_{v}"))]).collect()}
    assert set(got) == set(exp)
    for key, e in exp.items():
        r = got[key]
        assert r["cnt"] == e["cnt"], key
        for v in vals:
            assert r[f"n_{v}"] == e[f"n_{v}"], (key, v)
            assert _close(r[f"sum_{v}"], _num(e[f"s_{v}"])), (key, v)
            assert _close(r[f"avg_{v}"], _num(e[f"a_{v}"])), (key, v)
            assert (r[f"min_{v}"], r[f"max_{v}"]) == \
                (e[f"lo_{v}"], e[f"hi_{v}"]), (key, v)


def _check_grouped_avg(spark, b, m, ref, pred):
    for g, v in PAIRS:
        got = {r["value"]: r for r in
               agg.grouped_avg(spark, b, m, g, v, predicate=pred).collect()}
        exp = _grouped_ref(ref, g, v)
        assert set(got) == set(exp), (g, v)
        for key, e in exp.items():
            r = got[key]
            assert (r["n_values"], r["cnt"]) == (e["nv"], e["cnt"]), \
                (g, v, key)
            assert _close(r["avg_value"], _num(e["a"])), (g, v, key)


def _check_grouped_minmax(spark, b, m, ref, pred):
    for g, v in PAIRS + (("flag", "tag"), ("tag", "amt")):
        got = {r["value"]: r for r in agg.grouped_minmax(
            spark, b, m, g, v, predicate=pred).collect()}
        exp = _grouped_ref(ref, g, v)
        assert set(got) == set(exp), (g, v)
        for key, e in exp.items():
            r = got[key]
            assert (r["min_value"], r["max_value"], r["cnt"]) == \
                (e["lo"], e["hi"], e["cnt"]), (g, v, key)


def _check_grouped_quantiles(spark, b, m, ref, pred):
    for g, v in PAIRS:
        rows = agg.grouped_quantiles(spark, b, m, g, v, probs=(0.25, 0.75),
                                     predicate=pred).collect()
        exp = _grouped_ref(ref, g, v)
        assert {r["value"] for r in rows} == set(exp), (g, v)
        assert len(rows) == 2 * len(exp)
        for r in rows:
            e = exp[r["value"]]
            assert (r["n_rows"], r["n_nulls"]) == \
                (e["cnt"], e["cnt"] - e["nv"]), (g, v, r)
            if not e["nv"]:
                assert r["q"] is None, (g, v, r)
                continue
            grp = ref.filter(F.col(g).isNull() if r["value"] is None
                             else F.col(g) == r["value"])
            assert _rank_covers(grp, v, r["q"], r["p"], 0.02), (g, v, r)


def _check_grouped_distinct_approx(spark, b, m, ref, pred):
    for g, v in PAIRS + (("flag", "tag"),):
        got = {r["value"]: r for r in agg.grouped_distinct_approx(
            spark, b, m, g, v, predicate=pred).collect()}
        exp = _grouped_ref(ref, g, v)
        assert set(got) == set(exp), (g, v)
        for key, e in exp.items():
            assert got[key]["cnt"] == e["cnt"], (g, v, key)
            assert abs(got[key]["approx_distinct"] - e["nd"]) <= \
                max(3, 0.05 * e["nd"]), (g, v, key)


def _check_grouped_topk(spark, b, m, ref, pred):
    for g, v in PAIRS + (("flag", "tag"),):
        got: dict = {}
        for r in agg.grouped_topk(spark, b, m, g, v, 3,
                                  predicate=pred).collect():
            got.setdefault(r["value"], []).append((r["rnk"], r["item"]))
        w = Window.partitionBy(g).orderBy(F.col(v).desc())
        exp: dict = {}
        for r in (ref.filter(F.col(v).isNotNull())
                  .withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= 3).collect()):
            exp.setdefault(r[g], []).append((r["rnk"], r[v]))
        assert set(got) == set(exp), (g, v)
        for key in exp:
            assert [x for _, x in sorted(got[key])] == \
                [x for _, x in sorted(exp[key])], (g, v, key)


CHECKS = {
    "column_sum": _check_column_sum,
    "column_sums": _check_column_sums,
    "column_avg": _check_column_avg,
    "column_count": _check_column_count,
    "value_counts": _check_value_counts,
    "column_minmax": _check_column_minmax,
    "column_distinct": _check_column_distinct,
    "column_distinct_approx": _check_column_distinct_approx,
    "column_quantiles": _check_column_quantiles,
    "column_topk": _check_column_topk,
    "grouped_sum": _check_grouped_sum,
    "grouped_sum_multi": _check_grouped_sum_multi,
    "grouped_aggs": _check_grouped_aggs,
    "grouped_avg": _check_grouped_avg,
    "grouped_minmax": _check_grouped_minmax,
    "grouped_quantiles": _check_grouped_quantiles,
    "grouped_distinct_approx": _check_grouped_distinct_approx,
    "grouped_topk": _check_grouped_topk,
}


@pytest.mark.parametrize("pred_name", list(PREDICATES))
@pytest.mark.parametrize("op", list(CHECKS))
def test_aggregate_on_evolved_table(spark, evolved, op, pred_name):
    b, m, ref = evolved
    pred = PREDICATES[pred_name]
    CHECKS[op](spark, b, m, _sel(ref, pred), pred)


def test_evolved_table_shape(spark, evolved):
    """The fixture must really produce what the cases above rely on:
    run-1 groups without blocks for the evolved columns, several block
    groups per run, and a partial cut under the k predicate."""
    b, m, ref = evolved
    # the manifest's column union: a plain parquet read takes one
    # footer's schema, which may predate the evolved columns
    columns = manifest.table_meta(spark, m)["columns"]
    groups = (read_blocks(spark, b, columns)
              .select("run_id", F.col("cols").getField("extra")
                      .getField("block").isNull().alias("missing"))
              .groupBy("run_id", "missing").count().collect())
    by = {(r["run_id"], r["missing"]): r["count"] for r in groups}
    assert by.get(("run1", True), 0) >= 8 and by.get(("run2", False), 0) >= 8
    assert ("run1", False) not in by and ("run2", True) not in by
    assert ref.filter(F.col("extra").isNull()).count() > N1


def test_decimal_value_counts_and_distinct(spark, evolved):
    """Decimal storage values are unscaled integers: value_counts and
    column_distinct must emit them as exact decimals of the column's
    scale (an int -> decimal cast would shift the point, and raises
    once the unscaled value outgrows the precision)."""
    b, m, ref = evolved
    pred = PREDICATES["k_partial"]
    for p in (None, pred):
        sel = _sel(ref, p)
        got = {r["value"]: r["cnt"] for r in
               agg.value_counts(spark, b, m, "amt", predicate=p).collect()}
        exp = {r["value"]: r["cnt"] for r in
               sel.groupBy(F.col("amt").alias("value"))
               .agg(F.count(F.lit(1)).alias("cnt")).collect()}
        assert got == exp
        dist = [r["value"] for r in
                agg.column_distinct(spark, b, m, "amt", predicate=p).collect()]
        assert sorted(dist) == sorted(v for v in exp if v is not None)
