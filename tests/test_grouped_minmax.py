"""grouped_minmax (engine/agg.py): GROUP BY g -> MIN/MAX(v), COUNT(*)
computed from encoded blocks must match Catalyst on the decoded table,
value-exact (typed partials fold under F.min/F.max, so int64 beyond
2^53, byte strings, and decimals never round through float64)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from boltspark.engine import encode_table
from boltspark.engine.agg import grouped_minmax
from boltspark.engine.filters import RangePredicate
from tests.conftest import null_mask


@pytest.fixture(scope="module")
def gmm_table(spark, tmp_path_factory):
    """Groups through the dict fast path (low-cardinality strings),
    values covering float-with-nulls, raw int64, a byte column, and a
    decimal column; one group ('Z') exists only where val IS NULL."""
    n = 12000
    i = np.arange(n)
    mask = null_mask(n)
    flag = np.array(["A", "N", "R"])[i % 3].astype(object)
    flag[(i >= n - 60)] = "Z"
    df = pd.DataFrame({
        "k": i,
        "flag": flag,
        "val": np.where(mask, (i % 997) / 8.0, np.nan),
        "big": (i.astype(np.int64) * 1_000_003) - (n // 2) * 1_000_003,
        "name": np.array([f"repo/{v % 40:02d}/file" for v in i], dtype=object),
    })
    df.loc[~mask, "val"] = None
    sdf = spark.createDataFrame(df)
    sdf = sdf.withColumn("val", F.when(
        F.col("val").isNotNull() & ~F.isnan("val"), F.col("val")))
    # 'Z' rows: val always NULL -> the all-null-group row
    sdf = sdf.withColumn("val", F.when(F.col("flag") == "Z",
                                       F.lit(None)).otherwise(F.col("val")))
    sdf = sdf.withColumn("dec", (F.col("big").cast("decimal(18,3)") / 7)
                         .cast("decimal(18,4)"))
    # NULL group keys too
    sdf = sdf.withColumn("flag", F.when(F.col("k") % 101 == 0,
                                        F.lit(None)).otherwise(F.col("flag")))
    base = tmp_path_factory.mktemp("gmmenc")
    out, man = str(base / "blocks"), str(base / "manifest")
    encode_table(sdf, out, man, key_cols=("k",),
                 target_partition_bytes=1 << 18, block_bytes=64 << 10,
                 resume=False)
    return sdf, out, man


def _exp(sdf, g, v, cond=None):
    d = sdf.filter(cond) if cond is not None else sdf
    rows = (d.groupBy(F.col(g).alias("value"))
            .agg(F.min(v).alias("mn"), F.max(v).alias("mx"),
                 F.count(F.lit(1)).alias("cnt")).collect())
    return {r["value"]: (r["mn"], r["mx"], r["cnt"]) for r in rows}


def _got(spark, out, man, g, v, pred=None):
    rows = grouped_minmax(spark, out, man, g, v, predicate=pred).collect()
    return {r["value"]: (r["min_value"], r["max_value"], r["cnt"])
            for r in rows}


def test_grouped_minmax_matches_catalyst(spark, gmm_table):
    sdf, out, man = gmm_table
    for v in ("val", "big", "name", "dec", "k"):
        assert _got(spark, out, man, "flag", v) == _exp(sdf, "flag", v), v


def test_grouped_minmax_int_group(spark, gmm_table):
    sdf, out, man = gmm_table
    sdf2 = sdf.withColumn("g2", F.col("k") % 5)
    # re-encode with an int group column
    import tempfile

    d = tempfile.mkdtemp()
    encode_table(sdf2, f"{d}/b", f"{d}/m", key_cols=("k",),
                 target_partition_bytes=1 << 18, block_bytes=64 << 10,
                 resume=False)
    assert (_got(spark, f"{d}/b", f"{d}/m", "g2", "val")
            == _exp(sdf2, "g2", "val"))


def test_grouped_minmax_filtered(spark, gmm_table):
    sdf, out, man = gmm_table
    pred = RangePredicate(column="k", lower=1500, upper=9000,
                          null_allowed=False)
    cond = (F.col("k") >= 1500) & (F.col("k") <= 9000)
    for v in ("val", "name", "dec"):
        assert (_got(spark, out, man, "flag", v, pred=pred)
                == _exp(sdf, "flag", v, cond)), v


def test_grouped_minmax_all_null_group_is_null(spark, gmm_table):
    _sdf, out, man = gmm_table
    got = _got(spark, out, man, "flag", "val")
    mn, mx, cnt = got["Z"]
    assert mn is None and mx is None and cnt > 0


def test_grouped_minmax_d128_refused(spark, gmm_table):
    sdf, out, man = gmm_table
    import tempfile

    d = tempfile.mkdtemp()
    wide = sdf.select("k", "flag",
                      F.col("big").cast("decimal(38,4)").alias("w"))
    encode_table(wide, f"{d}/b", f"{d}/m", key_cols=("k",), resume=False)
    with pytest.raises(Exception, match="d128|not defined|38"):
        grouped_minmax(spark, f"{d}/b", f"{d}/m", "flag", "w").collect()


def test_grouped_minmax_plan_two_exchanges(spark, gmm_table):
    """Same structural contract as grouped_sum: one partial-fold
    exchange plus the broadcast of the manifest's valid pairs."""
    _sdf, out, man = gmm_table
    df = grouped_minmax(spark, out, man, "flag", "val")
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert n_ex <= 2, plan


def test_grouped_topk_matches_catalyst(spark, gmm_table):
    """Per-group ORDER BY LIMIT k vs a Catalyst window — value SETS per
    (group, rank window) must match; ties make exact rank order
    ambiguous, so compare the sorted value multiset per group."""
    from pyspark.sql import Window

    from boltspark.engine.agg import grouped_topk

    sdf, out, man = gmm_table
    for v, asc in (("val", False), ("big", True), ("name", False),
                   ("dec", False)):
        got = {}
        for r in grouped_topk(spark, out, man, "flag", v, k=4,
                              ascending=asc).collect():
            got.setdefault(r["value"], []).append(r["item"])
        w = Window.partitionBy("flag").orderBy(
            F.col(v).asc() if asc else F.col(v).desc())
        exp = {}
        for r in (sdf.filter(F.col(v).isNotNull())
                  .withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= 4).collect()):
            exp.setdefault(r["flag"], []).append(r[v])
        assert set(got) == set(exp), v
        for g in exp:
            assert sorted(got[g], key=str) == sorted(exp[g], key=str), (v, g)


def test_grouped_topk_filtered_and_all_null_group(spark, gmm_table):
    from boltspark.engine.agg import grouped_topk

    sdf, out, man = gmm_table
    pred = RangePredicate(column="k", lower=2000, upper=9500,
                          null_allowed=False)
    got = {}
    for r in grouped_topk(spark, out, man, "flag", "val", k=3,
                          predicate=pred).collect():
        got.setdefault(r["value"], []).append(r["item"])
    filt = sdf.filter((F.col("k") >= 2000) & (F.col("k") <= 9500))
    exp = {}
    for r in filt.filter(F.col("val").isNotNull()).collect():
        exp.setdefault(r["flag"], []).append(r["val"])
    exp = {g: sorted(vs, reverse=True)[:3] for g, vs in exp.items()}
    assert set(got) == set(exp)
    for g in exp:
        assert sorted(got[g]) == sorted(exp[g]), g
    # 'Z' group: val is always NULL there -> no rows for Z
    assert "Z" not in got or exp.get("Z")


def test_grouped_minmax_nan_follows_spark_order(spark, tmp_path):
    """Spark orders NaN above +inf: a group's MIN skips NaN unless every
    value is NaN, its MAX is NaN once the group holds one.
    grouped_minmax and grouped_aggs(minmax=True) give what Catalyst
    gives over decode_table, for a mixed and an all-NaN group."""
    import math

    from boltspark.engine import decode_table
    from boltspark.engine.agg import grouped_aggs

    nan = float("nan")
    vals = ([("mixed", v) for v in (1.0, nan, 3.0, -2.5, nan, None)]
            + [("nan", v) for v in (nan, nan, None, nan)]
            + [("plain", float(i)) for i in range(5)])
    sdf = spark.createDataFrame([(i, g, v) for i, (g, v) in enumerate(vals)],
                                "k long, g string, v double")
    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    encode_table(sdf, b, m, key_cols=("k",), n_parts=1, resume=False)

    def norm(x):
        return "NaN" if isinstance(x, float) and math.isnan(x) else x

    want = {r["g"]: (norm(r["mn"]), norm(r["mx"])) for r in (
        decode_table(spark, b, m).groupBy("g")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx")).collect())}
    assert want == {"mixed": (-2.5, "NaN"), "nan": ("NaN", "NaN"),
                    "plain": (0.0, 4.0)}
    got = {g: (norm(mn), norm(mx)) for g, (mn, mx, _c)
           in _got(spark, b, m, "g", "v").items()}
    assert got == want
    rows = grouped_aggs(spark, b, m, ["g"], ["v"], minmax=True).collect()
    assert {r["g"]: (norm(r["min_v"]), norm(r["max_v"]))
            for r in rows} == want
