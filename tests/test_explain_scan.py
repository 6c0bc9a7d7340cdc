"""explain_scan: metadata-only prune report (skip / accept / open per
block group) — the scanned-fraction predictor an operator runs before
an expensive decode.  Invariants: counts partition the table, the plan
reads no block binaries, verdicts agree with what decode actually does,
and composites (OR) skip only when every disjunct is provably dead."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from boltspark.engine import decode_table, encode_table
from boltspark.engine.agg import column_count
from boltspark.engine.filters import (BytesEqPredicate, ConstPredicate,
                                      NotPredicate, OrPredicate,
                                      RangePredicate)
from boltspark.engine.stats import explain_scan


@pytest.fixture(scope="module")
def zoned_table(spark, tmp_path_factory):
    # sorted by the hot filter column -> tight zones per block
    df = (spark.range(20000)
          .select(F.col("id").alias("k"),
                  (F.col("id") % 9973).alias("ts"),
                  (F.col("id") % 4).cast("string").alias("lang")))
    base = tmp_path_factory.mktemp("explain")
    out, man = str(base / "blocks"), str(base / "manifest")
    encode_table(df, out, man, key_cols=("k",), sort_cols=("ts",),
                 n_parts=4, block_bytes=16 << 10, resume=False)
    return df, out, man


def _report(spark, out, man, pred):
    return {r["verdict"]: (r["n_groups"], r["n_rows"])
            for r in explain_scan(spark, out, man, predicate=pred).collect()}


def test_explain_partitions_the_table(spark, zoned_table):
    df, out, man = zoned_table
    total_groups = spark.read.parquet(out).count()
    total_rows = df.count()
    pred = RangePredicate(column="ts", lower=100, upper=400)
    rep = _report(spark, out, man, pred)
    assert sum(v[0] for v in rep.values()) == total_groups
    assert sum(v[1] for v in rep.values()) == total_rows
    # sorted-by-ts clustering must let zones skip most groups
    assert rep.get("skip", (0, 0))[0] > total_groups // 2


def test_explain_bounds_the_actual_decode(spark, zoned_table):
    df, out, man = zoned_table
    pred = RangePredicate(column="ts", lower=1000, upper=1500)
    rep = _report(spark, out, man, pred)
    decoded = decode_table(spark, out, man, predicate=pred).count()
    accept = rep.get("accept", (0, 0))[1]
    openr = rep.get("open", (0, 0))[1]
    assert accept <= decoded <= accept + openr
    exp = df.filter(F.col("ts").between(1000, 1500)).count()
    assert decoded == exp > 0


def test_explain_extremes(spark, zoned_table):
    _, out, man = zoned_table
    # no predicate / accept-all predicate: everything accepted
    assert set(_report(spark, out, man, None)) == {"accept"}
    assert set(_report(spark, out, man,
                       ConstPredicate(column="ts", accept=True))) == {"accept"}
    # impossible range: everything skipped, nothing opened
    rep = _report(spark, out, man,
                  RangePredicate(column="ts", lower=10**9))
    assert set(rep) == {"skip"}


def test_explain_composite_or(spark, zoned_table):
    _, out, man = zoned_table
    dead = RangePredicate(column="ts", lower=10**9)
    live = RangePredicate(column="ts", upper=300)
    # OR skips only where BOTH disjuncts are provably dead
    rep_or = _report(spark, out, man, OrPredicate([dead, live]))
    rep_live = _report(spark, out, man, live)
    assert rep_or.get("skip") == rep_live.get("skip")
    # NOT of an equality no block can fully satisfy accepts everything
    rep_not = _report(spark, out, man,
                      NotPredicate(BytesEqPredicate(column="lang",
                                                    value=b"absent")))
    assert set(rep_not) == {"accept"}


def test_explain_reads_no_block_bytes(spark, zoned_table):
    _, out, man = zoned_table
    plan = explain_scan(
        spark, out, man,
        predicate=RangePredicate(column="ts", lower=5),
    )._jdf.queryExecution().executedPlan().toString()
    rs = [ln.split("ReadSchema:", 1)[1] for ln in plan.splitlines()
          if "ReadSchema" in ln and "cols" in ln.split("ReadSchema:", 1)[-1]]
    assert rs and all("block" not in frag for frag in rs), plan


def test_explain_resolves_struct_leaf_predicates(spark, tmp_path_factory):
    """Review fix: explain_scan must accept dotted struct-leaf
    predicate columns exactly as decode_table does — and so must the
    aggregates, through the one shared resolver, which raises KeyError
    on an unknown column for every reader alike."""
    df = (spark.range(2000)
          .select(F.col("id").alias("k"),
                  F.struct((F.col("id") % 50).alias("w"),
                           (F.col("id") % 9).alias("h")).alias("meta")))
    base = tmp_path_factory.mktemp("explnest")
    out, man = str(base / "b"), str(base / "m")
    encode_table(df, out, man, key_cols=("k",), n_parts=2, resume=False)
    pred = RangePredicate(column="meta.w", lower=10, upper=20)
    rep = {r["verdict"]: r["n_rows"]
           for r in explain_scan(spark, out, man, predicate=pred).collect()}
    assert sum(rep.values()) == 2000
    decoded = decode_table(spark, out, man, predicate=pred).count()
    assert rep.get("accept", 0) <= decoded <= \
        rep.get("accept", 0) + rep.get("open", 0)
    assert decoded == df.filter(F.col("meta.w").between(10, 20)).count() > 0
    counted = column_count(spark, out, man, "k", predicate=pred).first()
    assert counted["n_rows"] == decoded
    nope = RangePredicate(column="meta.nope", lower=0)
    for read in (lambda: decode_table(spark, out, man, predicate=nope),
                 lambda: explain_scan(spark, out, man, predicate=nope),
                 lambda: column_count(spark, out, man, "k", predicate=nope)):
        with pytest.raises(KeyError):
            read().collect()
