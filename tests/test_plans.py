"""Physical-plan quality gates (.explain-driven): predicate/column
pruning must reach the parquet scans, and built-in pipelines must stay
inside whole-stage codegen (no row-at-a-time Python in JVM paths)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from boltspark import corpus
from boltspark.engine import decode_table, encode_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)


@pytest.fixture(scope="module")
def encoded(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("plans")
    path = str(base / "c.parquet")
    corpus.write_parquet(path, 1500)
    df = spark.read.parquet(path)
    res = encode_table(df, str(base / "blocks"), str(base / "manifest"),
                       target_partition_bytes=1 << 20)
    return res


def _read_schemas(plan: str) -> list[str]:
    return [ln.split("ReadSchema:", 1)[1] for ln in plan.splitlines()
            if "ReadSchema:" in ln]


def test_blocks_scan_prunes_columns(spark, encoded):
    """Projection must shrink the parquet ReadSchema to exactly the
    requested columns' leaves (nested schema pruning over the wide
    layout) — the bytes of unrequested columns are never read."""
    decoded = decode_table(spark, encoded.out_path, encoded.manifest_path,
                           columns=["lang"])
    schemas = _read_schemas(_plan(decoded))
    blocks_schemas = [s for s in schemas if "cols:struct" in s]
    assert blocks_schemas, schemas
    for s in blocks_schemas:
        assert "lang:struct<block:binary>" in s, s
        # the giant content column's chunk must not be in the scan
        assert "content" not in s, s


def test_predicate_scan_reads_only_block_and_stats(spark, encoded):
    from boltspark.engine.filters import BytesEqPredicate

    decoded = decode_table(spark, encoded.out_path, encoded.manifest_path,
                           columns=["path"],
                           predicate=BytesEqPredicate(column="lang", value=b"py"))
    schemas = [s for s in _read_schemas(_plan(decoded)) if "cols:struct" in s]
    assert schemas
    for s in schemas:
        assert "lang:struct<block:binary,stats:struct<" in s, s
        assert "content" not in s, s


def test_manifest_aggregation_never_reads_payloads(spark, encoded):
    """The manifest commit melt reads only metadata leaves of the wide
    layout — no binary block chunk appears in the ReadSchema."""
    blocks = spark.read.parquet(encoded.out_path).select(
        "part_id", "n_rows",
        F.col("cols").getField("lang").getField("raw_bytes").alias("rb"),
    ).groupBy("part_id").agg(F.sum("rb"))
    schemas = _read_schemas(_plan(blocks))
    assert schemas and all("block:binary" not in s for s in schemas), schemas


def test_decode_plan_has_no_shuffle(spark, encoded, monkeypatch):
    """The wide layout makes every blocks row a self-contained group:
    the block DATA must never shuffle.  On a local manifest the valid
    pairs are a filter fused into the blocks scan (no join, no
    exchange at all) and reach parquet's PushedFilters; off the local
    FS they join in as a broadcast (its own tiny distinct may shuffle a
    few hundred metadata rows — that's the footer, not the data)."""
    from boltspark.engine import manifest as manifestmod

    plan = _plan(decode_table(spark, encoded.out_path, encoded.manifest_path))
    for word in ("Join", "BroadcastExchange", "Exchange"):
        assert word not in plan, (word, plan)
    scans = [ln for ln in plan.splitlines() if "cols:struct" in ln]
    assert scans, plan
    for ln in scans:
        pushed = ln.split("PushedFilters:", 1)[1].split("ReadSchema:")[0]
        assert "run_id" in pushed and "part_id" in pushed, ln
    assert any("Filter" in ln and "run_id" in ln and "part_id" in ln
               for ln in plan.splitlines()), plan
    monkeypatch.setattr(manifestmod, "_default_fs_is_local", lambda s: False)
    plan = _plan(decode_table(spark, encoded.out_path, encoded.manifest_path))
    assert "BroadcastHashJoin" in plan, plan
    for ln in plan.splitlines():
        # left-branch (blocks/probe side) lines carry a ':' gutter in the
        # tree rendering; no exchange may appear there
        if "Exchange" in ln and ln.lstrip().startswith(":"):
            raise AssertionError(f"shuffle on the blocks side: {ln}")


def test_similarity_topk_stays_jvm_side(spark):
    from boltspark.pipeline import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    topk = similarity.brute_force_topk(emb, [0.1] * dim, k=5)
    plan = _plan(topk)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # top-k compiles to TakeOrderedAndProject, not a global sort
    assert "TakeOrdered" in plan, plan


def test_textstats_stay_jvm_side(spark):
    from boltspark.pipeline import textstats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = textstats.language_id(textstats.quality_features(docs))
    plan = _plan(out.select("doc_id", "quality_score", "lang_pred"))
    # higher-order array functions aren't codegen'd but stay JVM-side:
    # the gate is "no Python eval nodes in the hot path"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_exact_dedup_is_hash_aggregate(spark):
    from boltspark.pipeline import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.exact_dedup(docs, cols=["text"]))
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" in plan


def test_lsh_candidates_shuffle_on_bucket_not_cross_join(spark):
    from boltspark.pipeline import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    pairs = dedup.lsh_candidate_pairs(docs, n_hashes=16, bands=4)
    plan = _plan(pairs)
    # candidates meet via an equi-join on the band bucket — a cartesian
    # product would be quadratic at scale
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_resume_antijoin_prunes_partitions(spark, encoded):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    # planning only: resume with an existing manifest must not error and
    # must filter on the partition id column
    res = encode_table(
        df.withColumnRenamed("doc_id", "k").withColumn("repo", F.lit("r"))
          .withColumn("path", F.col("k").cast("string"))
          .withColumn("commit", F.lit("c")),
        encoded.out_path + "_r", encoded.manifest_path + "_r",
        key_cols=("repo", "path", "commit"), target_partition_bytes=1 << 20,
    )
    assert res.n_partitions >= 1


def test_byte_predicate_stats_filter_is_jvm_side(spark, encoded):
    """Byte predicates (equality / IN / prefix) must put a zone filter on
    the typed stats struct in the JVM plan, so non-matching groups are
    dropped before their block bytes cross into Python (ADVICE r2 #5 /
    VERDICT r2 next #4)."""
    from boltspark.engine.filters import (BytesEqPredicate,
                                          BytesPrefixPredicate, InPredicate)

    for pred in (BytesEqPredicate(column="lang", value=b"en"),
                 InPredicate(column="lang", values=(b"de", b"fr")),
                 BytesPrefixPredicate(column="lang", prefix=b"e")):
        df = decode_table(spark, encoded.out_path, encoded.manifest_path,
                          columns=["path"], predicate=pred)
        plan = _plan(df)
        # Catalyst inlines the __st_lang alias back to the struct path, so
        # the JVM filter (and even the parquet PushedFilters) reference
        # cols.lang.stats.* directly
        filt = [ln for ln in plan.splitlines() if "Filter" in ln]
        assert any("lang.stats" in ln for ln in filt), plan


def test_aggregate_plan_one_tiny_exchange(spark, tmp_path_factory,
                                          monkeypatch):
    """Compressed-domain aggregates must shuffle exactly once — the
    final fold over partial rows — and their scan must prune to the
    aggregated column's block leaf (+ stats for predicates).  If a
    regroup or repartition sneaks in before the partials, the 'one tiny
    shuffle' claim is dead at 100 TB."""
    from boltspark.engine import manifest as manifestmod
    from boltspark.engine.agg import column_sum, grouped_sum, value_counts
    from boltspark.engine.filters import RangePredicate

    # the shared fixture has no numeric column; encode one with stars
    base = tmp_path_factory.mktemp("aggplans")
    path = str(base / "c.parquet")
    corpus.write_parquet(path, 1200, with_nullable=True)
    res = encode_table(spark.read.parquet(path),
                       str(base / "blocks"), str(base / "manifest"),
                       target_partition_bytes=1 << 20)
    bp, mp = res.out_path, res.manifest_path
    pred = RangePredicate(column="stars", lower=100, upper=None,
                          null_allowed=False)

    def build():
        return {
            "column_sum": _plan(column_sum(spark, bp, mp, "stars")),
            "column_sum_pred": _plan(column_sum(spark, bp, mp, "stars",
                                                predicate=pred)),
            "value_counts": _plan(value_counts(spark, bp, mp, "lang")),
            "grouped_sum": _plan(grouped_sum(spark, bp, mp, "lang",
                                             "stars")),
        }

    import re

    def n_shuffle(plan):
        return plan.count("Exchange hashpartitioning") + \
            plan.count("Exchange SinglePartition") + \
            plan.count("Exchange rangepartitioning")

    pairs_distinct = r"Exchange hashpartitioning\(part_id#\d+L?, run_id#\d+"
    # on a local manifest the valid pairs are a filter on the blocks
    # scan — no join, no broadcast: the only shuffle is the final fold
    # over partial rows.  A SECOND exchange means the blocks data itself
    # got regrouped — dead at 100 TB.
    plans = build()
    for name, plan in plans.items():
        assert n_shuffle(plan) == 1, (name, plan)
        assert plan.count("Exchange") == 1, (name, plan)
        assert not re.search(pairs_distinct, plan), (name, plan)
        assert "Join" not in plan and "BroadcastExchange" not in plan, \
            (name, plan)
        pushed = r"PushedFilters: \[[^\]]*(In|EqualTo)\(run_id"
        assert re.search(pushed, plan), (name, plan)
        assert "MapInArrow" in plan, name
    # off the local FS the pairs are a Spark read: exactly two shuffles,
    # the fold and the metadata-scale manifest distinct that feeds the
    # broadcast join (hashpartitioning(part_id, run_id) under
    # BroadcastExchange)
    monkeypatch.setattr(manifestmod, "_default_fs_is_local", lambda s: False)
    for name, plan in build().items():
        assert n_shuffle(plan) == 2, (name, plan)
        assert re.search(pairs_distinct, plan), (name, plan)
        assert "BroadcastHashJoin" in plan, name
        assert "MapInArrow" in plan, name
    monkeypatch.undo()
    # column pruning: the sum's scan reads only the summed column's
    # block leaf, never the giant content chunk
    for name in ("column_sum", "value_counts"):
        schemas = [s for s in _read_schemas(plans[name])
                   if "cols:struct" in s]
        assert schemas, plans[name]
        for s in schemas:
            assert "content" not in s, (name, s)
    # predicate variant additionally reads the stats leaf for the JVM
    # zone prefilter
    pred_schema = [s for s in _read_schemas(plans["column_sum_pred"])
                   if "cols:struct" in s]
    assert any("stats" in s for s in pred_schema), pred_schema
