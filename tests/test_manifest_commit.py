"""Manifest commit: the committed (part_id, column) rows must equal the
aggregation of the run's block groups, however the commit derives them.

The oracle below is the blocks re-scan aggregation the engine used to
run at commit time (melt one struct per column, group by partition and
column), built here from the blocks' metadata leaves so the test holds
for any commit strategy.  ``stats.validate_table`` reconciles the same
counts and must pass on every table."""

from __future__ import annotations

import json
import uuid

import pytest
from pyspark.sql import functions as F

from boltspark import corpus
from boltspark.engine import encode_table, manifest as manifestmod
from boltspark.engine.compact import compact_blocks
from boltspark.engine.schema import PART_ID, read_blocks
from boltspark.engine.stats import validate_table

_EXACT = ("n_rows", "raw_bytes", "enc_bytes", "n_blocks")
_NULL = "\x00null"


def _oracle(spark, blocks_path, run_id, columns):
    """(part_id, column) -> aggregated block metadata of one run."""
    melt = F.explode(F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col("cols").getField(c).getField("raw_bytes").alias("raw_bytes"),
            F.col("cols").getField(c).getField("enc_bytes").alias("enc_bytes"),
            F.col("cols").getField(c).getField("enc_ms").alias("enc_ms"),
            F.col("cols").getField(c).getField("codec").alias("codec"),
            F.col("cols").getField(c).getField("outer").alias("outer"),
        )
        for c in columns
    ])).alias("m")
    rows = (
        read_blocks(spark, blocks_path, columns)
        .filter(F.col("run_id") == run_id)
        .select(PART_ID, "n_rows", melt)
        .select(PART_ID, "n_rows", "m.*")
        .groupBy(PART_ID, "column")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
            F.sum("enc_ms").alias("enc_ms"),
            F.count(F.lit(1)).alias("n_blocks"),
            # nulls kept as a marker: groups that predate an evolved
            # column carry no codec
            F.collect_set(F.coalesce("codec", F.lit(_NULL))).alias("codecs"),
            F.collect_set(F.coalesce("outer", F.lit(_NULL))).alias("outers"),
        )
        .collect()
    )
    return {(r[PART_ID], r["column"]): r for r in rows}


def assert_manifest_matches_blocks(spark, blocks_path, manifest_path,
                                   validate=True):
    man = spark.read.parquet(manifest_path).collect()
    metas = {r["run_id"]: json.loads(r["table_meta"]) for r in man
             if r["column"] == manifestmod.META_KEY}
    data = [r for r in man if r["column"] != manifestmod.META_KEY]
    assert {r["run_id"] for r in data} <= set(metas)
    for run_id, meta in metas.items():
        got = {(r[PART_ID], r["column"]): r for r in data
               if r["run_id"] == run_id}
        want = _oracle(spark, blocks_path, run_id, meta["columns"])
        assert sorted(got) == sorted(want), run_id
        for key, w in want.items():
            g = got[key]
            for f in _EXACT:
                assert g[f] == w[f], (run_id, key, f, g[f], w[f])
            if w["enc_ms"] is None:
                assert g["enc_ms"] is None, (run_id, key)
            else:
                assert g["enc_ms"] == pytest.approx(w["enc_ms"], rel=1e-6,
                                                    abs=1e-6), (run_id, key)
            for f, seen in (("codec", w["codecs"]), ("outer", w["outers"])):
                if seen == [_NULL] or len(seen) == 1:
                    assert g[f] == (None if seen == [_NULL] else seen[0]), \
                        (run_id, key, f)
                else:
                    # mixed (or partly null) groups: any value they carry
                    assert g[f] is None or g[f] in seen, (run_id, key, f)
    if validate:
        assert validate_table(spark, blocks_path, manifest_path)["ok"]
    return metas


def test_manifest_rows_multi_partition_nullable(spark, tmp_path):
    d = str(tmp_path)
    corpus.write_parquet(f"{d}/c.parquet", 400, with_nullable=True,
                         median_len=512)
    df = spark.read.parquet(f"{d}/c.parquet")
    # small blocks: most partitions carry several groups per column
    encode_table(df, f"{d}/b", f"{d}/m", n_parts=4, resume=False,
                 block_bytes=32 << 10, run_id="r1")
    metas = assert_manifest_matches_blocks(spark, f"{d}/b", f"{d}/m")
    assert list(metas) == ["r1"]
    n_blocks = [r["n_blocks"] for r in spark.read.parquet(f"{d}/m")
                .filter(F.col("column") == "content").collect()]
    assert len(n_blocks) == 4 and max(n_blocks) > 1


def _evolved_table(spark, d):
    """Two runs into one table; the second adds the column ``extra``."""
    df1 = spark.range(120).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
        F.lit("c").alias("commit"),
        F.concat(F.lit("body"), F.col("id")).alias("content"))
    encode_table(df1, f"{d}/b", f"{d}/m", n_parts=4, resume=False,
                 run_id="run1")
    df2 = spark.range(120, 170).select(
        F.lit("r").alias("repo"), F.col("id").cast("string").alias("path"),
        F.lit("c").alias("commit"),
        F.concat(F.lit("body"), F.col("id")).alias("content"),
        (F.col("id") % 7).alias("extra"))
    encode_table(df2, f"{d}/b", f"{d}/m", n_parts=4, resume=False,
                 run_id="run2")


def test_manifest_rows_schema_evolution_and_compact(spark, tmp_path):
    d = str(tmp_path)
    _evolved_table(spark, d)
    metas = assert_manifest_matches_blocks(spark, f"{d}/b", f"{d}/m")
    assert sorted(metas) == ["run1", "run2"]
    assert "extra" not in metas["run1"]["columns"]

    # compaction moves run1's groups (which predate ``extra``) and
    # run2's into one run: the manifest counts every group of a
    # partition for every column, with null bytes where a group
    # predates the column
    res = compact_blocks(spark, f"{d}/b", f"{d}/m", f"{d}/b2", f"{d}/m2")
    # validate_table on this table: test_validate_table_compacted_evolved
    metas = assert_manifest_matches_blocks(spark, f"{d}/b2", f"{d}/m2",
                                           validate=False)
    assert list(metas) == [res["run_id"]]
    extra = (spark.read.parquet(f"{d}/m2").filter(F.col("column") == "extra")
             .agg(F.sum("n_rows").alias("n")).first()["n"])
    assert extra == 170


def test_manifest_rows_struct_and_list_columns(spark, tmp_path):
    d = str(tmp_path)
    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.struct((F.col("id") % 9).cast("int").alias("w"),
                 F.concat(F.lit("s"), F.col("id") % 4).alias("tag")).alias("m"),
        F.when(F.col("id") % 5 == 0, F.lit(None))
        .otherwise(F.array(F.col("id"), F.col("id") * 2)).alias("xs"),
        F.array(F.concat(F.lit("t"), F.col("id") % 3)).alias("tags"),
    )
    encode_table(df, f"{d}/b", f"{d}/m", key_cols=("doc_id",), n_parts=3,
                 resume=False, run_id="s1")
    metas = assert_manifest_matches_blocks(spark, f"{d}/b", f"{d}/m")
    assert any("\x1f" in c for c in metas["s1"]["columns"])

    res = compact_blocks(spark, f"{d}/b", f"{d}/m", f"{d}/b2", f"{d}/m2")
    metas = assert_manifest_matches_blocks(spark, f"{d}/b2", f"{d}/m2")
    assert list(metas) == [res["run_id"]]


def test_validate_table_compacted_evolved(spark, tmp_path):
    """The compacted manifest counts a partition's pre-evolution groups
    for the evolved column too; validate_table must reconcile exactly
    those counts instead of flagging them."""
    d = str(tmp_path)
    _evolved_table(spark, d)
    compact_blocks(spark, f"{d}/b", f"{d}/m", f"{d}/b2", f"{d}/m2")
    assert validate_table(spark, f"{d}/b2", f"{d}/m2") == {"ok": True,
                                                           "errors": []}


# --- job counts ---------------------------------------------------------


def _small_df(spark):
    return spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"),
        F.concat(F.lit("s"), F.col("id")).alias("s"))


def test_encode_and_commit_job_counts(spark, tmp_path, monkeypatch):
    """The commit is ONE Spark job (a write of the task-reported rows),
    and the whole encode of a small input takes at most 4 jobs; its
    byte totals are the committed rows' sums."""
    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    enc_group, commit_group = f"enc-{tag}", f"commit-{tag}"
    orig = manifestmod.commit

    def counted(*a, **kw):
        sc.setJobGroup(commit_group, "manifest.commit")
        try:
            return orig(*a, **kw)
        finally:
            sc.setJobGroup(enc_group, "encode_table")

    monkeypatch.setattr(manifestmod, "commit", counted)
    d = str(tmp_path)
    sc.setJobGroup(enc_group, "encode_table")
    try:
        res = encode_table(_small_df(spark), f"{d}/b", f"{d}/m",
                           key_cols=("k",), n_parts=4, resume=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    n_commit = len(tracker.getJobIdsForGroup(commit_group))
    n_enc = len(tracker.getJobIdsForGroup(enc_group))
    assert n_commit == 1
    assert n_enc + n_commit <= 4
    man = spark.read.parquet(f"{d}/m").filter(
        F.col("column") != manifestmod.META_KEY)
    tot = man.agg(F.sum("raw_bytes").alias("r"),
                  F.sum("enc_bytes").alias("e")).first()
    assert (res.total_raw_bytes, res.total_enc_bytes) == (tot["r"], tot["e"])
    assert man.count() == 4 * 3


# --- fail closed --------------------------------------------------------


def _row(pid, col, n_rows=10, raw=80, enc=20):
    return (pid, col, n_rows, raw, enc, 1.5, 1, "plain", "zstd")


_COMMIT_KW = dict(run_id="r", columns=["a", "b"], key_cols=("a",), n_parts=2,
                  schema_json='{"type":"struct","fields":[]}')


def _files(path):
    return sorted(p.name for p in path.rglob("*")) if path.exists() else []


def test_check_part_rows_fails_closed():
    good = [_row(1, "b"), _row(0, "a"), _row(0, "b"), _row(1, "a")]
    assert manifestmod.check_part_rows(good, ["a", "b"]) == sorted(good)
    with pytest.raises(ValueError, match="reported twice"):
        manifestmod.check_part_rows(good + [_row(0, "a", n_rows=11)],
                                    ["a", "b"])
    with pytest.raises(ValueError, match="reported twice"):
        manifestmod.check_part_rows(good + [_row(0, "a")], ["a", "b"])
    with pytest.raises(ValueError, match="lack part rows"):
        manifestmod.check_part_rows(good[:-1], ["a", "b"])
    with pytest.raises(ValueError, match="unknown column"):
        manifestmod.check_part_rows(good + [_row(0, "z")], ["a", "b"])
    assert manifestmod.check_part_rows([], ["a", "b"]) == []


@pytest.mark.parametrize("bad", [
    [_row(0, "a"), _row(0, "b"), _row(0, "a", raw=81)],  # duplicate
    [_row(0, "a"), _row(0, "b"), _row(1, "a")],  # part 1 lacks "b"
])
def test_commit_refuses_bad_rows_before_writing(spark, tmp_path, bad):
    fresh = tmp_path / "fresh"
    with pytest.raises(ValueError):
        manifestmod.commit(spark, str(fresh), bad, **_COMMIT_KW)
    assert _files(fresh) == []

    # an existing manifest is left byte-for-byte as it was
    existing = tmp_path / "existing"
    manifestmod.commit(spark, str(existing),
                       [_row(0, "a"), _row(0, "b")], **_COMMIT_KW)
    before = {p: p.read_bytes() for p in existing.rglob("*") if p.is_file()}
    with pytest.raises(ValueError):
        manifestmod.commit(spark, str(existing), bad,
                           **dict(_COMMIT_KW, run_id="r2"))
    after = {p: p.read_bytes() for p in existing.rglob("*") if p.is_file()}
    assert after == before


# --- crash between the blocks write and the commit ----------------------


def _digest(df):
    return sorted(r["h"] for r in df.select(F.sha2(F.concat_ws(
        "|", *[F.col(c).cast("string") for c in sorted(df.columns)]), 256)
        .alias("h")).collect())


def test_crash_between_write_and_commit_then_resume(spark, tmp_path,
                                                    monkeypatch):
    from boltspark.engine import decode_table
    from boltspark.engine.compact import gc_orphans
    from boltspark.engine.partitioner import PART_COL, assign_partition_id

    d = str(tmp_path)
    b, m = f"{d}/b", f"{d}/m"
    src = _small_df(spark)
    kw = dict(key_cols=("k",), n_parts=4)
    # run 1 commits two of the four partitions
    first = (assign_partition_id(src, ("k",), 4)
             .filter(F.col(PART_COL) < 2).drop(PART_COL))
    encode_table(first, b, m, resume=False, run_id="run1", **kw)

    # run 2 resumes the rest, writes its blocks, then dies in the commit
    def crash(*a, **k):
        raise RuntimeError("driver died before the manifest commit")

    with monkeypatch.context() as mp:
        mp.setattr(manifestmod, "commit", crash)
        with pytest.raises(RuntimeError, match="manifest commit"):
            encode_table(src, b, m, resume=True, run_id="run2", **kw)
    run2_groups = (spark.read.parquet(b).filter(F.col("run_id") == "run2")
                   .count())
    assert run2_groups > 0
    # run 3 resumes again and commits; run 2's blocks stay orphans
    res = encode_table(src, b, m, resume=True, run_id="run3", **kw)
    assert res.n_planned == 2

    assert _digest(decode_table(spark, b, m)) == _digest(src)
    assert validate_table(spark, b, m)["ok"]
    gc = gc_orphans(spark, b, m, min_age_seconds=0)
    assert gc["orphan_groups"] == run2_groups and gc["orphan_files"] > 0
    # the crashed run's task rows never reach a later commit: run 3's
    # rows are exactly its own blocks' totals
    metas = assert_manifest_matches_blocks(spark, b, m)
    assert sorted(metas) == ["run1", "run3"]
    run3 = spark.read.parquet(m).filter(
        (F.col("run_id") == "run3") & (F.col("column") != manifestmod.META_KEY))
    assert sorted({r[PART_ID] for r in run3.collect()}) == [2, 3]
    tot = run3.agg(F.sum("raw_bytes").alias("r")).first()["r"]
    assert res.total_raw_bytes == tot
