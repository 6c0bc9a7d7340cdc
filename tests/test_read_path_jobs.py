"""The read path's fixed cost: on a local manifest the driver reads the
valid (part_id, run_id) pairs itself and applies them as a filter on
the blocks scan (a cross product of runs and parts) or as an inline
table joined as a broadcast (any other set), so a decode runs 1 Spark
job, an aggregate at most 2 and a row_range decode at most 2.  Every
fallback — a non-local filesystem, a manifest pyarrow cannot read, more
pairs than the bound — takes the Spark read + broadcast join and gives
the same answers; orphan blocks of a crashed run stay invisible either
way."""

from __future__ import annotations

import gc
import shutil
import uuid

import pytest
from pyspark.sql import Column, DataFrame, Window, functions as F

from boltspark.engine import agg, decode_table, encode_table
from boltspark.engine import manifest as manifestmod
from boltspark.engine.compact import compact_blocks
from boltspark.engine.schema import PART_ID

QUOTED = "r'\\1"  # a run id with a quote and a backslash
N_PARTS = 4


def _src(spark, lo, hi, with_w=False):
    cols = [F.col("id").alias("k"), (F.col("id") % 7).alias("v"),
            F.concat(F.lit("s"), (F.col("id") % 13).cast("string"))
            .alias("s")]
    if with_w:
        cols.append((F.col("id") * 3).alias("w"))
    return spark.range(lo, hi).select(*cols)


def _jobs(spark, fn):
    """(result of fn, number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read-path job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _round_trips(spark, fn):
    """(result of fn, number of Py4J commands fn sent), memory deletes
    (``m\\n``) aside; ``gc`` is off while fn runs, so a collection
    cannot add to the count."""
    client = spark.sparkContext._gateway._gateway_client
    send, n = client.send_command, [0]

    def counted(command, *args, **kw):
        n[0] += not command.startswith("m\n")
        return send(command, *args, **kw)

    gc.collect()
    gc.disable()
    client.send_command = counted
    try:
        out = fn()
    finally:
        del client.send_command
        gc.enable()
    return out, n[0]


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """Two committed runs (the first with a quote and a backslash in its
    id, the second adding a column) plus the blocks of a crashed run
    that never committed: a copy of the first run's groups under a new
    run id."""
    d = tmp_path_factory.mktemp("readpath")
    b, m = str(d / "b"), str(d / "m")
    kw = dict(key_cols=("k",), n_parts=N_PARTS, resume=False)
    encode_table(_src(spark, 0, 400), b, m, run_id=QUOTED, **kw)
    encode_table(_src(spark, 400, 600, with_w=True), b, m, run_id="run2",
                 **kw)
    first = spark.read.parquet(b).filter(F.col("run_id") == QUOTED)
    (first.withColumn("run_id", F.lit("crashed")).write.mode("append")
     .parquet(b))
    return b, m


def _answers(spark, b, m):
    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    return {
        "decode": rows(decode_table(spark, b, m)),
        "decode_run": rows(decode_table(spark, b, m, columns=["k"],
                                        run_ids=[QUOTED])),
        "value_counts": rows(agg.value_counts(spark, b, m, "s")),
        "column_sum": rows(agg.column_sum(spark, b, m, "v")),
        "grouped_aggs": rows(agg.grouped_aggs(spark, b, m, ["s"], ["v"])),
        "column_topk": rows(agg.column_topk(spark, b, m, "k", 5)),
        "row_range": rows(decode_table(spark, b, m, columns=["k"],
                                       row_range=(95, 260))),
        "decode_runs": rows(decode_table(spark, b, m, columns=["k"],
                                         run_ids=[QUOTED, "run2"])),
        "row_range_run": rows(decode_table(spark, b, m, columns=["k"],
                                           run_ids=[QUOTED],
                                           row_range=(95, 260))),
    }


def test_local_manifest_job_counts(spark, table):
    b, m = table
    _, n = _jobs(spark, lambda: decode_table(spark, b, m).collect())
    assert n <= 1, n
    for name, call in (
            ("value_counts", lambda: agg.value_counts(spark, b, m, "s")),
            ("column_sum", lambda: agg.column_sum(spark, b, m, "v")),
            ("grouped_aggs",
             lambda: agg.grouped_aggs(spark, b, m, ["s"], ["v"])),
            ("column_topk", lambda: agg.column_topk(spark, b, m, "k", 5))):
        _, n = _jobs(spark, lambda: call().collect())
        assert n <= 2, (name, n)
    _, n = _jobs(spark, lambda: decode_table(
        spark, b, m, columns=["k"], row_range=(95, 260)).collect())
    assert n <= 2, n


def test_plan_build_round_trips(spark, table):
    """Building a read plan is a handful of Py4J calls — SQL text for
    the projection, scan filters and zone prefilters — that does not
    grow with the number of predicates: <= 100 for a decode with one
    predicate or a cascade of two, <= 200 for a filtered value_counts
    (~650, ~1,110 and ~750 as Column expressions)."""
    from boltspark.engine.filters import (BytesEqPredicate,
                                          BytesPrefixPredicate,
                                          RangePredicate)

    b, m = table
    eq = BytesEqPredicate(column="s", value=b"s3")
    cascade = [eq, BytesPrefixPredicate(column="s", prefix=b"s"),
               RangePredicate(column="v", lower=1, upper=5)]
    counts = {}
    for name, bound, call in (
            ("one", 100, lambda: decode_table(spark, b, m, predicate=eq)),
            ("two", 100, lambda: decode_table(spark, b, m,
                                              predicate=cascade[:2])),
            ("three", 100, lambda: decode_table(spark, b, m,
                                                predicate=cascade)),
            ("value_counts", 200,
             lambda: agg.value_counts(spark, b, m, "s", predicate=eq))):
        call()  # warm: first-use class loading is not the plan's cost
        df, counts[name] = _round_trips(spark, call)
        assert counts[name] <= bound, (name, counts[name])
    assert counts["three"] - counts["one"] <= 6, counts
    assert sorted(tuple(r) for r in decode_table(
        spark, b, m, predicate=cascade).collect()) == sorted(
        tuple(r) for r in decode_table(spark, b, m).collect()
        if r["s"] == "s3" and 1 <= r["v"] <= 5)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _pair_set(rows) -> set:
    return set(zip(rows.column(PART_ID).to_pylist(),
                   rows.column("run_id").to_pylist()))


def test_pairs_are_a_driver_side_filter(spark, table, monkeypatch):
    b, m = table
    (valid, rows), n = _jobs(spark, lambda: manifestmod.valid_pairs(spark, m))
    assert n == 0
    assert isinstance(valid, Column)
    want = {(p, r) for p in range(N_PARTS) for r in (QUOTED, "run2")}
    # the quoted id round-trips byte for byte; the crashed run is absent
    assert _pair_set(rows) == want
    groups = spark.read.parquet(b).select(PART_ID, "run_id", "seq")
    kept = manifestmod.join_valid(groups, valid)
    plan = _plan(kept)
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert {(r[PART_ID], r["run_id"]) for r in kept.collect()} == want
    marked = manifestmod.join_valid(groups, valid, mark="ok")
    got = {(r["run_id"], r["ok"]) for r in marked.collect()}
    assert got == {(QUOTED, True), ("run2", True), ("crashed", None)}
    scoped = manifestmod.valid_pairs_df(spark, m, part_ids=[1, 3],
                                        run_ids=[QUOTED])
    assert {tuple(r) for r in manifestmod.join_valid(
        groups, scoped).select(PART_ID, "run_id").collect()} == {
        (1, QUOTED), (3, QUOTED)}
    empty = manifestmod.valid_pairs_df(spark, m, run_ids=["nope"])
    none = manifestmod.join_valid(groups, empty)
    assert none.collect() == []
    assert none.schema == kept.schema
    # the Spark path keeps and marks the same rows, in the same schema
    monkeypatch.setattr(manifestmod, "_default_fs_is_local", lambda s: False)
    spark_valid = manifestmod.valid_pairs_df(spark, m)
    joined = manifestmod.join_valid(groups, spark_valid)
    assert sorted(joined.collect()) == sorted(kept.collect())
    assert joined.schema == kept.schema
    assert {(r["run_id"], r["ok"]) for r in manifestmod.join_valid(
        groups, spark_valid, mark="ok").collect()} == got


def test_pair_shapes_at_the_bound_match_the_spark_path(spark, tmp_path,
                                                       monkeypatch):
    """``_LOCAL_PAIRS_MAX`` pairs in the two driver-side forms: runs
    that each wrote their own part set (an inline table, joined) and two
    runs over the same parts (a cross product: one filter of a few
    thousand literals).  Neither runs a job to build, both keep exactly
    the rows the Spark path keeps and mark them alike, and one pair
    more takes the Spark path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cap = manifestmod._LOCAL_PAIRS_MAX
    # runs of 1, 2, 3 consecutive parts, so no two share a part set
    scattered, p0, r = [], 0, 0
    while len(scattered) < cap:
        k = min(r % 3 + 1, cap - len(scattered))
        scattered += [(p, f"run{r}'\\") for p in range(p0, p0 + k)]
        p0, r = p0 + k, r + 1
    wide = [(p, run) for run in ("w1", QUOTED) for p in range(cap // 2)]

    def manifest(name, ps):
        m = tmp_path / name
        m.mkdir()
        pq.write_table(pa.table({
            "part_id": pa.array([p for p, _ in ps], pa.int64()),
            "run_id": pa.array([x for _, x in ps]),
            "column": pa.array(["c"] * len(ps)),
            "n_rows": pa.array([1] * len(ps), pa.int64())}),
            str(m / "part-0.parquet"))
        return str(m)

    for name, pairs, form in (("scattered", scattered, DataFrame),
                              ("wide", wide, Column)):
        m = manifest(name, pairs)
        (valid, rows), n = _jobs(spark,
                                 lambda: manifestmod.valid_pairs(spark, m))
        assert n == 0 and isinstance(valid, form), (name, n, type(valid))
        assert _pair_set(rows) == set(pairs), name
        # groups: every valid pair, a valid part under a run that did
        # not write it, and a crashed run's copy of a valid pair
        runs = sorted({x for _, x in pairs})
        rows_ = pairs + [(p + 1, runs[i % len(runs)])
                         for i, (p, _) in enumerate(pairs[::3])]
        rows_ += [(p, "crashed") for p, _ in pairs[::5]]
        groups = spark.createDataFrame(rows_,
                                       f"{PART_ID} long, run_id string")
        got = sorted(tuple(x) for x in
                     manifestmod.join_valid(groups, valid).collect())
        assert got == sorted(x for x in rows_ if x in set(pairs)), name
        marked = sorted(tuple(x) for x in manifestmod.join_valid(
            groups, valid, mark="ok").collect())
        over = manifest(name + "_over", pairs + [(cap + 7, "extra")])
        assert manifestmod.valid_pairs(spark, over)[1] is None
        with monkeypatch.context() as mp:
            mp.setattr(manifestmod, "_default_fs_is_local", lambda s: False)
            spark_valid = manifestmod.valid_pairs_df(spark, m)
            assert sorted(tuple(x) for x in manifestmod.join_valid(
                groups, spark_valid).collect()) == got, name
            assert sorted(tuple(x) for x in manifestmod.join_valid(
                groups, spark_valid, mark="ok").collect()) == marked, name


def test_orphans_invisible_and_quoted_run_reads(spark, table):
    b, m = table
    dec = decode_table(spark, b, m)
    assert dec.count() == 600
    assert dec.select("k").distinct().count() == 600
    assert decode_table(spark, b, m, run_ids=[QUOTED]).count() == 400
    assert agg.column_sum(spark, b, m, "v").first()["sum_value"] == \
        _src(spark, 0, 600).agg(F.sum("v")).first()[0]


def test_fallbacks_give_identical_answers(spark, table, tmp_path,
                                          monkeypatch):
    b, m = table
    want = _answers(spark, b, m)
    # a non-local default FS: the Spark read of the pairs
    with monkeypatch.context() as mp:
        mp.setattr(manifestmod, "_default_fs_is_local", lambda s: False)
        plan = (manifestmod.valid_pairs_df(spark, m)._jdf.queryExecution()
                .executedPlan().toString())
        assert "LocalTableScan" not in plan, plan
        assert _answers(spark, b, m) == want
    # a manifest pyarrow cannot read: an in-flight copy Spark's listing
    # skips and pyarrow's discovery does not
    m2 = str(tmp_path / "m")
    shutil.copytree(m, m2)
    (tmp_path / "m" / "part-99999.parquet._COPYING_").write_bytes(b"junk")
    plan = (manifestmod.valid_pairs_df(spark, m2)._jdf.queryExecution()
            .executedPlan().toString())
    assert "LocalTableScan" not in plan, plan
    assert _answers(spark, b, m2) == want
    # above the pair-count limit: the Spark read again
    monkeypatch.setattr(manifestmod, "_LOCAL_PAIRS_MAX", 3)
    valid, rows = manifestmod.valid_pairs(spark, m)
    assert rows is None
    assert {tuple(r) for r in valid.collect()} == {
        (p, r) for p in range(N_PARTS) for r in (QUOTED, "run2")}


def test_exists_fails_closed_on_a_corrupt_manifest(spark, tmp_path,
                                                   monkeypatch):
    """A corrupt manifest is not an absent one: read as absent, a commit
    would restart run_seq at 0 and resume would redo every partition."""
    bad = tmp_path / "m"
    bad.mkdir()
    (bad / "part-00000-x.snappy.parquet").write_bytes(b"not parquet")
    empty = tmp_path / "empty"
    empty.mkdir()
    # the local branch lists the file, then its read fails loudly
    assert manifestmod._exists(spark, str(bad))
    with pytest.raises(Exception):
        manifestmod.run_exists(spark, str(bad), "r")
    # the Spark branch: only a missing path (or one without parquet
    # files) is absent; the corrupt file raises
    monkeypatch.setattr(manifestmod, "_default_fs_is_local", lambda s: False)
    assert not manifestmod._exists(spark, str(tmp_path / "missing"))
    assert not manifestmod._exists(spark, str(empty))
    with pytest.raises(Exception):
        manifestmod._exists(spark, str(bad))
    with pytest.raises(Exception):
        encode_table(_src(spark, 0, 40), str(tmp_path / "b"), str(bad),
                     key_cols=("k",), n_parts=2, resume=True)


class _RefusingReader:
    """A session's ``read`` stand-in: records each parquet read and
    refuses it."""

    def __init__(self):
        self.paths = []

    def parquet(self, path):
        self.paths.append(path)
        raise RuntimeError("spark read")


def test_exists_answers_an_absent_local_path_without_spark(tmp_path,
                                                          monkeypatch):
    """A provably local path that does not exist is absent without a
    Spark read (a fresh table's ``run_exists`` and ``commit``); a path
    that may not be local still asks Spark, which fails closed."""
    absent = tmp_path / "fresh" / "m"
    session = type("Session", (), {})()
    session.read = _RefusingReader()
    assert not manifestmod._exists(session, f"file://{absent}")
    monkeypatch.setattr(manifestmod, "_default_fs_is_local", lambda s: True)
    assert not manifestmod._exists(session, str(absent))
    assert session.read.paths == []
    monkeypatch.setattr(manifestmod, "_default_fs_is_local", lambda s: False)
    with pytest.raises(RuntimeError, match="spark read"):
        manifestmod._exists(session, str(absent))
    assert session.read.paths == [str(absent)]


def test_resume_reads_the_done_partitions_on_the_driver(spark, tmp_path,
                                                       monkeypatch):
    """A half-done table resumes from the driver's own manifest read (a
    filter, no count job, no broadcast): fewer jobs than the Spark read
    of the done partitions, and the same rows as a one-shot encode."""
    src = _src(spark, 0, 400)
    half = src.filter(F.pmod(F.xxhash64("k"), F.lit(N_PARTS)) < 2)
    kw = dict(key_cols=("k",))

    def resumed(name):
        b, m = str(tmp_path / name / "b"), str(tmp_path / name / "m")
        encode_table(half, b, m, n_parts=N_PARTS, run_id="first",
                     resume=False, **kw)
        res, n = _jobs(spark, lambda: encode_table(src, b, m, run_id="rest",
                                                   **kw))
        assert res.n_partitions == N_PARTS and res.n_planned == N_PARTS - 2
        return sorted(tuple(r) for r in decode_table(spark, b, m).collect()), n

    got, n_local = resumed("local")
    with monkeypatch.context() as mp:
        # pairs over the bound: the Spark read + broadcast anti-join
        mp.setattr(manifestmod, "_LOCAL_PAIRS_MAX", 1)
        got_spark, n_spark = resumed("spark")
    assert n_local < n_spark, (n_local, n_spark)
    b, m = str(tmp_path / "one" / "b"), str(tmp_path / "one" / "m")
    encode_table(src, b, m, n_parts=N_PARTS, resume=False, **kw)
    want = sorted(tuple(r) for r in decode_table(spark, b, m).collect())
    assert got == want and got_spark == want
    assert len(want) == 400


# --- row_range -----------------------------------------------------------


def _slice(decoded, order, start, end):
    """Rows [start, end) of ``decoded`` in the given global order."""
    w = Window.orderBy(*order)
    return sorted(r["k"] for r in (
        decoded.withColumn("__pos", F.row_number().over(w) - 1)
        .filter((F.col("__pos") >= start) & (F.col("__pos") < end))
        .collect()))


@pytest.fixture(scope="module")
def evolved(spark, tmp_path_factory):
    """Run 'a1' (k, v, s) then run 'b2' adding column w, 3 partitions,
    and its compaction (one run; groups kept in (run_id, seq) order)."""
    d = tmp_path_factory.mktemp("rowrange")
    b, m = str(d / "b"), str(d / "m")
    kw = dict(key_cols=("k",), n_parts=3, resume=False, block_bytes=1 << 10)
    encode_table(_src(spark, 0, 300), b, m, run_id="a1", **kw)
    encode_table(_src(spark, 300, 500, with_w=True), b, m, run_id="b2", **kw)
    cb, cm = str(d / "cb"), str(d / "cm")
    compact_blocks(spark, b, m, cb, cm)
    return (b, m), (cb, cm)


@pytest.mark.parametrize("which", ["evolved", "compacted"])
def test_row_range_matches_a_catalyst_slice(spark, evolved, which):
    b, m = evolved[0] if which == "evolved" else evolved[1]
    # global order: part_id, then append order (run a1 before b2), then
    # the key (an encoded partition's rows are key-sorted)
    decoded = (decode_table(spark, b, m, include_part_id=True)
               .withColumn("__run", (F.col("k") >= 300).cast("int")))
    order = [PART_ID, "__run", "k"]
    for start, end in [(0, 7), (150, 330), (160, 170), (495, 520)]:
        got, n = _jobs(spark, lambda: sorted(
            r["k"] for r in decode_table(
                spark, b, m, columns=["k", "w"],
                row_range=(start, end)).collect()))
        assert got == _slice(decoded, order, start, end), (start, end)
        assert n <= 2, (start, end, n)
    # a part_ids list scopes the order to those partitions
    sub = decoded.filter(F.col(PART_ID).isin([0, 2]))
    got = sorted(r["k"] for r in decode_table(
        spark, b, m, columns=["k"], part_ids=[0, 2],
        row_range=(100, 240)).collect())
    assert got == _slice(sub, order, 100, 240)


def test_row_range_run_ids_are_run_relative(spark, evolved):
    b, m = evolved[0]
    decoded = decode_table(spark, b, m, include_part_id=True,
                           run_ids=["b2"])
    for start, end in [(0, 10), (60, 140), (190, 400)]:
        got = sorted(r["k"] for r in decode_table(
            spark, b, m, columns=["k"], run_ids=["b2"],
            row_range=(start, end)).collect())
        assert got == _slice(decoded, [PART_ID, "k"], start, end)


def test_row_range_falls_back_when_manifest_rows_disagree(spark, evolved,
                                                          monkeypatch):
    """A pair whose n_rows differ across columns cannot give partition
    totals; the totals then come from the blocks (the Spark job)."""
    import pyarrow as pa

    b, m = evolved[0]
    want = sorted(r["k"] for r in decode_table(
        spark, b, m, columns=["k"], row_range=(150, 330)).collect())
    orig = manifestmod.valid_pairs

    def skewed(*a, **kw):
        valid, rows = orig(*a, **kw)
        lo = rows.column("n_rows_min").to_pylist()
        lo[0] -= 1
        return valid, rows.set_column(
            rows.schema.get_field_index("n_rows_min"), "n_rows_min",
            pa.array(lo, pa.int64()))

    monkeypatch.setattr(manifestmod, "valid_pairs", skewed)
    got, n = _jobs(spark, lambda: sorted(r["k"] for r in decode_table(
        spark, b, m, columns=["k"], row_range=(150, 330)).collect()))
    assert got == want
    assert n > 4  # the groupBy job ran


@pytest.mark.parametrize("which", ["evolved", "compacted"])
def test_row_window_predicate_and_part_id_together(spark, evolved, which):
    """The task loop's three inputs at once: a row_range window, a
    predicate on w (the column run b2 adds, NULL in a1's groups, which
    ``null_allowed`` keeps) and include_part_id equal the Catalyst
    slice then filter.  The DSv2 source under the same predicates
    returns what decode_table returns."""
    from boltspark.engine.filters import ConstPredicate, RangePredicate
    from boltspark.sources import datasource as ds

    b, m = evolved[0] if which == "evolved" else evolved[1]
    decoded = (decode_table(spark, b, m, include_part_id=True)
               .withColumn("__run", (F.col("k") >= 300).cast("int")))
    order = [PART_ID, "__run", "k"]
    pred = RangePredicate(column="w", lower=1000, upper=1300,
                          null_allowed=True)
    keep = F.col("w").isNull() | F.col("w").between(1000, 1300)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for start, end in [(0, 7), (150, 330), (160, 170), (280, 480)]:
        got = rows(decode_table(spark, b, m, columns=["k", "w"],
                                row_range=(start, end), predicate=pred,
                                include_part_id=True))
        ks = _slice(decoded, order, start, end)
        want = rows(decoded.filter(F.col("k").isin(ks) & keep)
                    .select("k", "w", PART_ID))
        assert got == want, (start, end)
    for cond, p in (
            (keep, pred),
            (F.col("w").between(1000, 1300),
             RangePredicate(column="w", lower=1000, upper=1300)),
            (F.col("w").isNull(),
             ConstPredicate(column="w", accept=False, null_allowed=True))):
        got = rows(ds.load(spark, b, m, columns=["k", "w"]).filter(cond))
        assert got == rows(decode_table(spark, b, m, columns=["k", "w"],
                                        predicate=p))
        assert got, p
