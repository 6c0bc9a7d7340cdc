"""The three workloads: what each sets up, its timed op and its checks.

Every workload generates its inputs from the seed alone (``make_inputs``,
pure pyarrow, runs while the JVM starts), writes them under the run's
work directory, and answers every op with a check against an answer
computed without boltspark.  An op returns an ``OpResult``; a failed
check is a failed op, never an exception that ends the run.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from boltspark import corpus
from boltspark.engine import agg, compact, decode_table, encode_table
from boltspark.engine.filters import (AndPredicate, BytesEqPredicate,
                                      BytesPrefixPredicate, OrPredicate,
                                      RangePredicate)

from . import inputs
from .inputs import KEY_COLS


@dataclass
class OpResult:
    kind: str
    ok: bool
    raw_bytes: int = 0  # raw bytes the op encoded or returned
    note: str = ""
    label: str = ""  # finer kind, for the per-op listing in the context


@dataclass
class Table:
    blocks: str
    manifest: str


@dataclass
class LayerInputs:
    """What the traced layer pass replays: parquet inputs, each encoded as
    one run of a fresh table, and predicates over that table with the
    number of rows each keeps.  Both depend on the seed alone."""
    sources: list[str]
    predicates: list = field(default_factory=list)  # [(predicate, n_rows)]


def dir_bytes(path: str) -> int:
    """Bytes on disk, without Spark's checksum and marker files."""
    return sum(os.path.getsize(p)
               for p in glob.glob(f"{path}/**/*", recursive=True)
               if os.path.isfile(p) and not p.endswith(".crc")
               and "_SUCCESS" not in p)


def manifest_raw_bytes(manifest: str) -> int:
    m = pq.read_table(manifest)
    return int(pc.sum(m.column("raw_bytes")).as_py() or 0)


def table_rows(manifest: str, column: str) -> int:
    m = pq.read_table(manifest)
    keep = pc.equal(m.column("column"), column)
    return int(pc.sum(m.filter(keep).column("n_rows")).as_py() or 0)


def stored_bytes(t: Table) -> int:
    return dir_bytes(t.blocks) + dir_bytes(t.manifest)


class Workload:
    name = ""
    primary = ""  # the op kind whose latency is op_p50_ms
    # whole-table encodes must store no more than parquet of the same rows;
    # small appended runs need not
    parquet_bound = True

    def make_inputs(self, seed: int) -> None:
        raise NotImplementedError

    def setup(self, ctx) -> None:
        raise NotImplementedError

    def op(self, ctx, i: int) -> OpResult:
        raise NotImplementedError

    def stored(self, ctx) -> tuple[int, int, int]:
        """(stored bytes, manifest raw bytes, parquet bytes of the same rows)."""
        raise NotImplementedError

    def layer_inputs(self, ctx) -> LayerInputs:
        raise NotImplementedError

    def sizes(self) -> dict:
        raise NotImplementedError


def _parquet_bytes(ctx, df) -> int:
    ref = ctx.fresh("ref_parquet")
    df.write.parquet(ref)
    n = dir_bytes(ref)
    shutil.rmtree(ref)
    return n


def _mid_repos(table: pa.Table) -> list[str]:
    """Repos ranked 10th to 40th by row count: similar selectivity whatever
    the seed (the corpus's repo sizes are Zipf-skewed)."""
    vc = pc.value_counts(table.column("repo"))
    order = np.argsort(-vc.field("counts").to_numpy(), kind="stable")
    return [vc.field("values")[int(i)].as_py() for i in order[10:40]]


def _band(table: pa.Table, column: str, rng, width: float) -> tuple[int, int]:
    """A value range holding about ``width`` of the rows, at a seeded place."""
    q = float(rng.uniform(0.1, 0.9 - width))
    lo, hi = np.quantile(table.column(column).to_numpy(), [q, q + width])
    return int(lo), int(hi)


def _probe_predicates(table: pa.Table, rng) -> list:
    """Seeded predicates for workloads whose own ops carry none, with the
    rows each keeps (the filters layer is measured on them)."""
    repos = _mid_repos(table)
    lo, hi = _band(table, "file_rank", rng, 0.3)
    preds = [
        BytesEqPredicate(column="repo", value=str(rng.choice(repos)).encode()),
        # file_rank is monotone within a partition, so zone maps accept
        # and skip whole groups on it
        RangePredicate(column="file_rank", lower=lo, upper=hi),
        AndPredicate(children=[
            BytesEqPredicate(column="lang", value=str(rng.choice(corpus.LANGS)).encode()),
            RangePredicate(column="n_lines", lower=0, upper=40)]),
    ]
    return [(p, int(_mask(table, p).sum())) for p in preds]


def _mask(t: pa.Table, p) -> np.ndarray:
    """Rows of ``t`` a predicate keeps, evaluated with pyarrow."""
    if isinstance(p, AndPredicate):
        return np.logical_and.reduce([_mask(t, c) for c in p.children])
    if isinstance(p, OrPredicate):
        return np.logical_or.reduce([_mask(t, c) for c in p.children])
    col = t.column(p.column)
    if isinstance(p, BytesEqPredicate):
        m = pc.equal(col, p.value.decode())
    elif isinstance(p, BytesPrefixPredicate):
        m = pc.starts_with(col, p.prefix.decode())
    elif isinstance(p, RangePredicate):
        m = pc.and_(pc.greater_equal(col, p.lower), pc.less_equal(col, p.upper))
    else:
        raise TypeError(type(p))
    return m.to_numpy(zero_copy_only=False).astype(bool)


class BulkRoundtrip(Workload):
    """Each op encodes the whole table and decodes all of it back, checking
    every row's sha256 (multiset digest, Spark-side) against the source."""

    name = "bulk_roundtrip"
    primary = "roundtrip"
    ROWS = 16_000
    WARM_ROWS = 2_000

    def make_inputs(self, seed):
        self.table = inputs.make_table(self.ROWS, seed)
        self.rng = np.random.default_rng([seed, 3])

    def setup(self, ctx):
        spark = ctx.spark
        self.source = ctx.input_path("table.parquet")
        inputs.write_parquet(self.table, self.source)
        warm_path = ctx.input_path("warm.parquet")
        inputs.write_parquet(self.table.slice(0, self.WARM_ROWS), warm_path)
        self.columns = self.table.column_names
        self.df = spark.read.parquet(self.source)
        warm = spark.read.parquet(warm_path)
        self.current = None
        with ctx.background(
                lambda: inputs.spark_digest(self.df, self.columns),
                lambda: _parquet_bytes(ctx, self.df),
                lambda: inputs.spark_digest(warm, self.columns)) as jobs:
            warm_t = ctx.fresh_table("bulk_warm")
            encode_table(warm, warm_t.blocks, warm_t.manifest, resume=False)
            got = inputs.spark_digest(
                decode_table(spark, warm_t.blocks, warm_t.manifest), self.columns)
        self.expected, self.parquet_bytes, warm_expected = jobs.results()
        ctx.remove_table(warm_t)
        if got != warm_expected:
            raise RuntimeError("warm round: sha256 digest mismatch")

    def _roundtrip(self, ctx, df, expected) -> OpResult:
        previous, t = self.current, ctx.fresh_table("bulk")
        with ctx.tracer.span("encode.encode_table") as sp:
            res = encode_table(df, t.blocks, t.manifest, resume=False)
        ctx.tracer.annotate(sp, raw=res.total_raw_bytes)
        self.current = t
        if previous is not None:
            ctx.remove_table(previous)
        with ctx.tracer.span("decode.decode_table") as sp:
            got = inputs.spark_digest(
                decode_table(ctx.spark, t.blocks, t.manifest), self.columns)
        raw = res.total_raw_bytes
        ctx.tracer.annotate(sp, raw=raw)
        if got != expected:
            return OpResult(self.primary, False, 2 * raw, "sha256 digest mismatch")
        return OpResult(self.primary, True, 2 * raw)

    def op(self, ctx, i):
        return self._roundtrip(ctx, self.df, self.expected)

    def stored(self, ctx):
        return (stored_bytes(self.current),
                manifest_raw_bytes(self.current.manifest), self.parquet_bytes)

    def layer_inputs(self, ctx):
        return LayerInputs([self.source], _probe_predicates(self.table, self.rng))

    def sizes(self):
        return {"rows": self.ROWS,
                "raw_MB": round(manifest_raw_bytes(self.current.manifest) / 1e6, 1)}


@dataclass
class Query:
    kind: str
    run: object        # (spark, Table) -> answer
    expected: object
    n_rows: int        # rows the answer covers (returned rows for decodes)
    predicate: object = None


def _decode_digest(columns, **kw):
    def run(spark, t):
        out = decode_table(spark, t.blocks, t.manifest, columns=columns,
                           **kw).toArrow()
        return inputs.digest(out, columns), out.nbytes
    return run


class SelectiveScan(Workload):
    """One encode in setup, then a one-client closed loop over a seeded
    mix of predicate decodes, point reads, row-range slices and
    compressed-domain aggregates, each checked against an answer computed
    in setup from the source rows with pyarrow."""

    name = "selective_scan"
    primary = "query"
    ROWS = 12_000
    QUERIES = 60  # more than a run reaches; the loop cycles through them
    DECODES = ("eq_content", "prefix", "or_content", "and_range", "point",
               "row_range")
    KINDS = DECODES + ("value_counts", "column_sum", "grouped_aggs",
                       "column_topk")  # named after the agg functions

    def make_inputs(self, seed):
        self.table = inputs.make_table(self.ROWS, seed)
        self.seed = seed

    def setup(self, ctx):
        from pyspark.sql import functions as F

        spark = ctx.spark
        self.source = ctx.input_path("table.parquet")
        inputs.write_parquet(self.table, self.source)
        df = spark.read.parquet(self.source)
        self.t = ctx.fresh_table("selective")
        # key hash of every source row by plain Spark: with the partition
        # count it gives each row's partition by the engine's on-disk
        # formula pmod(xxhash64(keys), P), for point reads and row ranges
        with ctx.background(
                lambda: df.select(F.xxhash64(*KEY_COLS).alias("h")).toArrow(),
                lambda: _parquet_bytes(ctx, df)) as jobs:
            res = encode_table(df, self.t.blocks, self.t.manifest, resume=False)
        hashes, self.parquet_bytes = jobs.results()
        self.raw = manifest_raw_bytes(self.t.manifest)
        # numpy's % on int64 is a floor modulo, i.e. Spark's pmod
        self.part = hashes.column("h").to_numpy() % res.n_partitions
        self._repos = _mid_repos(self.table)
        self._order = pc.sort_indices(
            self.table.select(list(KEY_COLS)).append_column(
                "p", pa.array(self.part)),
            [("p", "ascending")] + [(c, "ascending") for c in KEY_COLS]
        ).to_numpy()
        rng = np.random.default_rng([self.seed, 2])
        self.queries = [self._query(self.KINDS[i % len(self.KINDS)], rng)
                        for i in range(self.QUERIES)]
        # warm round: one query of each kind, run side by side
        warm = [self._query(k, np.random.default_rng([self.seed, 4, j]))
                for j, k in enumerate(self.KINDS)]
        with ctx.background(*[lambda q=q: q.run(spark, self.t)[0]
                              for q in warm]) as jobs:
            pass
        for q, answer in zip(warm, jobs.results()):
            if answer != q.expected:
                raise RuntimeError(f"warm round: {q.kind} answer {answer!r:.300} "
                                   f"!= expected {q.expected!r:.300}")

    def _query(self, kind, rng) -> Query:
        t = self.table
        repos = self._repos
        repo = str(rng.choice(repos)).encode()

        def rows(mask, columns, **kw):
            sel = t.filter(pa.array(mask)).select(columns)
            return Query(kind, _decode_digest(columns, **kw),
                         inputs.digest(sel, columns), sel.num_rows,
                         kw.get("predicate"))

        if kind == "eq_content":
            p = BytesEqPredicate(column="repo", value=repo)
            return rows(_mask(t, p), ["repo", "path", "content"], predicate=p)
        if kind == "prefix":
            p = BytesPrefixPredicate(
                column="path", prefix=f"{rng.choice(corpus._DIRS)}/".encode())
            return rows(_mask(t, p), ["path", "lang", "size"], predicate=p)
        if kind == "or_content":
            p = OrPredicate(children=[
                BytesEqPredicate(column="repo", value=repo),
                BytesEqPredicate(column="repo",
                                 value=str(rng.choice(repos)).encode())])
            return rows(_mask(t, p), ["repo", "content"], predicate=p)
        if kind == "and_range":
            lo, hi = _band(t, "size", rng, 0.3)
            p = AndPredicate(children=[
                BytesEqPredicate(column="lang",
                                 value=str(rng.choice(corpus.LANGS)).encode()),
                RangePredicate(column="size", lower=lo, upper=hi)])
            return rows(_mask(t, p), ["repo", "size", "n_lines"], predicate=p)
        if kind == "point":
            part_id = int(rng.integers(0, int(self.part.max()) + 1))
            return rows(self.part == part_id, ["repo", "path", "commit", "lang"],
                        part_ids=[part_id])
        if kind == "row_range":
            # global encode order: partition, then the key columns
            # (ties in the keys only reorder rows with equal projections)
            start = int(rng.integers(0, t.num_rows - 600))
            idx = self._order[start:start + 500]
            mask = np.zeros(t.num_rows, bool)
            mask[idx] = True
            return rows(mask, list(KEY_COLS), row_range=(start, start + 500))
        if kind == "value_counts":
            column = "lang"
            p = BytesPrefixPredicate(column="path",
                                     prefix=f"{rng.choice(corpus._DIRS)}/".encode())
            sel = t.filter(pa.array(_mask(t, p)))
            vc = pc.value_counts(sel.column(column))
            expected = dict(zip(vc.field("values").to_pylist(),
                                vc.field("counts").to_pylist()))

            def run(spark, tb):
                got = agg.value_counts(spark, tb.blocks, tb.manifest, column,
                                       predicate=p).collect()
                return {r[0]: int(r[1]) for r in got}, 0
            return Query(kind, run, expected, sel.num_rows, p)
        if kind == "column_sum":
            lo, hi = _band(t, "file_rank", rng, 0.3)
            p = RangePredicate(column="file_rank", lower=lo, upper=hi)
            m = _mask(t, p)
            expected = (int(t.column("size").to_numpy()[m].sum()), int(m.sum()))

            def run(spark, tb):
                r = agg.column_sum(spark, tb.blocks, tb.manifest, "size",
                                   predicate=p).collect()[0]
                return (int(r["sum_value"]), int(r["n_rows"])), 0
            return Query(kind, run, expected, int(m.sum()), p)
        if kind == "grouped_aggs":
            lo, hi = _band(t, "repo_stars", rng, 0.2)
            p = RangePredicate(column="repo_stars", lower=lo, upper=hi)
            sel = t.filter(pa.array(_mask(t, p)))
            g = sel.group_by("lang").aggregate([("size", "sum"), ("lang", "count")])
            expected = {lang: (int(s), int(c)) for lang, s, c in zip(
                g.column("lang").to_pylist(), g.column("size_sum").to_pylist(),
                g.column("lang_count").to_pylist())}

            def run(spark, tb):
                got = agg.grouped_aggs(spark, tb.blocks, tb.manifest, ["lang"],
                                       ["size", "n_lines"], predicate=p).collect()
                return {r["lang"]: (int(r["sum_size"]), int(r["cnt"]))
                        for r in got}, 0
            return Query(kind, run, expected, sel.num_rows, p)
        if kind == "column_topk":
            column = str(rng.choice(["size", "file_rank", "n_lines"]))
            asc = bool(rng.integers(0, 2))
            vals = np.sort(t.column(column).to_numpy())
            expected = [int(v) for v in (vals[:10] if asc else vals[::-1][:10])]

            def run(spark, tb):
                got = agg.column_topk(spark, tb.blocks, tb.manifest, column, 10,
                                      ascending=asc).collect()
                return [int(r["value"]) for r in got], 0
            return Query(kind, run, expected, 10)
        raise ValueError(kind)

    def _run(self, ctx, q: Query) -> OpResult:
        span = "decode.decode_table" if q.kind in self.DECODES else f"agg.{q.kind}"
        with ctx.tracer.span(span) as sp:
            answer, nbytes = q.run(ctx.spark, self.t)
        ctx.tracer.annotate(sp, raw=nbytes)
        if answer != q.expected:
            return OpResult(self.primary, False, nbytes,
                            f"{q.kind}: answer differs from expected", q.kind)
        return OpResult(self.primary, True, nbytes, label=q.kind)

    def op(self, ctx, i):
        return self._run(ctx, self.queries[i % len(self.queries)])

    def stored(self, ctx):
        return stored_bytes(self.t), self.raw, self.parquet_bytes

    def layer_inputs(self, ctx):
        # the first query of three predicate kinds, so counts repeat for a seed
        first = {}
        for q in self.queries:
            first.setdefault(q.kind, q)
        preds = [(first[k].predicate, first[k].n_rows)
                 for k in ("or_content", "and_range", "column_sum")]
        return LayerInputs([self.source], preds)

    def sizes(self):
        return {"rows": self.ROWS, "raw_MB": round(self.raw / 1e6, 1),
                "queries_listed": self.QUERIES}


class AppendCompact(Workload):
    """Appends seeded slices of a few MB to one table, one run each; each
    append is read back by run id and checked row by row; every
    ``EVERY`` appends the table is compacted into a new one that
    replaces it."""

    name = "append_compact"
    primary = "append"
    parquet_bound = False
    SLICE_ROWS = 1_500
    SLICES = 16
    WARM_SLICES = 2
    EVERY = 2

    def make_inputs(self, seed):
        n = self.SLICE_ROWS * (self.SLICES + self.WARM_SLICES)
        table = inputs.make_table(n, seed)
        order = np.random.default_rng([seed, 5]).permutation(n)
        self.slices = [table.take(order[i:i + self.SLICE_ROWS])
                       for i in range(0, n, self.SLICE_ROWS)]
        self.rng = np.random.default_rng([seed, 3])

    def setup(self, ctx):
        self.paths = []
        for i, s in enumerate(self.slices):
            path = ctx.input_path(f"slice{i:02d}.parquet")
            inputs.write_parquet(s, path)
            self.paths.append(path)
        self.columns = self.slices[0].column_names
        self.digests = [inputs.digest(s, self.columns) for s in self.slices]
        # warm round on slices of its own, into a table of its own
        warm = ctx.fresh_table("append_warm")
        for j, i in enumerate(range(self.SLICES, len(self.slices))):
            self._append(ctx, warm, i, f"w{j}")
        ctx.remove_table(self._compact(ctx, warm,
                                       self.WARM_SLICES * self.SLICE_ROWS))
        self.table = ctx.fresh_table("append")
        self.used: list[int] = []  # slices appended, in order

    def _append(self, ctx, t: Table, i: int, run_id: str) -> OpResult:
        df = ctx.spark.read.parquet(self.paths[i])
        with ctx.tracer.span("encode.encode_table") as sp:
            res = encode_table(df, t.blocks, t.manifest, resume=False,
                               run_id=run_id)
        ctx.tracer.annotate(sp, raw=res.total_raw_bytes)
        with ctx.tracer.span("decode.decode_table") as sp:
            out = decode_table(ctx.spark, t.blocks, t.manifest,
                               run_ids=[run_id]).toArrow()
        raw = out.nbytes
        ctx.tracer.annotate(sp, raw=raw)
        if inputs.digest(out, self.columns) != self.digests[i]:
            return OpResult("append", False, raw, f"run {run_id}: sha256 mismatch")
        return OpResult("append", True, raw)

    def _compact(self, ctx, t: Table, expect_rows: int) -> Table:
        new = ctx.fresh_table("append")
        with ctx.tracer.span("compact.compact_blocks"):
            compact.compact_blocks(ctx.spark, t.blocks, t.manifest,
                                   new.blocks, new.manifest)
        ctx.remove_table(t)
        got = table_rows(new.manifest, self.columns[0])
        if got != expect_rows:
            raise RuntimeError(f"compaction kept {got} rows of {expect_rows}")
        return new

    def op(self, ctx, i):
        step = i % (self.EVERY + 1)
        if step == self.EVERY:
            try:
                self.table = self._compact(ctx, self.table,
                                           len(self.used) * self.SLICE_ROWS)
            except RuntimeError as e:
                return OpResult("compact", False, 0, str(e))
            return OpResult("compact", True, 0)
        k = len(self.used)
        self.used.append(k % self.SLICES)
        return self._append(ctx, self.table, self.used[-1], f"a{k:05d}")

    def stored(self, ctx):
        df = ctx.spark.read.parquet(*[self.paths[i] for i in self.used])
        return (stored_bytes(self.table), manifest_raw_bytes(self.table.manifest),
                _parquet_bytes(ctx, df))

    def layer_inputs(self, ctx):
        # the warm slices: the main table's contents grow with the op count
        warm = pa.concat_tables(self.slices[self.SLICES:])
        return LayerInputs(self.paths[self.SLICES:],
                           _probe_predicates(warm, self.rng))

    def sizes(self):
        return {"slice_rows": self.SLICE_ROWS,
                "slice_raw_MB": round(self.slices[0].nbytes / 1e6, 1),
                "appends": len(self.used), "compact_every": self.EVERY}


WORKLOADS = {w.name: w for w in (BulkRoundtrip, SelectiveScan, AppendCompact)}
