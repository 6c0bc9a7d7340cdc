"""Checkpoint manifest: per-partition lineage, codec choices, metrics.

The footer analog (parquet_footer.rs loads FileMetaData before any
data is touched; decode here loads the manifest before any block is
touched).  One parquet row per (partition, column) plus a per-run
table-meta row carrying the original Spark schema JSON.  Resume drops
the ``completed_partitions`` before the shuffle (the reference's skip,
local_file_reader.rs:126-171, hops row groups from footer arithmetic
alone — we hop partitions from the manifest alone).

The commit is one small write.  Each encoder task totals its own
blocks into one row per (partition, column) and hands them to the
driver through a Spark accumulator; ``commit`` checks them, appends the
META row and writes the lot in ONE job — the blocks just written are
never re-scanned.  The trade, stated plainly: the driver now holds the
manifest's own rows for the run (one per partition-column — at 100 TB
/ 64 MB partitions and ~10 columns, ~16 M small tuples), never per-group
rows and never payload bytes.

Readers keep only blocks of valid (part_id, run_id) pairs
(``valid_pairs`` builds them, ``join_valid`` applies them — every read
path goes through the two).  On a provably local manifest the driver
reads them with pyarrow (``_local_table``, the one driver-side reader,
also behind the META rows and the DSv2 source).  When they are every
(part, run) of their runs and parts — the usual table — they become a
plain filter on the blocks scan, fused into its stage and pushed to
parquet: no listing, distinct, broadcast or join job.  Any other set is
an inline table (a ``LocalRelation``: no job builds it) joined as a
broadcast.  A non-local or unreadable manifest, or more pairs than
``_LOCAL_PAIRS_MAX``, takes the Spark read (``spark.read`` +
``distinct``) and a broadcast join — the fast path fails closed.
"""

from __future__ import annotations

import json
import logging
import math
import numbers
import re
from collections import Counter
from typing import Callable
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.accumulators import AccumulatorParam
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .schema import PART_ID

META_KEY = "__table_meta__"

log = logging.getLogger(__name__)

_MANIFEST_SCHEMA = (
    "part_id long, run_id string, column string, n_rows long, "
    "raw_bytes long, enc_bytes long, enc_ms double, n_blocks long, "
    "codec string, outer string, table_meta string"
)

_ARROW_TYPES = {"long": pa.int64(), "double": pa.float64(),
                "string": pa.string()}

# one committed (part_id, column) row as commit() takes it: the manifest
# columns minus run_id and table_meta.  codec/outer are those of the
# partition's first block of the column.
PART_ROW = ("part_id", "column", "n_rows", "raw_bytes", "enc_bytes",
            "enc_ms", "n_blocks", "codec", "outer")


def _exists(spark: SparkSession, path: str) -> bool:
    import os

    local = _local_path(path, spark)
    if local is not None and os.path.isdir(local):
        # listdir, not glob: the path may contain glob metacharacters
        try:
            names = os.listdir(local)
        except OSError:
            return False
        return any(n.endswith(".parquet") and not n.startswith(("_", "."))
                   for n in names)
    if local is not None and not os.path.exists(local):
        return False  # provably local and absent: nothing for Spark to read
    try:
        spark.read.parquet(path).limit(1).collect()
        return True
    except AnalysisException as e:
        # absent: no such path, or no parquet file Spark lists in it
        # (the local branch's rule).  Anything else — a corrupt file, an
        # unreachable FS — raises: read as absent, commit would restart
        # run_seq at 0 and resume would redo every partition.
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return False
        raise


def run_exists(spark: SparkSession, manifest_path: str, run_id: str) -> bool:
    """True if this run id already committed (idempotent epoch replay).
    Every commit appends exactly one META row (commit() is the single
    manifest writer), so run membership reads from the tiny META rows —
    driver-side for local manifests, no Spark job."""
    if not _exists(spark, manifest_path):
        return False
    return any(rid == run_id for rid, _ in _meta_rows(spark, manifest_path))


def completed_partitions(spark: SparkSession, manifest_path: str,
                         part_col: str) -> tuple[int, Callable]:
    """(n, drop): the number of partitions with a committed manifest
    entry, and ``drop(df)`` that removes their rows from a frame keyed
    by ``part_col``.  When ``valid_pairs`` reads the pairs on the driver
    the part ids come from that read (no job) and ``drop`` is a filter;
    otherwise n is a count of the Spark read's distinct part ids and
    ``drop`` a broadcast left-anti join — a large list (millions of
    entries at 100 TB) never rides through the driver."""
    if not _exists(spark, manifest_path):
        return 0, lambda df: df
    pairs, rows = _pairs(spark, manifest_path, None, None)
    if rows is not None:
        done = sorted(pc.unique(rows.column(PART_ID)).to_pylist())
        return len(done), lambda df: (
            df.filter(f"NOT {_in_sql(part_col, done)}") if done else df)
    done_df = pairs.select(F.col(PART_ID).alias(part_col)).distinct()
    return done_df.count(), lambda df: df.join(
        F.broadcast(done_df), part_col, "left_anti")


class PartRows(AccumulatorParam):
    """Accumulator of manifest part rows: each encoder task adds the
    list of its own ``PART_ROW`` tuples; the driver concatenates them."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def check_part_rows(rows, columns: list[str]) -> list[tuple]:
    """Validate task-reported ``PART_ROW`` tuples on the driver, sorted.

    Fails closed: a (part_id, column) reported twice means a partition
    was split across tasks or counted twice, and a reported partition
    without every encoded column means a task lost a column — either
    way the rows cannot describe the blocks, so nothing is merged."""
    want = set(columns)
    seen: dict[tuple, tuple] = {}
    for r in rows:
        key = (r[0], r[1])
        if r[1] not in want:
            raise ValueError(f"part row for unknown column {r[1]!r} "
                             f"(partition {r[0]})")
        if key in seen:
            raise ValueError(f"partition {r[0]} column {r[1]!r} reported "
                             f"twice ({seen[key]} vs {tuple(r)}); refusing "
                             "to commit")
        seen[key] = tuple(r)
    per_part = Counter(pid for pid, _ in seen)
    short = sorted(p for p, n in per_part.items() if n != len(want))
    if short:
        raise ValueError(f"partitions {short[:8]} lack part rows for some of "
                         f"the {len(want)} encoded columns; refusing to commit")
    return sorted(seen.values())


def commit(
    spark: SparkSession,
    manifest_path: str,
    rows,
    *,
    run_id: str,
    columns: list[str],
    key_cols: tuple[str, ...],
    n_parts: int,
    schema_json: str,
    logical_schema_json: str | None = None,
) -> dict:
    """Append this run's manifest rows plus its META row — one Spark job.

    ``rows`` are ``PART_ROW`` tuples, one per (part_id, column):
    encode_table's tasks total their own blocks and deliver the rows
    through a ``PartRows`` accumulator; compact_blocks derives them from
    the source manifest.  They are checked (``check_part_rows``) BEFORE
    anything is written, so a bad report leaves the manifest untouched.
    Returns the byte totals, summed on the driver.
    """
    data = check_part_rows(rows, columns)
    # monotonic commit sequence: row_range point queries order a
    # partition's groups by (run commit order, seq) so "encode order"
    # means APPEND order across runs, not lexicographic run_id order
    # (run ids default to random uuid hex).  Rides inside the table-meta
    # JSON — the manifest parquet schema is unchanged, so existing
    # checkpoints stay readable (absent run_seq = pre-round-4 run,
    # ordered first, lexicographically).  SINGLE-WRITER assumption: the
    # read-max/+1 below is not atomic, so two appends committing
    # CONCURRENTLY can share a run_seq — their relative order then falls
    # back to run_id tie-break (deterministic, but not append order).
    # Serialize appends to a table when positional row_range semantics
    # across those runs matter; this matches the streaming path, which
    # commits epochs strictly in sequence.
    run_seq = 0
    if _exists(spark, manifest_path):
        seqs = [json.loads(tm).get("run_seq")
                for _, tm in _meta_rows(spark, manifest_path)]
        run_seq = 1 + max((int(s) for s in seqs if s is not None), default=-1)
    meta = json.dumps({
        "columns": columns, "key_cols": list(key_cols), "n_parts": n_parts,
        "schema_json": schema_json,
        # logical (pre-flatten) schema when struct columns were encoded;
        # None/absent means storage schema IS the logical schema
        "logical_schema_json": logical_schema_json,
        "run_seq": run_seq,
    })
    out = [(pid, run_id, col, *vals, None) for pid, col, *vals in data]
    out.append((-1, run_id, META_KEY, 0, 0, 0, 0.0, 0, "", "", meta))
    # handed over as one Arrow table (columnar, no per-row pickling) and
    # written as one file: a single small job
    fields = [f.split(" ") for f in _MANIFEST_SCHEMA.split(", ")]
    table = pa.table([pa.array(list(vals), _ARROW_TYPES[t])
                      for (_, t), vals in zip(fields, zip(*out))],
                     names=[n for n, _ in fields])
    (spark.createDataFrame(table, _MANIFEST_SCHEMA).coalesce(1)
     .write.mode("append").parquet(manifest_path))
    return {"raw_bytes": sum(r[3] or 0 for r in data),
            "enc_bytes": sum(r[4] or 0 for r in data)}


_INT_RANK = {"integer": 1, "long": 2}
_FLT_RANK = {"float": 1, "double": 2}
_DEC_RE = re.compile(r"^decimal\((\d+),(\d+)\)$")


def _widen_type(a, b):
    """Lossless merge of two primitive type names, or None when the
    pair is incompatible: int -> bigint and float -> double widen (in
    either append order), decimals widen in PRECISION at the SAME
    scale.  Everything else — incl. any int<->float cross, decimal
    scale changes, and all nested types — must match exactly: decode
    casts narrower blocks to the merged type, and only these pairs
    cast without changing a single value."""
    if a == b:
        return a
    if not (isinstance(a, str) and isinstance(b, str)):
        return None
    if a in _INT_RANK and b in _INT_RANK:
        return a if _INT_RANK[a] >= _INT_RANK[b] else b
    if a in _FLT_RANK and b in _FLT_RANK:
        return a if _FLT_RANK[a] >= _FLT_RANK[b] else b
    da, db = _DEC_RE.match(a), _DEC_RE.match(b)
    if da and db and da.group(2) == db.group(2):
        return a if int(da.group(1)) >= int(db.group(1)) else b
    return None


def _merge_field(fields: dict[str, dict], f: dict, what: str) -> None:
    """Fold one run's field JSON ``f`` into ``fields`` (name -> field,
    in first-seen order): a new name appends, a differing type widens
    (``_widen_type``, keeping the wider run's field) or raises."""
    c = f["name"]
    old = fields.setdefault(c, f)
    if old["type"] != f["type"]:
        wide = _widen_type(old["type"], f["type"])
        if wide is None:
            raise ValueError(f"{what} {c!r} type conflict across runs: "
                             f"{old['type']} vs {f['type']}")
        fields[c] = dict(f if f["type"] == wide else old)


def merge_metas(metas: list[dict]) -> dict:
    """Merge per-run table metas into one table view (schema evolution):
    columns = ordered union across runs (run order = sorted run ids for
    determinism), schema fields merged by name — numeric types WIDEN
    losslessly (int -> bigint, float -> double, decimal precision up at
    the same scale; decode casts older narrower blocks to the merged
    type), any other type change raises, a column missing from a run
    simply null-fills at decode.  n_parts must agree across runs
    (partition identity is sacred)."""
    if not metas:
        raise FileNotFoundError("no table meta rows")
    n_parts = {int(m["n_parts"]) for m in metas}
    if len(n_parts) != 1:
        raise ValueError(f"manifest mixes partition counts {sorted(n_parts)}; "
                         "appended runs must reuse the table's n_parts")
    fields: dict[str, dict] = {}
    for m in metas:
        by_name = {f["name"]: f for f in json.loads(m["schema_json"])["fields"]}
        for c in m["columns"]:
            _merge_field(fields, by_name[c], "column")
    # merge the logical (pre-flatten) schemas the same way; a run without
    # one contributes its storage schema (they coincide for flat tables)
    lfields: dict[str, dict] = {}
    for m in metas:
        lschema = json.loads(m.get("logical_schema_json") or m["schema_json"])
        for f in lschema["fields"]:
            _merge_field(lfields, f, "logical column")
    any_logical = any(m.get("logical_schema_json") for m in metas)
    return {
        "columns": list(fields),
        "key_cols": metas[0]["key_cols"],
        "n_parts": n_parts.pop(),
        "schema_json": json.dumps(
            {"type": "struct", "fields": list(fields.values())}),
        "logical_schema_json": json.dumps(
            {"type": "struct", "fields": list(lfields.values())}
        ) if any_logical else None,
    }


def _default_fs_is_local(spark: SparkSession | None) -> bool:
    """True when scheme-less paths resolve to the driver's local disk.
    On a cluster with fs.defaultFS=hdfs://... a bare '/warehouse/t'
    path is HDFS — the driver-side fast path must NOT shadow it with a
    same-named local directory.  Fails closed: when the Hadoop conf is
    unreachable (e.g. a Spark Connect session) the default FS is
    unknown, so it is NOT assumed local and callers take the Spark
    read path."""
    if spark is None:
        return True
    try:
        fs = (spark.sparkContext._jsc.hadoopConfiguration()
              .get("fs.defaultFS", "file:///"))
    except Exception:
        return False
    return fs.startswith("file:")


def _local_path(path: str, spark: SparkSession | None = None) -> str | None:
    """The driver's local filesystem path ``path`` names (present or
    not), or None when it is not provably local: a remote scheme, or a
    scheme-less path on a default FS that is not (or may not be) local."""
    if path.startswith("file:"):
        return "/" + path.split(":", 1)[1].lstrip("/")
    if "://" in path or not _default_fs_is_local(spark):
        return None
    return path


def _local_file(uri: str, spark: SparkSession | None = None) -> str | None:
    """``_local_path`` of a file URI Spark reports (``df.inputFiles()``,
    ``_metadata.file_path``), which percent-encodes its path."""
    return _local_path(unquote(uri), spark)


def _local_dir(path: str, spark: SparkSession | None = None) -> str | None:
    """Local filesystem directory for ``path``, or None (remote/absent)."""
    import os

    p = _local_path(path, spark)
    return p if p is not None and os.path.isdir(p) else None


def _local_table(spark: SparkSession | None, manifest_path: str,
                 columns: list[str], where=None) -> pa.Table | None:
    """The driver-side manifest read: ``columns`` of the rows ``where``
    (a pyarrow dataset expression; it prunes row groups on the column
    statistics) via pyarrow, when the manifest provably lives on the
    local filesystem (``_local_dir``).  None when it does not, or when
    the local read fails (permissions, a stray non-parquet file Spark's
    listing skips) — logged, and the caller reads through Spark, which
    reads what it lists.  ``spark=None`` (the DSv2 planner, which has no
    session) takes scheme-less paths as local and has no fallback."""
    local = _local_dir(manifest_path, spark)
    if local is None:
        return None
    try:
        return pads.dataset(local, format="parquet").to_table(
            columns=columns, filter=where)
    except (OSError, pa.ArrowInvalid) as e:
        log.warning("manifest at %s unreadable via pyarrow (%s: %s)%s",
                    manifest_path, type(e).__name__, e,
                    "" if spark is None else "; falling back to a Spark read")
        return None


def _meta_rows(spark: SparkSession, manifest_path: str) -> list[tuple]:
    """(run_id, table_meta) for every META row — driver-side
    (``_local_table``: no Spark job; the META rows are one tiny row per
    commit, and every decode/aggregate pays this lookup), else a Spark
    read."""
    t = _local_table(spark, manifest_path, ["run_id", "table_meta"],
                     pads.field("column") == META_KEY)
    if t is not None:
        return list(zip(t.column("run_id").to_pylist(),
                        t.column("table_meta").to_pylist()))
    rows = (
        spark.read.parquet(manifest_path)
        .filter(F.col("column") == META_KEY)
        .select("run_id", "table_meta").collect()
    )
    return [(r["run_id"], r["table_meta"]) for r in rows]


def read_local(manifest_path: str) -> tuple[dict, set[tuple]]:
    """(merged table meta, set of valid (part_id, run_id) pairs) from one
    driver-side read, without a Spark session — the DSv2 source's
    manifest load.  Raises FileNotFoundError when no manifest is
    readable there."""
    t = _local_table(None, manifest_path,
                     [PART_ID, "run_id", "column", "table_meta"])
    if t is None:
        raise FileNotFoundError(f"no readable manifest at {manifest_path}")
    is_meta = pc.equal(t.column("column"), META_KEY)
    meta_t, part_t = t.filter(is_meta), t.filter(pc.invert(is_meta))
    metas = sorted(zip(meta_t.column("run_id").to_pylist(),
                       meta_t.column("table_meta").to_pylist()))
    if not metas:
        raise FileNotFoundError(f"no table meta in manifest at {manifest_path}")
    pairs = set(zip(part_t.column(PART_ID).to_pylist(),
                    part_t.column("run_id").to_pylist()))
    return merge_metas([json.loads(tm) for _, tm in metas]), pairs


def table_meta(spark: SparkSession, manifest_path: str) -> dict:
    """Collect ONLY the table-meta rows (one per run) and merge them —
    appended runs may add columns (schema evolution)."""
    rows = _meta_rows(spark, manifest_path)
    if not rows:
        raise FileNotFoundError(f"no table meta in manifest at {manifest_path}")
    metas = [json.loads(tm) for _, tm in sorted(rows)]
    return merge_metas(metas)


def run_order(spark: SparkSession, manifest_path: str) -> dict[str, tuple]:
    """run_id -> sort key reflecting COMMIT order: the monotonic
    ``run_seq`` recorded in each run's table-meta (round 4+).  Runs from
    older manifests carry no run_seq and order FIRST, lexicographically
    — exactly the pre-round-4 behavior, so existing tables don't change
    meaning.  One tiny collect (one META row per run)."""
    out: dict[str, tuple] = {}
    for run_id, tm in _meta_rows(spark, manifest_path):
        seq = json.loads(tm).get("run_seq")
        out[run_id] = ((0, 0, run_id) if seq is None
                       else (1, int(seq), run_id))
    return out


def runs_as_of(spark: SparkSession, manifest_path: str,
               run_id: str) -> list[str]:
    """Time travel over the append-only commit log: all run ids
    committed AT OR BEFORE ``run_id`` in run_order (run_seq) terms —
    the run set that reconstructs the table as it stood right after
    that commit.  Pass the result as ``run_ids=`` to decode_table or
    any compressed-domain aggregate."""
    order = run_order(spark, manifest_path)
    if run_id not in order:
        raise KeyError(f"unknown run_id {run_id!r}; committed: "
                       f"{sorted(order)}")
    cut = order[run_id]
    return sorted(r for r, k in order.items() if k <= cut)


# Largest pair count the driver applies itself; more take the Spark read
# (listing, distinct, broadcast: ~flat in the pair count).  Keeping the
# valid rows of a 2,000-row parquet frame on a 4-vCPU local[4] host,
# median wall of 3, driver pairs vs Spark read:
#   filter, 1 run x 1,024 / 4,096 / 8,192 parts: 0.31 / 0.40 / 0.47 vs
#   0.48 / 0.46 / 0.54 s; 1,024 / 4,096 / 8,192 runs x 1 part: 0.30 /
#   0.34 / 0.57 vs 0.39 / 0.47 / 0.52 s;
#   inline table (any other set):  0.33 vs 0.64 s at 1,024 pairs, 0.40
#   vs 0.56 s at 4,096, 0.41 vs 0.29 s at 8,192, 0.58 vs 0.41 s at 12,288.
_LOCAL_PAIRS_MAX = 4096

_PAIR_KEYS = [PART_ID, "run_id"]
_EMPTY_ROW = "(0L, '')"
_PLAIN = re.compile(r"[\w.:-]*", re.ASCII)


def _sql_lit(v) -> str:
    """The engine's one SQL literal: the text of an int, float, str or
    bytes value that parses back to exactly ``v`` and that no quoting,
    escape or ``${}`` substitution rule of the parser can alter.  Bytes
    travel as ``X'<hex>'``, a str with other characters than
    ``[A-Za-z0-9_.:-]`` as its UTF-8 bytes cast back to a string.  An
    int types as ``F.lit`` types it (INT within 32 bits, else BIGINT);
    a float is a double cast from its round-trip repr, NaN and the
    infinities spelled out."""
    if isinstance(v, bytes):
        return f"X'{v.hex()}'"
    if isinstance(v, str):
        return (f"'{v}'" if _PLAIN.fullmatch(v)
                else f"CAST({_sql_lit(v.encode())} AS STRING)")
    if isinstance(v, numbers.Integral):
        v = int(v)
        return str(v) if -(1 << 31) <= v < (1 << 31) else f"{v}L"
    v = float(v)
    text = ("NaN" if v != v else repr(v) if abs(v) != math.inf
            else "Infinity" if v > 0 else "-Infinity")
    return f"CAST('{text}' AS DOUBLE)"


def _sql_name(*parts: str) -> str:
    """The engine's one SQL identifier: a column (``parts`` = its path
    through struct fields) backtick-quoted, a backtick inside doubled.
    ``encode_table`` refuses names holding ``${``, which the parser
    would substitute even inside backticks."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def _in_sql(col: str, values) -> str:
    """``col IN (values)`` as SQL text, so one Py4J call builds it;
    ``Column.isin`` makes ~3 per literal (4,096 literals: 2.2 s to build
    on a 4-vCPU host, against 7 ms to parse the text).  No values keep
    no row."""
    values = list(values)
    if not values:
        return "false"
    return f"{_sql_name(col)} IN ({', '.join(map(_sql_lit, values))})"


def _pairs_relation(spark: SparkSession, pairs) -> DataFrame:
    """(part_id, run_id) rows as an inline VALUES table — a
    ``LocalRelation``, so no job builds it (``createDataFrame`` would
    run one: it goes through ``parallelize``).  Run ids travel as hex,
    so no quoting or escape rule of the SQL parser can alter one."""
    vals = ", ".join(f"({int(p)}L, '{r.encode().hex()}')" for p, r in pairs)
    where = "" if vals else " WHERE false"  # VALUES needs a row
    return spark.sql(f"SELECT {PART_ID}, CAST(unhex(h) AS STRING) AS run_id "
                     f"FROM VALUES {vals or _EMPTY_ROW} AS t({PART_ID}, h)"
                     + where)


def _local_pairs(spark: SparkSession, rows: pa.Table) -> str | DataFrame:
    """The driver-read pairs as ``join_valid`` applies them.  When they
    are every (part, run) of their runs and parts — one run, or runs
    that all wrote the same partitions: the usual table — the SQL text
    ``run_id IN (runs) AND part_id IN (parts)``, a filter Catalyst fuses
    into the blocks scan's stage and pushes to parquet (no join, no
    job).  Any other set is an inline table joined as a broadcast: a
    filter's analysis grows with its literals, and an exact one per
    pair (~0.2 ms each) loses to the table."""
    runs = sorted(pc.unique(rows.column("run_id")).to_pylist())
    parts = sorted(pc.unique(rows.column(PART_ID)).to_pylist())
    if not rows.num_rows:
        return "false"
    if len(runs) * len(parts) == rows.num_rows:
        return f"{_in_sql('run_id', runs)} AND {_in_sql(PART_ID, parts)}"
    return _pairs_relation(spark, zip(rows.column(PART_ID).to_pylist(),
                                      rows.column("run_id").to_pylist()))


def _pairs(spark: SparkSession, manifest_path: str, part_ids,
           run_ids) -> tuple[str | DataFrame, pa.Table | None]:
    """``valid_pairs`` with a driver-side filter as SQL text."""
    where = pads.field("column") != META_KEY
    if part_ids is not None:
        where &= pads.field(PART_ID).isin([int(p) for p in part_ids])
    if run_ids is not None:
        where &= pads.field("run_id").isin(list(run_ids))
    t = _local_table(spark, manifest_path, [PART_ID, "run_id", "n_rows"],
                     where)
    if t is not None:
        rows = t.group_by(_PAIR_KEYS).aggregate(
            [("n_rows", "min"), ("n_rows", "max")])
        if rows.num_rows <= _LOCAL_PAIRS_MAX:
            return _local_pairs(spark, rows), rows
    scope = [f"{_sql_name('column')} != {_sql_lit(META_KEY)}"]
    if part_ids is not None:
        scope.append(_in_sql(PART_ID, [int(p) for p in part_ids]))
    if run_ids is not None:
        scope.append(_in_sql("run_id", run_ids))
    return (spark.read.parquet(manifest_path).filter(" AND ".join(scope))
            .select(*_PAIR_KEYS).distinct(), None)


def valid_pairs(spark: SparkSession, manifest_path: str, *,
                part_ids=None, run_ids=None) -> tuple[Column | DataFrame,
                                                      pa.Table | None]:
    """The valid-pairs builder: distinct (part_id, run_id) pairs with a
    committed manifest entry, restricted to ``part_ids``/``run_ids`` —
    what ``join_valid`` keeps, so orphan blocks from crashed runs stay
    invisible to every reader.

    Returns (pairs, per-pair rows).  On a local manifest with at most
    ``_LOCAL_PAIRS_MAX`` pairs they come from one driver-side read (no
    job; ``_local_pairs``: a filter Column or an inline table), and the
    per-pair rows are an Arrow table (part_id, run_id, n_rows_min,
    n_rows_max — the pair's n_rows over its columns, equal on a
    consistent manifest).  Otherwise — non-local or unreadable manifest,
    or more pairs — a Spark read + ``distinct`` and None.
    """
    pairs, rows = _pairs(spark, manifest_path, part_ids, run_ids)
    return (F.expr(pairs) if isinstance(pairs, str) else pairs), rows


def valid_pairs_df(spark: SparkSession, manifest_path: str, *,
                   part_ids=None, run_ids=None) -> str | DataFrame:
    """``valid_pairs``' pairs alone, for ``join_valid``, a filter as SQL
    text; never collected."""
    return _pairs(spark, manifest_path, part_ids, run_ids)[0]


def join_valid(df: DataFrame, valid: str | Column | DataFrame, *,
               mark: str | None = None) -> DataFrame:
    """The rows of ``df`` whose (part_id, run_id) is in ``valid`` (a
    ``valid_pairs`` value): a filter (SQL text or Column) as a plain
    filter, which Catalyst fuses into the scan and pushes to parquet, a
    pairs DataFrame by a broadcast hash join — no shuffle of ``df``
    either way.  With ``mark``, every row is kept and the boolean
    column ``mark`` added: true for a valid pair, null otherwise."""
    if not isinstance(valid, DataFrame):
        if mark is None:
            return df.filter(valid)
        cond = F.expr(valid) if isinstance(valid, str) else valid
        return df.withColumn(mark, F.when(cond, F.lit(True)))
    if mark is None:
        return df.join(F.broadcast(valid), _PAIR_KEYS, "inner")
    return df.join(F.broadcast(valid.withColumn(mark, F.lit(True))),
                   _PAIR_KEYS, "left")
