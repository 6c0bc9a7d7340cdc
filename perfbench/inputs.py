"""Seeded benchmark inputs and the digests that check decoded rows.

The input table is the ``boltspark.corpus`` table (repo, path, commit,
lang, content) plus five per-file numeric columns derived from it.  The
corpus is all strings, so on its own it never lets the selector pick
frame-of-reference, bit-packing, RLE or delta; the numeric columns are
shaped so that each of those codecs has a column it wins on once encode
has clustered the rows by the key columns (repo, path, commit):

* ``size``       byte length of ``content``        (FoR / bit-packing)
* ``n_lines``    newline count of ``content``      (bit-packing)
* ``repo_stars`` one seeded value per repo         (RLE: rows sort by repo)
* ``file_rank``  rank of (repo, path, commit)      (delta: monotone per part)
* ``committed``  one seeded date per commit        (date, FoR / bit-packing)

Same ``(n_rows, seed)`` gives identical bytes; the seed also drives the
corpus itself.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from boltspark import corpus

KEY_COLS = ("repo", "path", "commit")
_MASK = (1 << 128) - 1


def make_table(n_rows: int, seed: int) -> pa.Table:
    t = corpus.generate(n_rows, seed=seed)
    rng = np.random.default_rng([seed, 1])
    content = t.column("content")
    _, repo_inv = np.unique(t.column("repo").to_numpy(zero_copy_only=False),
                            return_inverse=True)
    _, commit_inv = np.unique(t.column("commit").to_numpy(zero_copy_only=False),
                              return_inverse=True)
    order = pc.sort_indices(t, [(c, "ascending") for c in KEY_COLS]).to_numpy()
    rank = np.empty(n_rows, dtype=np.int64)
    rank[order] = np.arange(n_rows, dtype=np.int64)
    stars = rng.integers(0, 50_000, int(repo_inv.max()) + 1)[repo_inv]
    days = 17_500 + rng.integers(0, 3_000, int(commit_inv.max()) + 1)[commit_inv]
    return (t.append_column("size", pc.binary_length(content).cast(pa.int64()))
            .append_column("n_lines", pc.count_substring(content, "\n"))
            .append_column("repo_stars", pa.array(stars, pa.int64()))
            .append_column("file_rank", pa.array(rank))
            .append_column("committed", pa.array(days.astype(np.int32),
                                                 pa.int32()).cast(pa.date32())))


def write_parquet(table: pa.Table, path: str) -> None:
    """Small row groups, as ``corpus.write_parquet`` does, so Spark's scan
    of the input runs as several tasks."""
    import pyarrow.parquet as pq

    pq.write_table(table, path, row_group_size=2048)


def _value_bytes(v) -> bytes:
    if v is None:
        return b"\xff"
    if isinstance(v, bytes):
        return b"b" + v
    if isinstance(v, str):
        return b"s" + v.encode("utf-8")
    return b"v" + str(v).encode()


def digest(table: pa.Table, columns) -> tuple[int, int]:
    """(row count, sum of per-row sha256 prefixes mod 2**128): equal for two
    tables exactly when they hold the same multiset of rows, up to a hash
    collision.  Row order does not matter, so it checks decode outputs
    whose order the engine does not fix."""
    acc = 0
    cols = [table.column(c).to_pylist() for c in columns]
    for row in zip(*cols):
        h = hashlib.sha256()
        for v in row:
            b = _value_bytes(v)
            h.update(len(b).to_bytes(4, "little"))
            h.update(b)
        acc = (acc + int.from_bytes(h.digest()[:16], "little")) & _MASK
    return table.num_rows, acc


def spark_digest(df, columns) -> tuple[int, int, int]:
    """The same idea evaluated by Spark, for outputs too large to collect:
    per-row sha256 over the per-column sha256 of each value's string form,
    folded into (count, sum of hash word 1, sum of hash word 2)."""
    from pyspark.sql import functions as F

    per_col = [F.coalesce(F.sha2(F.col(c).cast("string"), 256), F.lit("null"))
               for c in columns]
    h = F.sha2(F.concat(*per_col), 256)
    words = [F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long")
             for i in range(2)]
    row = df.select(*[w.alias(f"w{i}") for i, w in enumerate(words)]).agg(
        F.count(F.lit(1)).alias("n"), F.sum("w0").alias("s0"),
        F.sum("w1").alias("s1")).collect()[0]
    return int(row["n"]), int(row["s0"] or 0), int(row["s1"] or 0)
