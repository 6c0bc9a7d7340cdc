"""Block bytes cross from Arrow into Python only when a reader needs
them, and at most once per block: ``decode._groups`` must leave a
predicate block whose zone answers the group uncrossed, and a
predicate column that is also an output column must share one crossing
between the cascade and the output cell.  The spy wraps the block
columns of a ``_blocks_proj``-layout batch and counts ``as_py`` calls."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
import pytest

from boltspark.engine import decode
from boltspark.engine.encode import _column_stats
from boltspark.engine.filters import RangePredicate
from boltspark.engine.schema import _STATS_ARROW
from boltspark.kernels import block as blockmod

N = 100
# the predicate's zone answers group 0 'none' and group 1 'all'; group 2
# straddles the bound, so its predicate block opens
K_STARTS = (0, 500, 450)
PRED = RangePredicate(column="k", lower=500)


class _SpyScalar:
    def __init__(self, scalar, name: str, counts: Counter):
        self._s, self._name, self._counts = scalar, name, counts

    @property
    def is_valid(self) -> bool:
        return self._s.is_valid

    def as_py(self):
        self._counts[self._name] += 1
        return self._s.as_py()


class _SpyColumn:
    def __init__(self, arr, name: str, counts: Counter):
        self._arr, self._name, self._counts = arr, name, counts

    def __getitem__(self, i):
        return _SpyScalar(self._arr[i], self._name, self._counts)


class _SpyBatch:
    """A RecordBatch whose block columns count their crossings."""

    def __init__(self, batch: pa.RecordBatch, counts: Counter):
        self.schema, self.num_rows = batch.schema, batch.num_rows
        self.columns = [_SpyColumn(c, n, counts) if "blk_" in n else c
                        for n, c in zip(batch.schema.names, batch.columns)]

    def column(self, key):
        return self.columns[key if isinstance(key, int)
                            else self.schema.names.index(key)]


def _batch(columns: list[str]) -> pa.RecordBatch:
    """Three block groups of i64 columns k (the predicate column) and v,
    laid out as ``_blocks_proj`` projects ``columns`` under PRED."""
    ks = [np.arange(s, s + N, dtype=np.int64) for s in K_STARTS]
    block = {"k": [blockmod.encode_block(k, "i64", "plain") for k in ks],
             "v": [blockmod.encode_block(k * 3, "i64", "plain") for k in ks]}
    arrays = {"part_id": pa.array([0, 0, 1], pa.int32()),
              "run_id": pa.array(["r"] * 3),
              "seq": pa.array([0, 1, 0], pa.int64()),
              "n_rows": pa.array([N] * 3, pa.int64())}
    for c in columns:
        arrays[f"__blk_{c}"] = pa.array(block[c], pa.large_binary())
    if "k" not in columns:
        arrays["__pblk_k"] = pa.array(block["k"], pa.large_binary())
    arrays["__st_k"] = pa.array([_column_stats(k, "i64", None) for k in ks],
                                _STATS_ARROW)
    return pa.record_batch(list(arrays.values()), names=list(arrays))


@pytest.mark.parametrize("columns", [["v"], ["k", "v"]],
                         ids=["predicate-only", "predicate-projected"])
def test_each_block_crosses_once_and_only_when_read(columns):
    counts: Counter = Counter()
    groups = list(decode._groups([_SpyBatch(_batch(columns), counts)],
                                 [PRED]))
    # group 0 is dropped by its zone; 1 survives whole; 2 partially
    assert [isinstance(g.mask, str) for g in groups] == [True, False]
    assert int(groups[1].mask.sum()) == 50
    k_name = "__blk_k" if "k" in columns else "__pblk_k"
    # k crosses for the opened group 2, and, when projected, for the
    # output cell of group 1; never for the zone-decided group 0, and
    # group 2's predicate and output share one crossing
    assert counts[k_name] == (2 if "k" in columns else 1)
    assert counts["__blk_v"] == 2
    for g, start in zip(groups, K_STARTS[1:]):
        want = {"k": np.arange(start, start + N)}
        want["v"] = want["k"] * 3
        for c, cell in zip(columns, g.cells):
            values, _v, _t, _c, _n = blockmod.decode_block(cell)
            np.testing.assert_array_equal(values, want[c])


def test_absent_predicate_column_crosses_nothing():
    """A group that predates the predicate column takes the missing
    column's zone rule without reading any block."""
    batch = _batch(["v"])
    names = batch.schema.names
    cols = batch.columns
    cols[names.index("__pblk_k")] = pa.nulls(3, pa.large_binary())
    cols[names.index("__st_k")] = pa.nulls(3, _STATS_ARROW)
    counts: Counter = Counter()
    absent = pa.record_batch(cols, names=names)
    groups = list(decode._groups([_SpyBatch(absent, counts)], [PRED]))
    assert groups == [] and counts["__pblk_k"] == 0
