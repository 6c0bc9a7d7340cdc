"""Per-codec parity of the compressed-domain block reducers in
engine/agg.py: the one lane reducer's per-group step
(``_group_lanes``: sum, value counts as the N = 1 key, min/max and the
count-only lane), every single-column view reducer (distinct, HLL
hashes, quantile summary, top-k candidates) and the grouped scans'
per-row views must give the answer a plain ``decode_block`` gives, for
every codec the selector emits, under no mask, a partial row mask, and
on a block without a valid value.  The dict and rle fast paths must
answer without a dense decode."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
import pytest

from boltspark.engine import agg
from boltspark.engine.decode import _Group
from boltspark.kernels import block as blockmod
from boltspark.kernels import hll, strings
from boltspark.kernels import quantile as qk
from tests.conftest import null_mask

N = 600
CODECS = {
    "i64": ("plain", "dict", "rle", "bitpack", "for", "delta"),
    "f64": ("plain", "dict", "rle", "split"),
    "bytes": ("plain", "dict", "fsst", "prefix"),
    "bool": ("plain", "rle"),
}
# which reducer is defined over which tag
SUMMABLE = ("i64", "f64", "bool")
QUANTILE = ("i64", "f64")
_OUT_T = {"i64": pa.int64(), "f64": pa.float64(), "bool": pa.bool_(),
          "bytes": pa.large_binary()}
WORDS = [b"alpha", b"beta", b"gamma", b"delta-delta", b"epsilon",
         b"zeta", b"eta-eta-eta", b"theta"]


def _values(tag: str, n: int):
    """Dense values with runs and few distinct, so every codec applies."""
    rng = np.random.default_rng(7)
    runs = np.repeat(rng.integers(0, 40, (n + 9) // 10), 10)[:n]
    if tag == "i64":
        return (runs + 1000).astype(np.int64)
    if tag == "f64":
        return runs / 4.0
    if tag == "bool":
        return runs % 3 == 0
    return strings.from_pylist([WORDS[int(r) % len(WORDS)] for r in runs])


def _block(tag: str, codec: str, empty: bool = False) -> bytes:
    validity = np.zeros(N, dtype=bool) if empty else null_mask(N)
    dense = _values(tag, int(validity.sum()))
    return blockmod.encode_block(dense, tag, codec, validity=validity,
                                 outer="zstd")


def _cases(tags):
    return [(t, c) for t in tags for c in CODECS[t]]


MASKS = {
    "all": "all",
    "partial": (np.arange(N) % 3 != 0) & (np.arange(N) < 450),
}


def _reference(blk: bytes, mask):
    """(surviving valid values as a list, surviving row count) from a
    plain decode_block."""
    values, validity, tag, _codec, n_rows = blockmod.decode_block(blk)
    sel = np.ones(n_rows, dtype=bool) if isinstance(mask, str) else mask
    valid = np.ones(n_rows, dtype=bool) if validity is None else validity
    keep = sel[np.nonzero(valid)[0]]
    vals = (values.to_pylist() if tag == "bytes"
            else np.asarray(values).tolist())
    return [v for v, k in zip(vals, keep) if k], int(sel.sum())


def _pylist(x) -> list:
    if x is None:
        return []
    if isinstance(x, (pa.Array, strings.StringColumn)):
        return x.to_pylist()
    return np.asarray(x).tolist()


def _params(tags):
    return [pytest.param(t, c, m, e, id=f"{t}-{c}-{m}{'-empty' if e else ''}")
            for t, c in _cases(tags) for m in MASKS for e in (False, True)]


def _lanes(blocks, mask, specs, key_ts=(), n=N) -> list[dict]:
    """The rows ``agg._group_lanes`` gives one block group of ``n`` rows
    under ``mask``: the first ``len(key_ts)`` blocks are its keys, the
    rest the value columns ``specs`` reduce."""
    return agg._group_lanes(_Group(0, n, mask, list(blocks)), list(key_ts),
                            specs).to_pylist()


def _counts(rows) -> dict:
    """{key: count} of N = 1 lane rows, checked for one row per key."""
    got = {r["__g_0"]: r["__cnt"] for r in rows}
    assert len(got) == len(rows)
    return got


@pytest.mark.parametrize("tag,codec,mask,empty", _params(SUMMABLE))
def test_block_sum_parity(tag, codec, mask, empty):
    blk = _block(tag, codec, empty)
    ref, n = _reference(blk, MASKS[mask])
    (row,) = _lanes([blk], MASKS[mask], [("sum", None)])
    assert (row["__cnt"], row["__nv_0"]) == (n, len(ref))
    assert row["__s_l_0"] + row["__s_d_0"] == pytest.approx(sum(ref),
                                                            rel=1e-12)


@pytest.mark.parametrize("tag,codec,mask,empty", _params(CODECS))
def test_block_value_counts_parity(tag, codec, mask, empty):
    blk = _block(tag, codec, empty)
    ref, n = _reference(blk, MASKS[mask])
    want = Counter(ref)
    if n > len(ref):
        want[None] = n - len(ref)
    assert _counts(_lanes([blk], MASKS[mask], [], [_OUT_T[tag]])) == want


@pytest.mark.parametrize("tag,codec,mask,empty", _params(CODECS))
def test_block_minmax_parity(tag, codec, mask, empty):
    blk = _block(tag, codec, empty)
    ref, n = _reference(blk, MASKS[mask])
    (row,) = _lanes([blk], MASKS[mask], [(None, (None, _OUT_T[tag]))])
    assert (row["__cnt"], row["__nv_0"]) == (n, len(ref))
    if ref:
        assert (row["__mn_0"], row["__mx_0"]) == (min(ref), max(ref))
    else:
        assert (row["__mn_0"], row["__mx_0"]) == (None, None)


def _d128_block(validity) -> tuple[bytes, list]:
    """A d128 block of (lo, hi) word pairs and its exact values."""
    rng = np.random.default_rng(3)
    pairs = rng.integers(-2**40, 2**40, (int(validity.sum()), 2))
    blk = blockmod.encode_block(pairs, "d128", "plain", validity=validity)
    return blk, [int(hi) * 2**64 + (int(lo) % 2**64) for lo, hi in pairs]


@pytest.mark.parametrize("mask", list(MASKS))
def test_d128_minmax_and_sum_lanes(mask):
    """d128 values reduce as exact 128-bit ints in the min/max and the
    exact-decimal sum lanes."""
    blk, dense = _d128_block(null_mask(N))
    sel = np.ones(N, bool) if isinstance(MASKS[mask], str) else MASKS[mask]
    keep = sel[np.nonzero(null_mask(N))[0]]
    ref = [v for v, k in zip(dense, keep) if k]
    (row,) = _lanes([blk, blk], MASKS[mask],
                    [(None, (None, pa.decimal128(38, 0))), ("dec", None)])
    assert row["__nv_0"] == row["__nv_1"] == len(ref)
    assert (int(row["__mn_0"]), int(row["__mx_0"])) == (min(ref), max(ref))
    assert int(row["__s_dec_1"]) == sum(ref)


def _list_block(validity) -> bytes:
    from boltspark.kernels import lists

    lens = np.arange(int(validity.sum()), dtype=np.int64) % 4
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    col = lists.ListColumn(offs, np.arange(int(lens.sum()), dtype=np.int64))
    return blockmod.encode_block(col, "li64", "list", validity=validity)


@pytest.mark.parametrize("mask", list(MASKS))
@pytest.mark.parametrize("case", ["i64-for", "bytes-fsst", "bool-rle",
                                  "li64-list", "d128-plain", "absent"])
def test_count_lane_reads_validity_alone(monkeypatch, case, mask):
    """The count-only lane (None, None) counts valid values from the
    block validity alone, so every tag counts (lists and d128 too), no
    value ever decodes, and a None cell counts its rows as NULL."""
    validity = null_mask(N)
    if case == "li64-list":
        blk = _list_block(validity)
    elif case == "d128-plain":
        blk = _d128_block(validity)[0]
    elif case == "absent":
        blk, validity = None, np.zeros(N, dtype=bool)
    else:
        blk = _block(*case.split("-"))

    def refuse(*a, **kw):
        raise AssertionError("the count lane decoded values")

    for name in ("decode_values", "decode_block", "decode_block_rows"):
        monkeypatch.setattr(blockmod, name, refuse)
    sel = np.ones(N, bool) if isinstance(MASKS[mask], str) else MASKS[mask]
    (row,) = _lanes([blk], MASKS[mask], [(None, None)])
    assert (row["__cnt"], row["__nv_0"]) == (int(sel.sum()),
                                             int((sel & validity).sum()))


@pytest.mark.parametrize("tag,codec,mask,empty", _params(CODECS))
def test_block_distinct_parity(tag, codec, mask, empty):
    blk = _block(tag, codec, empty)
    ref, _n = _reference(blk, MASKS[mask])
    u = agg._block_distinct(blk, MASKS[mask])
    got = _pylist(u)
    assert len(got) == len(set(got))
    assert set(got) == set(ref)


def _ref_hashes(ref: list, tag: str) -> set:
    if tag == "bytes":
        return set(hll.hash_bytes(sorted(set(ref))).tolist())
    dtype = blockmod.dtype_of(tag)
    return set(hll.hash_fixed(np.unique(np.asarray(ref, dtype))).tolist())


@pytest.mark.parametrize("tag,codec,mask,empty",
                         _params(("i64", "f64", "bytes")))
def test_block_hashes_parity(tag, codec, mask, empty):
    blk = _block(tag, codec, empty)
    ref, n = _reference(blk, MASKS[mask])
    h, got_n, nv = agg._block_hashes(blk, MASKS[mask])
    assert (got_n, nv) == (n, len(ref))
    assert set(_pylist(h)) == (_ref_hashes(ref, tag) if ref else set())


@pytest.mark.parametrize("k", [8, 4096])
@pytest.mark.parametrize("tag,codec,mask,empty", _params(QUANTILE))
def test_block_summary_parity(tag, codec, mask, empty, k):
    blk = _block(tag, codec, empty)
    ref, n = _reference(blk, MASKS[mask])
    smry, got_n, nv = agg._block_summary(blk, MASKS[mask], k)
    assert (got_n, nv) == (n, len(ref))
    if not ref:
        assert smry is None
        return
    want = qk.summarize(np.asarray(ref, dtype=np.float64), None, k)
    np.testing.assert_array_equal(smry[0], want[0])
    np.testing.assert_array_equal(smry[1], want[1])


@pytest.mark.parametrize("mask", list(MASKS))
@pytest.mark.parametrize("codec", CODECS["f64"])
def test_block_minmax_float_nan_order(codec, mask):
    """Floats follow Spark's order, NaN above +inf, on every codec: a
    block's min skips its NaNs and its max is NaN (Spark's F.min/F.max
    fold the per-block partials in the same order)."""
    validity = null_mask(N)
    dense = _values("f64", int(validity.sum()))
    dense[::7] = np.nan
    blk = blockmod.encode_block(dense, "f64", codec, validity=validity,
                                outer="zstd")
    ref, _n = _reference(blk, MASKS[mask])
    spec = [(None, (None, pa.float64()))]
    (row,) = _lanes([blk], MASKS[mask], spec)
    assert row["__mn_0"] == min(v for v in ref if v == v)
    assert np.isnan(row["__mx_0"])
    all_nan = blockmod.encode_block(np.full(40, np.nan), "f64", codec)
    (row,) = _lanes([all_nan], "all", spec, n=40)
    assert np.isnan(row["__mn_0"]) and np.isnan(row["__mx_0"])


@pytest.mark.parametrize("ascending", [True, False])
@pytest.mark.parametrize("k", [5, 100])
@pytest.mark.parametrize("tag,codec,mask,empty", _params(CODECS))
def test_topk_candidates_parity(tag, codec, mask, empty, k, ascending):
    blk = _block(tag, codec, empty)
    ref, _n = _reference(blk, MASKS[mask])
    values, got_tag = agg._topk_candidates(blk, MASKS[mask], k, ascending)
    assert got_tag == tag
    out = agg._top_k(values, got_tag, k, ascending, _OUT_T[tag])
    want = sorted(ref, reverse=not ascending)[:k]
    assert sorted(out.to_pylist(), reverse=not ascending) == want


# ------------------------------------------- dict / rle without decode

FAST = [("i64", "dict"), ("i64", "rle"), ("f64", "dict"), ("f64", "rle"),
        ("bytes", "dict")]


@pytest.mark.parametrize("tag,codec", FAST)
def test_fast_paths_skip_dense_decode(monkeypatch, tag, codec):
    blk = _block(tag, codec)
    ref, n = _reference(blk, "all")
    want = {
        "value_counts": Counter(ref),
        "minmax": (min(ref), max(ref)),
        "distinct": set(ref),
        "hashes": _ref_hashes(ref, tag),
    }
    if tag != "bytes":
        want["sum"] = sum(ref)
        want["summary"] = qk.summarize(np.asarray(ref, np.float64), None, 8)

    def refuse(*a, **kw):
        raise AssertionError("dense decode on a dict/rle fast path")

    monkeypatch.setattr(blockmod, "decode_values", refuse)
    assert _counts(_lanes([blk], "all", [], [_OUT_T[tag]])) \
        == {**want["value_counts"], None: n - len(ref)}
    (mm,) = _lanes([blk], "all", [(None, (None, _OUT_T[tag]))])
    assert (mm["__mn_0"], mm["__mx_0"]) == want["minmax"]
    assert set(_pylist(agg._block_distinct(blk, "all"))) == want["distinct"]
    assert set(_pylist(agg._block_hashes(blk, "all")[0])) == want["hashes"]
    if tag != "bytes":
        (s,) = _lanes([blk], "all", [("sum", None)])
        assert s["__s_l_0"] + s["__s_d_0"] == pytest.approx(want["sum"])
        smry = agg._block_summary(blk, "all", 8)[0]
        np.testing.assert_array_equal(smry[0], want["summary"][0])
        np.testing.assert_array_equal(smry[1], want["summary"][1])


# ------------------------------------------------ grouped per-row views

def _full_reference(blk: bytes):
    """Full-length (value or None) list of a plain decode_block."""
    values, validity, tag, _codec, n_rows = blockmod.decode_block(blk)
    vals = iter(values.to_pylist() if tag == "bytes"
                else np.asarray(values).tolist())
    valid = np.ones(n_rows, dtype=bool) if validity is None else validity
    return [next(vals) if ok else None for ok in valid]


GROUP_CASES = [("i64", "dict"), ("i64", "rle"), ("i64", "plain"),
               ("f64", "dict"), ("f64", "rle"), ("f64", "plain"),
               ("bytes", "dict"), ("bytes", "plain"), ("bytes", "fsst")]


def _coded_rows(blocks, mask):
    """Per surviving row, the tuple of key values ``agg._group_codes``
    gives each dimension, and its per-slot counts, checked for one row
    per slot and ``cnt`` = surviving rows per slot."""
    sel = np.ones(N, dtype=bool) if isinstance(mask, str) else mask
    g = _Group(0, N, mask, list(blocks))
    out_ts = [pa.int64() if b is None else
              _OUT_T[blockmod.decode_block(b)[2]] for b in blocks]
    slot, cnt, keys = agg._group_codes(g, list(blocks), out_ts)
    combos = list(zip(*[k.to_pylist() for k in keys]))
    assert len(combos) == len(set(combos)) == len(cnt)
    rows = [combos[s] for s, ok in zip(slot.tolist(), sel) if ok]
    assert np.bincount(slot[sel], minlength=len(cnt)).tolist() \
        == np.asarray(cnt).tolist()
    return rows, sel


@pytest.mark.parametrize("mask", list(MASKS))
@pytest.mark.parametrize("empty", [False, True])
@pytest.mark.parametrize("tag,codec", GROUP_CASES)
def test_group_codes_parity(tag, codec, empty, mask):
    blk = _block(tag, codec, empty)
    rows, sel = _coded_rows([blk], MASKS[mask])
    assert rows == [(r,) for r, ok in zip(_full_reference(blk), sel) if ok]


@pytest.mark.parametrize("mask", list(MASKS))
@pytest.mark.parametrize("other", ["bytes-dict", "f64-rle", "distinct"])
def test_group_codes_composite_parity(other, mask):
    """N = 2: a dict-coded i64 key with a second key; the per-row value
    pairs are the two columns' rows.  The all-distinct second key makes
    the code space wider than 4x the rows, so it ranks by sort."""
    first = _block("i64", "dict")
    if other == "distinct":
        second = blockmod.encode_block(np.arange(N, dtype=np.int64) * 7,
                                       "i64", "plain")
    else:
        second = _block(*other.split("-"))
    rows, sel = _coded_rows([first, second], MASKS[mask])
    ref = list(zip(_full_reference(first), _full_reference(second)))
    assert rows == [r for r, ok in zip(ref, sel) if ok]


@pytest.mark.parametrize("mask", list(MASKS))
def test_group_codes_none_cell(mask):
    """A None cell (the group predates the column) puts every row in
    the NULL group of its dimension."""
    blk = _block("bytes", "dict")
    rows, sel = _coded_rows([None, blk], MASKS[mask])
    assert rows == [(None, r) for r, ok in zip(_full_reference(blk), sel)
                    if ok]


@pytest.mark.parametrize("tag,codec", [c for c in GROUP_CASES
                                       if c[0] != "bytes"])
def test_dense_full_parity(tag, codec):
    blk = _block(tag, codec)
    ref = _full_reference(blk)
    vals, valid = agg._dense_full(blk, N)
    assert valid.tolist() == [r is not None for r in ref]
    assert [v for v, ok in zip(vals.tolist(), valid) if ok] \
        == [r for r in ref if r is not None]


@pytest.mark.parametrize("mask", list(MASKS))
@pytest.mark.parametrize("tag,codec", GROUP_CASES)
def test_value_ranks_parity(tag, codec, mask):
    blk = _block(tag, codec)
    ref = _full_reference(blk)
    sel = (np.ones(N, dtype=bool) if isinstance(MASKS[mask], str)
           else MASKS[mask])
    ranks, rows, base, rank_to_idx = agg._value_ranks(blk, sel, "ranks")
    want_rows = [bool(s) and r is not None for s, r in zip(sel, ref)]
    assert rows.tolist() == want_rows
    want = [r for r, ok in zip(ref, want_rows) if ok]
    if base is None:
        assert np.asarray(ranks).tolist() == want
        return
    back = base.take(pa.array(rank_to_idx[np.asarray(ranks)])).to_pylist()
    assert back == want
    # ranks order exactly as the values do
    order = sorted(range(len(want)), key=lambda i: want[i])
    assert np.all(np.diff(np.asarray(ranks)[order]) >= 0)
