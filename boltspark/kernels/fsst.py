"""FSST-style symbol-table string compression, vectorized for numpy.

Based on the public FSST paper (VLDB 2020: "FSST: Fast Random Access
String Compression") — absent in the reference, required by the north
rule.  Design choices that keep every hot loop array-wise ("no per-row
Python"):

* Symbol table: up to 255 symbols of 1..8 bytes, built on a small
  sample with the paper's iterative re-parse/merge scheme (pure Python,
  bounded sample, runs once per block).
* Codes 0..254 are symbols; code 255 is a literal marker whose byte
  lives in a separate literal stream (instead of FSST's inline escape),
  so decode needs no sequential escape parsing — it is one vectorized
  gather.  The size cost is identical (2 bytes per literal).
* Encode is TRUE left-to-right greedy (longest match at each position,
  the paper's parse), vectorized as a lockstep chain walk: first the
  longest symbol match at every position — one injective multiply-shift
  hash probe per symbol LENGTH CLASS (descending; tables have 2-5
  distinct lengths), then a direct 65536-entry table for 2-byte symbols
  and a 256-entry table for singles.  Then rows — split into bounded
  *segments* so one giant row cannot serialize the walk — all advance
  in lockstep: one gather per step moves every live segment to its next
  token.  Step count is bounded by the segment byte size; work is
  O(total tokens) with vector width = number of segments.  Matches
  never bridge a segment end (same rule as row ends), which costs a
  fraction of a percent of ratio and buys full vectorization.  The
  match phase streams the buffer in bounded chunks (one strided window
  copy per chunk, no full-buffer fancy gathers) to respect this host's
  small-working-set requirement.

Round-trip is bit-exact for arbitrary bytes (escapes cover everything).
"""

from __future__ import annotations

import struct
from collections import Counter

import numpy as np

from . import bitpack
from .strings import StringColumn, gather_slices
from .varint import CorruptBlockError

MAX_SYMBOL_LEN = 8
MAX_SYMBOLS = 255  # code 255 reserved for literal marker
LITERAL = 255

_DEFAULT_SAMPLE = 1 << 15
_GENERATIONS = 3


def _self_overlapping(sym: bytes) -> bool:
    """True if sym has a proper border (prefix == suffix), i.e. two
    occurrences may overlap."""
    for p in range(1, len(sym)):
        if sym[: len(sym) - p] == sym[p:]:
            return True
    return False


def _gain(freq: int, length: int) -> int:
    # literal encoding costs 2 output bytes/input byte; a symbol costs 1
    # output byte for `length` input bytes -> savings = 2*length - 1 each
    return freq * (2 * length - 1)


def build_symbol_table(sample: bytes, generations: int = _GENERATIONS) -> list[bytes]:
    """Iterative greedy symbol table construction on a sample (FSST paper §3)."""
    if not sample:
        return []
    table: list[bytes] = []
    for _ in range(generations):
        lookup: dict[bytes, int] = {s: 1 for s in table}
        counts: Counter[bytes] = Counter()
        pos = 0
        n = len(sample)
        prev: bytes | None = None
        while pos < n:
            tok = None
            for l in range(min(MAX_SYMBOL_LEN, n - pos), 0, -1):
                cand = sample[pos : pos + l]
                if cand in lookup:
                    tok = cand
                    break
            if tok is None:
                tok = sample[pos : pos + 1]
            counts[tok] += 1
            if prev is not None:
                merged = (prev + tok)[:MAX_SYMBOL_LEN]
                if len(merged) > len(prev):
                    counts[merged] += 1
            prev = tok
            pos += len(tok)
        ranked = sorted(counts, key=lambda s: -_gain(counts[s], len(s)))
        table = ranked[:MAX_SYMBOLS]
    # longest-first makes priority order deterministic for equal gains
    table.sort(key=lambda s: (-len(s), s))
    return table


def build_symbol_table_best(sample: bytes,
                            candidates: tuple[int, ...] = (3, 4)) -> list[bytes]:
    """The iterative builder oscillates with generation count (corpus
    dependent); trial-encode the sample under each candidate table and
    keep the smallest.  Built once per column ON THE DRIVER
    (engine/encode._prebuild_fsst_tables) and shipped in the encoder
    closure — the pure-Python greedy passes measured 77% of a task's
    encode CPU when every task rebuilt them.  Candidates (3, 4): the
    g=2 candidate never won on the corpus columns (measurements in
    OPTIMIZATION_r06.md) and dropping it cuts the build's greedy passes
    from 9 to 7."""
    if not sample:
        return []
    best_table: list[bytes] = []
    best_size = None
    probe = StringColumn(np.array([0, len(sample)], dtype=np.int64), sample)
    for g in candidates:
        table = build_symbol_table(sample, generations=g)
        payload, _ = encode(probe, table=table)
        if best_size is None or len(payload) < best_size:
            best_table, best_size = table, len(payload)
    return best_table


def _sliding_windows(buf: np.ndarray) -> np.ndarray:
    """uint64 little-endian 8-byte window starting at each position."""
    n = len(buf)
    padded = np.zeros(n + MAX_SYMBOL_LEN, dtype=np.uint8)
    padded[:n] = buf
    w = np.zeros(n, dtype=np.uint64)
    for k in range(MAX_SYMBOL_LEN):
        w |= padded[k : n + k].astype(np.uint64) << np.uint64(8 * k)
    return w


def _sym_value(sym: bytes) -> int:
    return int.from_bytes(sym, "little")


_HASH_BITS = 12  # 4096 slots: u64 table = 32 KB, cache-resident for the probe gathers
_SALTS = (0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0xFF51AFD7ED558CCD, 0x2545F4914F6CDD1D)


def _find_salt(keys: np.ndarray):
    """Multiply-shift salt injective over ``keys`` (≤255 values), or
    None.  Tries the fixed salts then a deterministic odd-constant scan."""
    cands = list(_SALTS) + [(_SALTS[0] + 2 * i + 1) & 0xFFFFFFFFFFFFFFFF
                            for i in range(512)]
    for salt in cands:
        slots = (keys * np.uint64(salt)) >> np.uint64(64 - _HASH_BITS)
        if len(np.unique(slots)) == len(keys):
            return salt
    return None


_MATCH_CACHE: dict[tuple, tuple] = {}


def _match_tables(table: list[bytes]):
    """Probe tables for the vectorized EXACT longest-match (memoized
    per process: the salt search + slot fill cost ~90 ms and the engine
    calls encode many times with ONE driver-prebuilt table per column —
    selector trials alone paid it once per partition before):

    * ``classes`` — for each symbol length >= 3 (descending), an
      injective multiply-shift hash over that length-class's values:
      (length, salt, slot_val, slot_code).  One vector probe per length
      class; tables have few distinct lengths, so this is 2-5 probes.
      If no injective salt exists (never observed; ≤255 keys over 2^16
      slots), the lowest-priority values are evicted until one does.
    * ``short2`` — direct 65536-entry code table for 2-byte symbols.
    * ``lut1`` — 256-entry table for single-byte symbols.
    """
    key = tuple(table)
    hit = _MATCH_CACHE.get(key)
    if hit is not None:
        return hit
    lut1 = np.full(256, LITERAL, dtype=np.uint8)
    short2 = np.full(1 << 16, LITERAL, dtype=np.uint8)
    by_len: dict[int, list[tuple[int, int]]] = {}
    for code, sym in enumerate(table):
        l = len(sym)
        if l == 1:
            if lut1[sym[0]] == LITERAL:
                lut1[sym[0]] = code
        elif l == 2:
            k = int.from_bytes(sym, "little")
            if short2[k] == LITERAL:
                short2[k] = code
        else:
            by_len.setdefault(l, []).append((_sym_value(sym), code))
    classes = []
    for l in sorted(by_len, reverse=True):
        pairs = by_len[l]
        salt = None
        while pairs:
            keys = np.array(sorted(v for v, _ in pairs), dtype=np.uint64)
            salt = _find_salt(keys)
            if salt is not None:
                break
            pairs = pairs[:-1]  # evict the last-ranked symbol
        if not pairs or salt is None:
            continue
        # empty slots hold the all-ones sentinel: a masked window of
        # length < 8 has zero top bytes, so it can never equal it (the
        # l == 8 class keeps an explicit code check)
        slot_val = np.full(1 << _HASH_BITS, 0xFFFFFFFFFFFFFFFF, dtype=np.uint64)
        slot_code = np.full(1 << _HASH_BITS, LITERAL, dtype=np.uint8)
        for v, c in pairs:
            h = ((v * salt) & 0xFFFFFFFFFFFFFFFF) >> (64 - _HASH_BITS)
            slot_val[h] = v
            slot_code[h] = c
        classes.append((l, np.uint64(salt), slot_val, slot_code))
    if len(_MATCH_CACHE) >= 64:  # bound worker memory; tables are tiny but finite
        _MATCH_CACHE.clear()
    _MATCH_CACHE[key] = (lut1, short2, classes)
    return lut1, short2, classes


# bounded-chunk streaming for the match phase: windows/rooms/codes for
# one chunk fit in cache-ish working sets (host memory-bandwidth cliff)
_MATCH_CHUNK = 1 << 17

_MASK_BY_LEN = np.array(
    [0] + [(1 << (8 * l)) - 1 for l in range(1, 8)] + [0xFFFFFFFFFFFFFFFF],
    dtype=np.uint64)


# long rows are split into independent parse segments of this many bytes
# so ONE giant row cannot serialize the lockstep walk; a match never
# bridges a segment end (ratio cost: at most 7 bytes per KB re-literaled)
_SEG_BYTES = 1024


def _segment_bounds(offsets: np.ndarray, n: int) -> np.ndarray:
    """Strictly increasing segment END positions covering [0, n): row
    ends plus _SEG_BYTES splits inside rows longer than _SEG_BYTES."""
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    ends = offsets[1:]
    parts = [np.unique(ends[ends > 0])]
    lens = np.diff(offsets)
    for i in np.nonzero(lens > _SEG_BYTES)[0]:
        parts.append(np.arange(int(offsets[i]) + _SEG_BYTES, int(offsets[i + 1]),
                               _SEG_BYTES, dtype=np.int64))
    bounds = np.unique(np.concatenate(parts))
    return bounds.astype(np.int64)


def _greedy_token_starts(len_at: np.ndarray, seg_bounds: np.ndarray,
                         n: int) -> np.ndarray:
    """Left-to-right greedy parse of every segment in lockstep: one
    gather per step advances all live segments to their next token.
    Step count <= max segment byte length; total work O(n_tokens)."""
    starts_mask = np.zeros(n, dtype=bool)
    if n == 0:
        return starts_mask
    cur = np.concatenate(([0], seg_bounds[:-1])).astype(np.int64)
    ends = seg_bounds
    keep = cur < ends
    cur, ends = cur[keep], ends[keep]
    while len(cur):
        starts_mask[cur] = True
        cur = cur + len_at[cur]  # uint8 lengths upcast to int64 here
        keep = cur < ends
        cur, ends = cur[keep], ends[keep]
    return starts_mask


def encode(col: StringColumn, tag: str = "bytes",
           table: list[bytes] | None = None,
           sample_bytes: int = _DEFAULT_SAMPLE) -> tuple[bytes, dict]:
    if tag != "bytes":
        raise TypeError("fsst applies to byte-array columns")
    n_rows = len(col)
    buf = np.frombuffer(col.data, dtype=np.uint8)
    n = len(buf)
    if table is None:
        table = build_symbol_table(col.data[:sample_bytes]) if n else []

    # --- segment bounds: row ends, giant rows split at _SEG_BYTES ---------
    # matches never bridge a segment end, so every segment parses
    # independently and the chain walk below is lockstep across segments
    seg_bounds = _segment_bounds(col.offsets, n)

    # --- symbol match length/code at every position ------------------------
    # (uint8 everywhere: this host is memory-bandwidth-bound, so the
    # full-buffer arrays must stay as narrow as the values allow; the
    # chunk loop keeps the u64 window working set bounded)
    code_at = np.full(n, LITERAL, dtype=np.uint8)
    len_at = np.ones(n, dtype=np.uint8)  # literal advances 1 byte
    if table and n:
        lut1, short2, classes = _match_tables(table)
        padded = np.zeros(n + MAX_SYMBOL_LEN, dtype=np.uint8)
        padded[:n] = buf
        shift = np.uint64(64 - _HASH_BITS)
        # 2-byte prefix gate over the len>=3 classes (the paper's
        # first-bytes lookup): identifier-heavy corpora pass it rarely,
        # natural text passes it mostly — each chunk samples its own
        # pass rate and compresses the probe lanes only when that wins
        gate2 = np.zeros(1 << 16, dtype=bool)
        for s in table:
            if len(s) >= 3:
                gate2[int.from_bytes(s[:2], "little")] = True
        from numpy.lib.stride_tricks import sliding_window_view

        for a in range(0, n, _MATCH_CHUNK):
            b = min(a + _MATCH_CHUNK, n)
            m = b - a
            # 8-byte LE windows: one strided copy, reinterpreted as u64
            w = np.ascontiguousarray(
                sliding_window_view(padded[a : a + m + MAX_SYMBOL_LEN - 1],
                                    MAX_SYMBOL_LEN)).view(np.uint64).ravel()
            # max usable match length per position = clip(next segment
            # bound - pos, 8): default 8, then positions within 7 bytes
            # of a bound get their distance written — descending k so the
            # NEAREST bound wins for short segments (O(8 x bounds), no
            # full-width cumsum)
            maxlen = np.full(m, MAX_SYMBOL_LEN, dtype=np.uint8)
            for k in range(MAX_SYMBOL_LEN - 1, 0, -1):
                p = seg_bounds - k
                p = p[(p >= a) & (p < b)]
                maxlen[p - a] = k
            # shortest class first, longest last: later (longer) hits
            # overwrite, so the result is the exact longest match with
            # no per-class bookkeeping
            codes = lut1[buf[a:b]]  # unknown bytes already map to LITERAL
            lens = np.ones(m, dtype=np.uint8)
            pref16 = w.view(np.uint16)[::4]
            c2 = short2[pref16]
            two = (c2 != LITERAL) & (maxlen >= 2)
            np.copyto(codes, c2, where=two)
            np.copyto(lens, np.uint8(2), where=two)
            # sampled gate rate decides the probe layout for this chunk
            g = gate2[pref16]
            if float(g[::67].mean()) < 0.55:
                cand = np.nonzero(g)[0]
                wp, mlp = w[cand], maxlen[cand]
                cp = np.full(len(cand), LITERAL, dtype=np.uint8)
                lp = np.zeros(len(cand), dtype=np.uint8)
            else:
                cand = None
                wp, mlp, cp, lp = w, maxlen, codes, lens
            for l, salt, slot_val, slot_code in reversed(classes):
                # in-place hash: wl survives for the compare, h reuses it
                wl = np.bitwise_and(wp, _MASK_BY_LEN[l])
                h = wl * salt
                np.right_shift(h, shift, out=h)
                # empty-slot sentinel ~0 cannot equal a masked window for
                # l < 8 (its top bytes are zero); l == 8 re-checks code
                cc = slot_code[h]
                hit = slot_val[h] == wl
                hit &= mlp >= l
                if l == MAX_SYMBOL_LEN:  # sentinel can collide at l == 8
                    hit &= cc != LITERAL
                np.copyto(cp, cc, where=hit)
                np.copyto(lp, np.uint8(l), where=hit)
            if cand is not None:
                hit3 = lp > 0
                sel = cand[hit3]
                codes[sel] = cp[hit3]
                lens[sel] = lp[hit3]
            code_at[a:b] = codes
            len_at[a:b] = lens

    # --- lockstep greedy walk: all segments advance together --------------
    token_start = _greedy_token_starts(len_at, seg_bounds, n)
    # boolean selection, never materialized positions (np.nonzero over a
    # dense token mask measured ~100 ms on 5 MB blocks)
    codes_stream = code_at[token_start]
    # literal tokens are single bytes at their start positions
    literals = buf[token_start & (code_at == LITERAL)].tobytes()

    # tokens per row: a running token count sampled at the row offsets,
    # accumulated over bounded chunks so the transient stays ~4 bytes
    # per CHUNK byte, not per buffer byte (host working-set budget)
    offs = col.offsets
    cz_at = np.zeros(len(offs), dtype=np.int64)
    base = 0
    for a in range(0, n, 1 << 20):
        b = min(a + (1 << 20), n)
        c = np.cumsum(token_start[a:b], dtype=np.int32)
        lo = np.searchsorted(offs, a, side="right")
        hi = np.searchsorted(offs, b, side="right")
        if hi > lo:
            cz_at[lo:hi] = base + c[offs[lo:hi] - a - 1]
        base += int(c[-1])
    token_counts = np.diff(cz_at).astype(np.uint64)
    tc_width = bitpack.min_bit_width(int(token_counts.max()) if n_rows else 0)

    sym_blob = b"".join(table)
    sym_lens = bytes(len(s) for s in table)
    payload = b"".join([
        struct.pack("<H", len(table)), sym_lens, sym_blob,
        struct.pack("<Q", len(codes_stream)), codes_stream.tobytes(),
        struct.pack("<Q", len(literals)), literals,
        struct.pack("<B", tc_width), bitpack.pack(token_counts, tc_width),
    ])
    return payload, {}


def decode(payload: bytes, meta: dict, n: int, tag: str = "bytes") -> StringColumn:
    try:
        return _decode(payload, n)
    except (ValueError, struct.error) as e:
        if isinstance(e, CorruptBlockError):
            raise
        raise CorruptBlockError(f"fsst: {e}") from None


def _parse(payload: bytes, n: int):
    """Parse an fsst payload into per-token (starts, lens) into the
    combined symbol+literal source, plus per-row token bounds — the
    shared front half of full and random-access decode."""
    pos = 0
    if len(payload) < 2:
        raise CorruptBlockError("fsst: truncated header")
    (n_sym,) = struct.unpack_from("<H", payload, pos)
    pos += 2
    if n_sym > MAX_SYMBOLS:
        raise CorruptBlockError("fsst: too many symbols")
    sym_lens = np.frombuffer(payload, np.uint8, n_sym, pos).astype(np.int64)
    pos += n_sym
    blob_len = int(sym_lens.sum())
    sym_blob = payload[pos : pos + blob_len]
    if len(sym_blob) != blob_len:
        raise CorruptBlockError("fsst: truncated symbol blob")
    pos += blob_len
    (n_tokens,) = struct.unpack_from("<Q", payload, pos)
    pos += 8
    codes = np.frombuffer(payload, np.uint8, n_tokens, pos)
    pos += n_tokens
    (n_lit,) = struct.unpack_from("<Q", payload, pos)
    pos += 8
    literals = payload[pos : pos + n_lit]
    if len(literals) != n_lit:
        raise CorruptBlockError("fsst: truncated literals")
    pos += n_lit
    (tc_width,) = struct.unpack_from("<B", payload, pos)
    pos += 1
    token_counts = bitpack.unpack(payload[pos:], tc_width, n).astype(np.int64)
    if int(token_counts.sum()) != n_tokens:
        raise CorruptBlockError("fsst: token counts do not sum to token stream")

    is_lit = codes == LITERAL
    if int(is_lit.sum()) != n_lit:
        raise CorruptBlockError("fsst: literal count mismatch")
    if not is_lit.all() and int(codes[~is_lit].max(initial=0)) >= n_sym:
        raise CorruptBlockError("fsst: code out of range")

    sym_offsets = np.zeros(n_sym + 1, dtype=np.int64)
    np.cumsum(sym_lens, out=sym_offsets[1:])

    # per-code lookup tables (256 entries; LITERAL maps to length 1)
    lut_len = np.ones(256, dtype=np.int64)
    lut_len[:n_sym] = sym_lens
    lut_start = np.zeros(256, dtype=np.int64)
    lut_start[:n_sym] = sym_offsets[:n_sym]

    lens = lut_len[codes]
    starts = lut_start[codes]
    if n_lit:
        starts[is_lit] = blob_len + np.cumsum(is_lit)[is_lit] - 1

    bounds = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(token_counts, out=bounds[1:])
    source = sym_blob + literals + b"\0" * MAX_SYMBOL_LEN
    return source, starts, lens, bounds, n_tokens


def _gather_tokens(source: bytes, starts: np.ndarray, lens: np.ndarray) -> bytes:
    """Materialize token bytes: one u64 word gather per token from the
    padded source, boolean-compressed down to actual lengths."""
    src = np.frombuffer(source, dtype=np.uint8)
    win = np.zeros(len(src) - MAX_SYMBOL_LEN + 1, dtype=np.uint64)
    for k in range(MAX_SYMBOL_LEN):
        win |= src[k : len(win) + k].astype(np.uint64) << np.uint64(8 * k)
    words = win[starts]
    byte_mat = words.view(np.uint8).reshape(len(starts), 8)
    keep = np.arange(8, dtype=np.int64)[None, :] < lens[:, None]
    return byte_mat[keep].tobytes()


def _decode(payload: bytes, n: int) -> StringColumn:
    source, starts, lens, bounds, n_tokens = _parse(payload, n)
    data = _gather_tokens(source, starts, lens)
    # rebuild row offsets: prefix sums of token lengths sampled at row bounds
    lens_cum = np.zeros(n_tokens + 1, dtype=np.int64)
    np.cumsum(lens, out=lens_cum[1:])
    offsets = lens_cum[bounds]
    if offsets[-1] != len(data):
        raise CorruptBlockError("fsst: reconstructed size mismatch")
    return StringColumn(offsets, data)


def decode_rows(payload: bytes, n: int, rows: np.ndarray) -> StringColumn:
    """Random-access decode of selected row indices WITHOUT materializing
    the rest of the block — the FSST paper's actual selling point ("fast
    random access"), which block-level zstd cannot offer.  Cost is the
    header parse (O(n_tokens) for the token-start arithmetic) plus work
    proportional to the SELECTED rows' bytes only."""
    try:
        source, starts, lens, bounds, _ = _parse(payload, n)
        rows = np.asarray(rows, dtype=np.int64)
        if len(rows) and (rows.min() < 0 or rows.max() >= n):
            raise CorruptBlockError("fsst: row index out of range")
        cnt = bounds[rows + 1] - bounds[rows]
        total = int(cnt.sum())
        if total == 0:
            return StringColumn(np.zeros(len(rows) + 1, dtype=np.int64), b"")
        # token indices of the selected rows (repeat/cumsum gather)
        base = np.repeat(bounds[rows] - np.concatenate(([0], np.cumsum(cnt)[:-1])), cnt)
        tok = base + np.arange(total, dtype=np.int64)
        sel_starts, sel_lens = starts[tok], lens[tok]
        data = _gather_tokens(source, sel_starts, sel_lens)
        lens_cum = np.zeros(total + 1, dtype=np.int64)
        np.cumsum(sel_lens, out=lens_cum[1:])
        tok_bounds = np.zeros(len(rows) + 1, dtype=np.int64)
        np.cumsum(cnt, out=tok_bounds[1:])
        offsets = lens_cum[tok_bounds]
        return StringColumn(offsets, data)
    except (ValueError, struct.error) as e:
        if isinstance(e, CorruptBlockError):
            raise
        raise CorruptBlockError(f"fsst: {e}") from None
