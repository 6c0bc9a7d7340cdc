"""Encoded block container — the engine's analog of a Parquet data page.

A block is one column's encoded bytes for one partition chunk, playing
the role of (page bytes + PageHeader) in the reference
(/root/reference/src/metadata/page_header.rs:22-32).  Layout, all
little-endian:

    magic   "BSK2"                      (4 bytes)
    codec   u8  (index into CODEC_IDS)
    tag     u8  (physical type, index into types.ALL_TAGS)
    flags   u8  (bit0: has_nulls, bit1: outer-compressed payload)
    outer   u8  (index into OUTER_CODECS; 0 = none)
    n_rows  u64
    meta    u32 length + JSON bytes (codec-specific, like PageHeader fields)
    [validity  u32 length + LSB-first bitmap, present iff has_nulls —
     the def-level analog of rep_def_parser.rs:56-98]
    payload u64 raw length + u64 stored length + u32 crc32(raw payload)
            + bytes

The CRC makes corruption loud: decode must raise, never return wrong
data (the reference's corruption tests pin the same discipline,
rle_bp.rs:169-186).

Null handling mirrors Parquet/the reference: the payload encodes only
the *dense* non-null values; decode scatters them back through the
validity bitmap (plain_data_page_int32_v1.rs:223-233 does the same
interleave).  Outer compression is layered after the lightweight codec,
mirroring Parquet's encoding-then-compression split handled by the
reference's decompressor (src/utils/decompressor.rs:26-170).
"""

from __future__ import annotations

import json
import struct
import zlib

import numpy as np

from . import bitpack, delta, dictionary, foref, fsst, lists, prefix, rle, strings
from .types import ALL_TAGS, BOOL, BYTES, D128, dtype_of, tag_of
from .varint import CorruptBlockError

MAGIC = b"BSK2"  # bumped: wide layout + CRC coverage changed vs BSK1

# append-only (ids are stored as indexes into this tuple)
CODEC_IDS = ("plain", "rle", "dict", "for", "bitpack", "fsst", "list", "split",
             "delta", "prefix")
OUTER_CODECS = ("none", "zstd", "gzip", "snappy", "lz4")

_HDR = struct.Struct("<4sBBBBQ")


# ---------------------------------------------------------------------------
# per-codec encode/decode on dense values
# ---------------------------------------------------------------------------


def _encode_plain(values, tag):
    if tag == BYTES:
        return strings.encode_plain(values)
    if tag == BOOL:
        return bitpack.pack_bools(values), {}
    if tag == D128:
        # (n, 2) int64 (lo, hi) pairs stored as two contiguous word
        # PLANES (all lo, then all hi): the hi plane is sign extension
        # (0 / -1 runs) for real-world decimals, so the outer compressor
        # collapses it — byte-stream-split thinking at word granularity
        v = np.ascontiguousarray(values, dtype=np.int64).reshape(-1, 2)
        return np.ascontiguousarray(v.T).tobytes(), {}
    return np.ascontiguousarray(values, dtype=dtype_of(tag)).tobytes(), {}


def _decode_plain(payload, meta, n, tag):
    if tag == BYTES:
        return strings.decode_plain(payload, n)
    if tag == BOOL:
        return bitpack.unpack_bools(payload, n)
    if tag == D128:
        if len(payload) < n * 16:
            raise CorruptBlockError("plain: truncated d128 payload")
        planes = np.frombuffer(payload, dtype="<i8", count=2 * n).reshape(2, n)
        return np.ascontiguousarray(planes.T)
    dt = dtype_of(tag)
    if len(payload) < n * dt.itemsize:
        raise CorruptBlockError("plain: truncated payload")
    return np.frombuffer(payload, dtype=dt, count=n)


def _encode_rle(values, tag):
    if tag in (BYTES, D128):
        raise TypeError("rle codec applies to 1-D fixed-width types; "
                        "byte arrays get run compression via dict codes")
    v = np.ascontiguousarray(values)
    # float runs are detected on the bit pattern (see rle.runs_of)
    detect = v.view(np.uint32 if v.dtype.itemsize == 4 else np.uint64) \
        if v.dtype.kind == "f" else None
    run_values, run_lengths = rle.runs_of(v, detect=detect)
    len_width = bitpack.min_bit_width(int(run_lengths.max()) if len(run_lengths) else 0)
    vals_payload, _ = _encode_plain(run_values, tag)
    payload = (
        struct.pack("<QB", len(run_values), len_width)
        + bitpack.pack(run_lengths.astype(np.uint64), len_width)
        + vals_payload
    )
    return payload, {}


def decode_rle_runs(payload, meta, n, tag):
    """(run_values, run_lengths) of an rle payload WITHOUT the
    ``np.repeat`` materialization — the hook compressed-domain
    aggregation uses to reduce a block in O(runs) (engine/agg.py)."""
    if len(payload) < 9:
        raise CorruptBlockError("rle: truncated header")
    n_runs, len_width = struct.unpack_from("<QB", payload, 0)
    pos = 9
    nbytes = bitpack.packed_size(n_runs, len_width)
    lengths = bitpack.unpack(payload[pos : pos + nbytes], len_width, n_runs)
    pos += nbytes
    run_values = _decode_plain(payload[pos:], meta, n_runs, tag)
    if int(lengths.sum()) != n:
        raise CorruptBlockError("rle: run lengths do not sum to row count")
    return run_values, lengths


def _decode_rle(payload, meta, n, tag):
    run_values, lengths = decode_rle_runs(payload, meta, n, tag)
    return np.repeat(run_values, lengths.astype(np.int64))


def _encode_bitpack(values, tag):
    if tag not in ("i32", "i64"):
        raise TypeError("bitpack codec applies to non-negative integers")
    v = np.ascontiguousarray(values)
    if len(v) and int(v.min()) < 0:
        raise ValueError("bitpack codec requires non-negative values")
    width = bitpack.min_bit_width(int(v.max()) if len(v) else 0)
    return bitpack.pack(v.astype(np.uint64), width), {"width": width}


def _decode_bitpack(payload, meta, n, tag):
    vals = bitpack.unpack(payload, int(meta["width"]), n)
    return vals.astype(dtype_of(tag))


def _encode_split(values, tag):
    """Byte-stream split (the Parquet BYTE_STREAM_SPLIT the reference
    names in its Thrift model but cannot read): transpose the value
    bytes so each byte plane is contiguous — float sign/exponent planes
    become highly repetitive and the outer compressor eats them."""
    if tag in (BOOL, BYTES):
        raise TypeError("split codec applies to fixed-width numeric types")
    v = np.ascontiguousarray(values, dtype=dtype_of(tag))
    if len(v) == 0:
        return b"", {}
    planes = v.view(np.uint8).reshape(len(v), v.dtype.itemsize)
    return np.ascontiguousarray(planes.T).tobytes(), {}


def _decode_split(payload, meta, n, tag):
    dt = dtype_of(tag)
    isz = dt.itemsize
    if len(payload) < n * isz:
        raise CorruptBlockError("split: truncated payload")
    planes = np.frombuffer(payload, np.uint8, n * isz).reshape(isz, n)
    return np.ascontiguousarray(planes.T).reshape(-1).view(dt)


_CODECS = {
    "plain": (_encode_plain, _decode_plain),
    "split": (_encode_split, _decode_split),
    "rle": (_encode_rle, _decode_rle),
    "dict": (dictionary.encode, dictionary.decode),
    "for": (foref.encode, foref.decode),
    "bitpack": (_encode_bitpack, _decode_bitpack),
    "fsst": (fsst.encode, fsst.decode),
    "list": (lists.encode, lists.decode),
    "delta": (delta.encode, delta.decode),
    "prefix": (prefix.encode, prefix.decode),
}


def encode_values(values, tag: str, codec: str,
                  fsst_table: list[bytes] | None = None,
                  outer_level: int | None = None) -> tuple[bytes, dict]:
    """Encode dense values with one codec; returns (payload, meta).

    ``fsst_table`` reuses a prebuilt symbol table (built once per
    partition-column by the engine instead of once per block);
    ``outer_level`` reaches the list codec's INNER selector trial so
    its outer on/off gate matches the level blocks are stored at."""
    if codec == "fsst":
        return fsst.encode(values, tag, table=fsst_table)
    if codec == "list":
        return lists.encode(values, tag, outer_level=outer_level)
    enc, _ = _CODECS[codec]
    return enc(values, tag)


def decode_values(payload: bytes, meta: dict, n: int, tag: str, codec: str):
    _, dec = _CODECS[codec]
    return dec(payload, meta, n, tag)


# ---------------------------------------------------------------------------
# outer (block) compression — decompressor.rs analog
# ---------------------------------------------------------------------------


# zstd level 3 beats level 1 on both ratio AND speed for redundant text
# (long-match search pays for itself); other codecs use their defaults
OUTER_LEVELS = {"zstd": 3}


def _outer_compress(payload: bytes, outer: str,
                    level: int | None = None) -> bytes:
    import pyarrow as pa

    level = level if level is not None else OUTER_LEVELS.get(outer)
    codec = (pa.Codec(outer, compression_level=level)
             if level is not None else pa.Codec(outer))
    return codec.compress(payload, asbytes=True)


def _outer_decompress(payload: bytes, outer: str, raw_len: int) -> bytes:
    import pyarrow as pa

    try:
        out = pa.Codec(outer).decompress(payload, raw_len, asbytes=True)
    except (OSError, MemoryError, pa.ArrowException) as e:
        # corrupted compressed stream: loud, typed (never wrong data)
        raise CorruptBlockError(f"outer: {outer} decompression failed: {e}") from None
    if len(out) != raw_len:
        raise CorruptBlockError("outer: decompressed size mismatch")
    return out


# ---------------------------------------------------------------------------
# block assembly
# ---------------------------------------------------------------------------


def encode_block(values, tag: str, codec: str, validity: np.ndarray | None = None,
                 outer: str | None = None,
                 fsst_table: list[bytes] | None = None,
                 outer_level: int | None = None) -> bytes:
    """Assemble a full block. ``values`` must already be dense (non-null only);
    ``validity`` is the full-length bool mask (None = no nulls).
    ``outer_level`` overrides the outer compressor's level (encode-side
    only — the level is not part of the format, decode never needs it)."""
    n_rows = len(validity) if validity is not None else len(values)
    payload, meta = encode_values(values, tag, codec, fsst_table=fsst_table,
                                  outer_level=outer_level)
    raw_len = len(payload)
    outer = outer or "none"
    stored = payload
    if outer != "none":
        stored = _outer_compress(payload, outer, outer_level)
        if len(stored) >= raw_len:  # incompressible — keep raw
            outer, stored = "none", payload
    flags = (1 if validity is not None else 0) | (2 if outer != "none" else 0)
    meta_bytes = json.dumps(meta, separators=(",", ":")).encode()
    parts = [
        _HDR.pack(MAGIC, CODEC_IDS.index(codec), ALL_TAGS.index(tag), flags,
                  OUTER_CODECS.index(outer), n_rows),
        struct.pack("<I", len(meta_bytes)), meta_bytes,
    ]
    if validity is not None:
        bm = bitpack.pack_bools(validity)
        parts += [struct.pack("<I", len(bm)), bm]
    parts.append(struct.pack("<QQ", raw_len, len(stored)))
    # CRC chains over EVERYTHING (header, meta, validity bitmap, length
    # fields, raw payload) — a flipped n_rows or validity bit is as
    # silently dangerous as a flipped payload byte
    crc = zlib.crc32(payload, zlib.crc32(b"".join(parts)))
    parts += [struct.pack("<I", crc), stored]
    return b"".join(parts)


def open_block(buf: bytes):
    """Parse header/validity and decompress the payload WITHOUT decoding
    values -> (payload, validity, meta, tag, codec, n_rows).  The hook
    for dictionary-level predicate pushdown (decode_parts on the raw
    payload instead of materializing every value)."""
    return _open(buf)


def decode_block(buf: bytes):
    """Decode a block -> (dense_values, validity_or_None, tag, codec, n_rows)."""
    payload, validity, meta, tag, codec, n_rows = _open(buf)
    n_valid = int(validity.sum()) if validity is not None else n_rows
    values = decode_values(payload, meta, n_valid, tag, codec)
    return values, validity, tag, codec, n_rows


def decode_block_rows(buf: bytes, mask: np.ndarray):
    """Late materialization: decode ONLY the rows selected by ``mask``
    (full block length) -> (dense_values_of_selected, validity_of_selected,
    tag, codec, n_selected).

    Per-codec selective paths: fsst uses its random-access row decode,
    dict gathers only the selected codes through the dictionary, plain
    byte arrays gather only the selected slices; fixed-width codecs
    decode fully (cheap) and index.  The reference decompresses whole
    pages then filters; selective decode is strictly less work when the
    surviving fraction is small."""
    payload, validity, meta, tag, codec, n_rows = _open(buf)
    rows = np.nonzero(mask)[0]
    if validity is None:
        validity_sel = None
        dense_idx = rows
        n_valid = n_rows
    else:
        validity_sel = validity[rows]
        dcum = np.cumsum(validity) - 1
        dense_idx = dcum[rows[validity_sel]]
        n_valid = int(validity.sum())
    if codec == "fsst":
        values = fsst.decode_rows(payload, n_valid, dense_idx)
    elif codec == "dict":
        uniques, codes = dictionary.decode_parts(payload, meta, n_valid, tag)
        sel = codes[dense_idx]
        values = strings.take(uniques, sel) if tag == BYTES else uniques[sel]
    elif codec == "plain" and tag == BYTES:
        # decode_plain is a zero-copy view; take copies only selected rows
        values = strings.take(strings.decode_plain(payload, n_valid), dense_idx)
    else:
        full = decode_values(payload, meta, n_valid, tag, codec)
        if tag == BYTES:
            values = strings.take(full, dense_idx)
        elif hasattr(full, "offsets"):  # ListColumn
            lens = full.lengths()[dense_idx]
            starts = full.offsets[dense_idx]
            total = int(lens.sum())
            src_idx = (np.repeat(starts - np.concatenate(([0], np.cumsum(lens)[:-1])), lens)
                       + np.arange(total, dtype=np.int64)) if total else np.zeros(0, np.int64)
            offs = np.zeros(len(dense_idx) + 1, dtype=np.int64)
            np.cumsum(lens, out=offs[1:])
            is_str = hasattr(full.values, "offsets")  # lbytes elements

            def _take_vals(idx):
                return (strings.take(full.values, idx) if is_str
                        else np.asarray(full.values)[idx])

            ev = full.elem_validity
            if ev is None:
                values = lists.ListColumn(offs, _take_vals(src_idx))
            else:
                # src_idx addresses element SLOTS; map the valid ones to
                # their dense positions in the value stream
                ev_sel = ev[src_idx]
                dense_pos = np.cumsum(ev) - 1
                vals = _take_vals(dense_pos[src_idx[ev_sel]])
                values = lists.ListColumn(offs, vals, ev_sel)
        else:
            values = np.asarray(full)[dense_idx]
    return values, validity_sel, tag, codec, len(rows)


def _open(buf: bytes):
    # truncation anywhere in the header chain must surface as the
    # documented CorruptBlockError, never a bare struct.error
    try:
        return _open_unchecked(buf)
    except struct.error as e:
        raise CorruptBlockError(f"block: truncated header ({e})") from None


def _open_unchecked(buf: bytes):
    if len(buf) < _HDR.size:
        raise CorruptBlockError("block: truncated header")
    if buf[:4] != MAGIC:
        got = bytes(buf[:4])
        if got[:3] == MAGIC[:3]:  # older/newer BSK format, not corruption
            raise CorruptBlockError(
                f"block: format version {got!r}, this reader expects "
                f"{MAGIC!r} — re-encode the dataset")
        raise CorruptBlockError("block: bad magic")
    _, codec_id, tag_id, flags, outer_id, n_rows = _HDR.unpack_from(buf, 0)
    if codec_id >= len(CODEC_IDS) or tag_id >= len(ALL_TAGS) or outer_id >= len(OUTER_CODECS):
        raise CorruptBlockError("block: bad codec/tag/outer id")
    codec, tag, outer = CODEC_IDS[codec_id], ALL_TAGS[tag_id], OUTER_CODECS[outer_id]
    pos = _HDR.size
    (meta_len,) = struct.unpack_from("<I", buf, pos)
    pos += 4
    try:
        meta = json.loads(buf[pos : pos + meta_len])
    except ValueError as e:
        raise CorruptBlockError(f"block: bad meta json: {e}") from None
    pos += meta_len
    validity = None
    n_valid = n_rows
    if flags & 1:
        (bm_len,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        if n_rows > bm_len * 8:
            # bound the allocation by bytes actually present (a corrupted
            # n_rows must not drive a giant alloc before the CRC check)
            raise CorruptBlockError("block: validity bitmap shorter than n_rows")
        validity = bitpack.unpack_bools(buf[pos : pos + bm_len], n_rows)
        pos += bm_len
        n_valid = int(validity.sum())
    raw_len, stored_len, crc = struct.unpack_from("<QQI", buf, pos)
    if raw_len > (1 << 30):
        # blocks are ~4 MB logical by construction; a multi-GB raw_len is
        # corruption — refuse before attempting the allocation
        raise CorruptBlockError("block: implausible raw payload length")
    preamble = buf[: pos + 16]  # header..stored_len, excludes the crc field
    pos += 20
    stored = buf[pos : pos + stored_len]
    if len(stored) != stored_len:
        raise CorruptBlockError("block: truncated payload")
    payload = _outer_decompress(stored, outer, raw_len) if flags & 2 else stored
    if zlib.crc32(payload, zlib.crc32(preamble)) != crc:
        raise CorruptBlockError("block: crc mismatch (header/meta/payload)")
    return payload, validity, meta, tag, codec, n_rows


# ---------------------------------------------------------------------------
# null scatter/strip helpers (rep_def_parser analog)
# ---------------------------------------------------------------------------


def strip_nulls(values, tag: str, validity: np.ndarray):
    """Dense values at validity==True positions."""
    idx = np.nonzero(validity)[0]
    if tag == BYTES:
        return strings.take(values, idx)
    return np.ascontiguousarray(values)[idx]


def scatter_nulls_fixed(dense: np.ndarray, validity: np.ndarray) -> np.ndarray:
    """Re-interleave dense values with nulls (fill value 0) per validity."""
    out = np.zeros(len(validity), dtype=dense.dtype)
    out[validity] = dense
    return out
