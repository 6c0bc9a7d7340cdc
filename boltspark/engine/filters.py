"""Null-aware predicate kernels for decode-time pushdown — the
reference's filter module (src/filters/: range, float range, boolean,
const; null rule ``keep = (valid & check(value)) | (null_allowed &
~valid)``, fixed_length_filter.rs:20-165) with zone maps wired into the
reader (its ``check_range`` never is) and evaluation once per dictionary
distinct (dictionary_page_int32_with_filters.rs:97-177), byte arrays
included.  numpy boolean masks are the selection vectors.

Each ordered leaf declares once what it accepts, ``value_set()`` ->
(domain, [(lo, lo_inclusive, hi, hi_inclusive), ...]), None = unbounded;
the base derives ``check_zone``, ``jvm_zone_keep`` (one leg per
interval, ORed) and, with the one ternary null rule, ``mask``,
``dict_mask`` and ``to_spark_condition``:

====================  ======  =========================================
leaf                  domain  value set
====================  ======  =========================================
RangePredicate        num     [lower, upper], either end open or None
BooleanPredicate      num     {value}  (stats hold 0.0 / 1.0)
InPredicate           either  {v, ...}; bytes when every v is bytes/str
ConstPredicate        any     whole domain (accept) / empty set
BytesEqPredicate      bytes   {value}
BytesPrefixPredicate  bytes   [p, succ(p))
BytesRangePredicate   bytes   [lower, upper], either end open or None
====================  ======  =========================================

Contains, suffix, ArrayContains and Decimal128Range zones stay 'some'.
A stats row's zone (``_zone``; lower end inclusive) is num [vmin, vmax],
a null or NaN bound meaning unknown (np.min/np.max are NaN once a block
holds a NaN, so a known zone holds none), or bytes [vmin_pfx, vmax_pfx]
when ``vmax_exact``, else [vmin_pfx, succ(vmax_pfx)): values sharing
prefix p sort below succ(p), p minus trailing 0xFF bytes with its last
byte incremented (none for an empty or all-0xFF p).  NONE when no
interval meets the zone, ALL when one holds it, else SOME; byte point
sets also probe the bloom (a miss is a certain skip).  Value kernels
use Spark's float order (NaN above +inf, NaN = NaN), as Catalyst does.

int vs double: stats are float64, int bounds past 2^53 widened outward
at encode.  Python compares scalars (int-to-float comparison is exact);
an int bound float64 cannot hold is judged as is (int column) and
rounded (a double column meets the rounded literal in numpy and
Catalyst), and only a verdict both agree on stands.  JVM legs compare
against the rounded double and stay non-strict (``vmax >= lo``): a
strict leg drops a live group once rounding moves the bound up.

``jvm_zone_keep`` is SQL text, as is every blocks read plan
(``decode._blocks_proj``): the text holds only literals from
``manifest._sql_lit`` (bytes as ``X'..'``, doubles cast from their
round-trip repr) and backtick-quoted names from ``manifest._sql_name``,
so one Py4J call parses it whatever its size.  Column forms
(``_spark_value``/``to_spark_condition``) serve only as the Catalyst
oracle the tests compare against.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import functools
import operator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

from ..kernels import bloom
from ..kernels.strings import StringColumn, to_arrow
from .manifest import _sql_lit, _sql_name

ALL = "all"
NONE = "none"
SOME = "some"

_JVM_MAX_LEGS = 16  # bigger needle sets: not worth the expression tree


def _nan(x) -> bool:
    return x is not None and x != x


def _succ(p: bytes) -> bytes | None:
    """Smallest byte string above every string starting with ``p``
    (None: ``p`` is empty or all 0xFF, so nothing bounds them)."""
    p = p.rstrip(b"\xff")
    return p[:-1] + bytes([p[-1] + 1]) if p else None


def _zone(stats: dict, domain: str):
    """(lo, hi, hi_inclusive) bounding a block's valid values (lo
    inclusive, hi None = unbounded), or None when unknown."""
    if domain == "bytes":
        lo, hi = stats.get("vmin_pfx"), stats.get("vmax_pfx")
        if lo is None or hi is None:
            return None
        exact = bool(stats.get("vmax_exact"))
        return bytes(lo), bytes(hi) if exact else _succ(bytes(hi)), exact
    lo, hi = stats.get("vmin"), stats.get("vmax")
    if lo is None or hi is None or _nan(lo) or _nan(hi):
        return None
    return lo, hi, True


def _meets(iv, z) -> bool:
    """Interval ``iv`` and zone ``z`` may share a value."""
    lo, lo_inc, hi, hi_inc = iv
    zlo, zhi, zhi_inc = z
    if lo is not None and zhi is not None and (
            lo > zhi or lo == zhi and not (lo_inc and zhi_inc)):
        return False
    return hi is None or hi > zlo or hi == zlo and hi_inc


def _holds(iv, z) -> bool:
    """Interval ``iv`` contains all of zone ``z``."""
    lo, lo_inc, hi, hi_inc = iv
    zlo, zhi, zhi_inc = z
    return ((lo is None or zlo > lo or zlo == lo and lo_inc)
            and (hi is None or zhi is not None and (
                zhi < hi or zhi == hi and (hi_inc or not zhi_inc))))


def _verdict(ivs, z, probe=None) -> str:
    hits = [iv for iv in ivs if _meets(iv, z)]
    if probe is not None:
        hits = [iv for iv in hits if probe(iv[0])]
    if not hits:
        return NONE
    return ALL if any(_holds(iv, z) for iv in hits) else SOME


def _num_ivs(ivs, rounded: bool):
    """Numeric intervals against a known (NaN-free) zone: a NaN lower
    end admits only NaN, so the interval drops; a NaN upper end lies
    above every value the zone holds.  ``rounded``: bounds as float64."""
    out = []
    for lo, lo_inc, hi, hi_inc in ivs:
        if rounded:
            lo, hi = (None if b is None else float(b) for b in (lo, hi))
        if not _nan(lo):
            out.append((lo, lo_inc, None if _nan(hi) else hi, hi_inc))
    return out


def _as_double(values):
    """Catalyst compares a float column against double literals in
    double: widen float32 so the mask agrees."""
    return values.astype(np.float64) if values.dtype == np.float32 else values


def _arrow_mask(fn, col, *args, **kw) -> np.ndarray:
    """One Arrow compute call over a byte column -> numpy bool mask."""
    assert isinstance(col, StringColumn)
    return np.asarray(fn(to_arrow(col), *args, **kw), dtype=bool)


def _lit(v: bytes):
    """A byte bound as a Spark literal: str for UTF-8 (string columns),
    else a binary literal."""
    try:
        return v.decode("utf-8")
    except UnicodeDecodeError:  # binary column: bytes literal
        return F.lit(v)


def _spark_between(c, lo, lo_inc, hi, hi_inc):
    """lo <(=) c <(=) hi as a Column; a None end is unbounded."""
    cond = F.lit(True)
    if lo is not None:
        cond = cond & ((c >= lo) if lo_inc else (c > lo))
    if hi is not None:
        cond = cond & ((c <= hi) if hi_inc else (c < hi))
    return cond


def _jvm_num_leg(st, lo, lo_inc, hi, hi_inc):
    """Keep unless the numeric zone provably misses the interval —
    non-strict against the rounded double literal whatever the ends."""
    legs = []
    for b, field, op in ((lo, "vmax", ">="), (hi, "vmin", "<=")):
        if b is not None:
            s = f"{st}.{_sql_name(field)}"
            legs.append(f"({s} IS NULL OR isnan({s}) OR "
                        f"{s} {op} {_sql_lit(float(b))})")
    return " AND ".join(legs)


def _jvm_bytes_leg(st, lo, lo_inc, hi, hi_inc):
    """Keep unless the byte zone provably misses the interval — the same
    comparisons as ``_meets`` over ``_zone``; v >= succ(p) is spelled
    v > p AND NOT startswith(v, p)."""
    legs = []
    if lo is not None:
        v, pmax = _sql_lit(lo), f"{st}.{_sql_name('vmax_pfx')}"
        exact = f"coalesce({st}.{_sql_name('vmax_exact')}, false)"
        legs.append(f"({pmax} IS NULL OR NOT CASE WHEN {exact} THEN {v} "
                    f"{'>' if lo_inc else '>='} {pmax} ELSE {v} > {pmax} "
                    f"AND NOT startswith({v}, {pmax}) END)")
    if hi is not None:
        v, pmin = _sql_lit(hi), f"{st}.{_sql_name('vmin_pfx')}"
        legs.append(f"({pmin} IS NULL OR {pmin} {'<=' if hi_inc else '<'} {v})")
    return " AND ".join(legs)


class Predicate:
    """Base: one value kernel (``check``) and one value set
    (``value_set``) per leaf; zone verdicts, the JVM prefilter, masks
    and Spark conditions are derived here."""

    column: str
    null_allowed: bool = False

    def check(self, values) -> np.ndarray:  # dense, no nulls
        return self.check_bytes(values)

    def check_bytes(self, col) -> np.ndarray:
        raise TypeError(f"{type(self).__name__} does not apply to byte arrays")

    def value_set(self):
        """(domain, intervals) this leaf accepts — domain 'num' or
        'bytes' — or None when its values have no order to prune on."""
        return None

    def value_zone(self, stats: dict) -> str:
        """Verdict over the block's VALID values (nulls set aside)."""
        vs = self.value_set()
        if vs is None:
            return SOME
        domain, ivs = vs
        if not ivs:
            return NONE
        if any(lo is None and hi is None for lo, _, hi, _ in ivs):
            return ALL
        z = _zone(stats, domain)
        if z is None:
            return SOME
        if domain == "bytes":
            bl = stats.get("bloom")
            probe = None
            if bl is not None and all(iv[0] == iv[2] for iv in ivs):
                probe = functools.partial(bloom.maybe_contains, bytes(bl))
            return _verdict(ivs, z, probe)
        exact, rounded = _num_ivs(ivs, False), _num_ivs(ivs, True)
        v = _verdict(exact, z)
        if rounded != exact and _verdict(rounded, z) != v:
            return SOME
        return v

    def check_zone(self, stats: dict) -> str:
        """Zone-map verdict from a block's stats row alone: 'all' /
        'none' / 'some' rows pass.  Exact — 'all' means every row passes,
        'none' that none does — because NotPredicate inverts it."""
        v = self.value_zone(stats)  # then the ternary null rule
        if stats.get("has_null") and v == (NONE if self.null_allowed else ALL):
            return SOME
        return v

    def _scatter(self, dense: np.ndarray, validity) -> np.ndarray:
        """Dense-value verdicts -> full-length keep mask with the
        reference's ternary-null rule."""
        if validity is None:
            return dense
        keep = np.zeros(len(validity), dtype=bool)
        keep[validity] = dense
        if self.null_allowed:
            keep |= ~validity
        return keep

    def mask(self, values, validity: np.ndarray | None) -> np.ndarray:
        return self._scatter(self.check(values), validity)

    def dict_mask(self, uniques, codes: np.ndarray,
                  validity: np.ndarray | None) -> np.ndarray:
        """Dictionary fast path: predicate on distincts, gather by code."""
        if hasattr(uniques, "offsets"):  # StringColumn
            umask = self.check_bytes(uniques)
        else:
            umask = self.check(uniques)
        return self._scatter(umask[codes], validity)

    def jvm_zone_keep(self, st_for):
        """JVM-side zone prefilter: SQL text over the typed stats struct
        ``st_for(column)`` (SQL text naming it) that is false only for
        groups this predicate can PROVABLY never match (null stats
        pass, Python re-checks everything that remains).  None = no JVM
        prefilter."""
        vs = self.value_set()
        if vs is None or len(vs[1]) > _JVM_MAX_LEGS or any(
                lo is None and hi is None for lo, _, hi, _ in vs[1]):
            return None
        st = st_for(self.column)
        leg = _jvm_bytes_leg if vs[0] == "bytes" else _jvm_num_leg
        keep = " OR ".join(f"({leg(st, *iv)})" for iv in vs[1]) or "false"
        if self.null_allowed:
            keep = f"({keep}) OR coalesce({st}.{_sql_name('has_null')}, true)"
        return keep

    def _spark_value(self, c):
        """The leaf's value condition on Column ``c`` (nulls aside)."""
        raise NotImplementedError(f"{type(self).__name__} has no Spark form")

    def to_spark_condition(self):
        """Equivalent Column expression — for parity tests vs Catalyst."""
        c = F.col(self.column)
        cond = self._spark_value(c)
        return (cond | c.isNull()) if self.null_allowed else (cond & c.isNotNull())

    @property
    def columns(self) -> list[str]:
        """Every leaf column this predicate reads (composites: several)."""
        return [self.column]

    def map_leaves(self, fn):
        """Rebuild with ``fn`` applied to every column-bearing leaf —
        used to resolve dotted struct paths to flat leaf names."""
        return fn(self)

    def zone_verdict_cols(self, st_for) -> str:
        """``check_zone`` generalized to composites: ``st_for(col)``
        yields a leaf column's stats dict, or None when the group
        predates the column (schema evolution: every row is null)."""
        st = st_for(self.column)
        if st is None:
            return ALL if self.null_allowed else NONE
        return self.check_zone(st)


def pred_columns(predicates) -> list[str]:
    """Ordered dedup of every leaf column a predicate list touches
    (composite predicates span several columns)."""
    return list(dict.fromkeys(c for p in predicates for c in p.columns))


def _utc(v):
    """Naive datetime -> UTC-aware (the predicate's documented naive-
    datetime convention, applied identically on the storage side and
    the Spark-literal side so engine/Catalyst parity holds on non-UTC
    hosts)."""
    return v.replace(tzinfo=dt.timezone.utc) if v.tzinfo is None else v


def _storage_bound(v):
    """Temporal bound -> the column's storage integer (timestamps ride
    as epoch MICROSECONDS, dates as epoch DAYS — schema.storage_cast).
    Naive datetimes are treated as UTC.  Non-temporal bounds pass
    through.  Integer timedelta division, NOT timestamp()*1e6: the
    float path is off by 1 us for ~1% of microsecond-precision
    stamps."""
    if isinstance(v, dt.datetime):  # before date: datetime IS a date
        epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        return (_utc(v) - epoch) // dt.timedelta(microseconds=1)
    if isinstance(v, dt.date):
        return (v - dt.date(1970, 1, 1)).days
    return v


def _spark_bound(v):
    """The bound as handed to Spark in to_spark_condition: naive
    datetimes get the same UTC interpretation _storage_bound applies
    (Spark would otherwise read a naive literal in the SESSION
    timezone and parity would silently break off-UTC)."""
    return _utc(v) if isinstance(v, dt.datetime) else v


@dataclass
class RangePredicate(Predicate):
    """lower <(=) value <(=) upper; None bound = unbounded.  Bounds may
    be datetime/date objects for timestamp/date columns — they
    normalize to the storage epoch integers at construction.

    integer_range_filter.rs clamps i128 bounds per physical type and
    short-circuits always-false ranges; numpy comparison semantics give
    us the same result without the clamping dance.
    """

    column: str
    lower: float | int | None = None
    upper: float | int | None = None
    lower_inclusive: bool = True
    upper_inclusive: bool = True
    null_allowed: bool = False

    def __post_init__(self):
        # keep the user's values for to_spark_condition (Spark compares
        # timestamp columns against datetime literals, not epoch ints)
        self._spark_lower, self._spark_upper = self.lower, self.upper
        self.lower, self.upper = map(_storage_bound, (self.lower, self.upper))

    def check(self, values: np.ndarray) -> np.ndarray:
        # Spark's float order: NaN above every bound but NaN, NaN = NaN
        v = _as_double(values)
        nan = np.isnan(v) if v.dtype.kind == "f" else np.zeros(len(v), bool)
        lo, hi, lo_inc, hi_inc = (self.lower, self.upper,
                                  self.lower_inclusive, self.upper_inclusive)
        keep = np.ones(len(v), dtype=bool)
        if lo is not None:
            keep &= (v >= lo if lo_inc else v > lo) | (
                nan & (lo_inc or not _nan(lo)))
        if hi is not None:  # every non-NaN value sorts below a NaN bound
            keep &= (~nan | hi_inc) if _nan(hi) else (
                v <= hi if hi_inc else v < hi)
        return keep

    def value_set(self):
        return "num", [(self.lower, self.lower_inclusive,
                        self.upper, self.upper_inclusive)]

    def _spark_value(self, c):
        return _spark_between(
            c, _spark_bound(getattr(self, "_spark_lower", self.lower)),
            self.lower_inclusive,
            _spark_bound(getattr(self, "_spark_upper", self.upper)),
            self.upper_inclusive)


def _split128(x: int) -> tuple[int, int]:
    """Signed int (|x| < 2^127) -> (lo u64, hi i64) two's-complement
    word pair — the d128 storage layout."""
    lo = x & 0xFFFFFFFFFFFFFFFF
    hi = x >> 64  # arithmetic shift: sign-extends for negatives
    if not -(1 << 63) <= hi < (1 << 63):
        raise OverflowError(f"{x} does not fit in 128 bits")
    return lo, hi


@dataclass
class Decimal128RangePredicate(Predicate):
    """Range filter over decimal(19..38) columns by UNSCALED int bounds
    (the reference rejects decimals outright; p<=18 columns use plain
    ``RangePredicate`` on their unscaled int64 storage).  Values arrive
    as (n, 2) int64 (lo, hi) word pairs; comparison is signed-128
    lexicographic — hi words signed, tie-broken on lo words unsigned.
    Bounds are Python ints of the UNSCALED value (e.g. decimal(38,4)
    value 12.5 -> 125000), which may exceed 64 bits.

    d128 blocks carry no zone-map bounds (the stats slot is float64),
    so every block decodes its predicate column — correct, just never
    skipped; cluster + store at p<=18 when zone pruning matters."""

    column: str
    lower: int | None = None
    upper: int | None = None
    lower_inclusive: bool = True
    upper_inclusive: bool = True
    null_allowed: bool = False
    supports_d128 = True  # decode's guard admits this predicate class

    def check(self, values: np.ndarray) -> np.ndarray:
        v = np.ascontiguousarray(values, dtype=np.int64)
        # precision-widened tables mix storages: runs written at p<=18
        # store 1-D unscaled int64 — sign-extend to word pairs so ONE
        # predicate class filters the whole column
        v = np.stack([v, v >> 63], axis=1) if v.ndim == 1 else v.reshape(-1, 2)
        lo_u = v[:, 0].view(np.uint64)
        hi = v[:, 1]
        keep = np.ones(len(v), dtype=bool)
        for b, inc, strict, weak in (
                (self.lower, self.lower_inclusive, operator.gt, operator.ge),
                (self.upper, self.upper_inclusive, operator.lt, operator.le)):
            if b is not None:
                b_lo, b_hi = _split128(int(b))
                cmp = (weak if inc else strict)(lo_u, np.uint64(b_lo))
                keep &= strict(hi, b_hi) | ((hi == b_hi) & cmp)
        return keep


@dataclass
class BooleanPredicate(Predicate):
    column: str
    value: bool = True
    null_allowed: bool = False

    def check(self, values: np.ndarray) -> np.ndarray:
        return values == self.value

    def value_set(self):
        return "num", [(self.value, True, self.value, True)]

    def _spark_value(self, c):
        return c == self.value


@dataclass
class ConstPredicate(Predicate):
    """Accept-all / reject-all (const_filter.rs)."""

    column: str
    accept: bool = True
    null_allowed: bool = False
    # value-independent: works over d128 word pairs too (len((n,2)) = n),
    # so pushed IS [NOT] NULL on decimal(>18) columns must not trip the
    # decode guard — Catalyst auto-generates IsNotNull beside every
    # comparison filter, so this reaches d128 columns routinely via DSv2
    supports_d128 = True

    def check(self, values) -> np.ndarray:
        # value-independent: applies to any physical type (accept=True,
        # null_allowed=False is the universal IS NOT NULL predicate)
        return np.full(len(values), self.accept, dtype=bool)

    check_bytes = check

    def value_set(self):
        return None, ([(None, True, None, True)] if self.accept else [])

    def _spark_value(self, c):
        return F.lit(self.accept)


@dataclass
class BytesEqPredicate(Predicate):
    """Byte-array equality — the canonical dictionary-pushdown predicate
    (lang = 'py'): evaluated once against the sorted dictionary, O(1)
    per row afterwards (dictionary_page_*_with_filters.rs made real for
    byte arrays)."""

    column: str
    value: bytes = b""
    null_allowed: bool = False

    def check_bytes(self, col) -> np.ndarray:
        return _arrow_mask(pc.equal, col, self.value)

    def value_set(self):
        return "bytes", [(self.value, True, self.value, True)]

    def _spark_value(self, c):
        return c == _lit(self.value)


@dataclass
class InPredicate(Predicate):
    """value IN (set) for any physical type — the dictionary-pushdown
    workhorse (evaluated once per distinct value), zone-checked against
    min/max bounds and, for byte columns, the per-block bloom filter
    (every needle missing the bloom => whole block skipped)."""

    column: str
    values: tuple = ()
    null_allowed: bool = False

    def _byte_values(self) -> list[bytes]:
        return [v if isinstance(v, bytes) else str(v).encode()
                for v in self.values]

    def _storage_values(self) -> list:
        """Needles in the column's storage domain (temporal -> epoch
        ints, as ``RangePredicate`` bounds)."""
        return [_storage_bound(v) for v in self.values]

    def check(self, values) -> np.ndarray:
        if hasattr(values, "offsets"):
            return self.check_bytes(values)
        values = _as_double(values)
        needles = self._storage_values()
        keep = np.isin(values, np.asarray(needles))
        if values.dtype.kind == "f" and any(_nan(v) for v in needles):
            keep |= np.isnan(values)  # Spark: NaN IN (NaN)
        return keep

    def check_bytes(self, col) -> np.ndarray:
        vals = pa.array(self._byte_values(), pa.large_binary())
        return _arrow_mask(pc.is_in, col, value_set=vals)

    def value_set(self):
        if all(isinstance(v, (bytes, str)) for v in self.values):
            return "bytes", [(v, True, v, True) for v in self._byte_values()]
        needles = self._storage_values()
        if all(isinstance(v, (int, float, np.integer, np.floating))
               for v in needles):
            return "num", [(v, True, v, True) for v in needles]
        return None

    def _spark_value(self, c):
        return c.isin([v.decode("utf-8") if isinstance(v, bytes)
                       else _spark_bound(v) for v in self.values])


@dataclass
class ArrayContainsPredicate(Predicate):
    """value IN list-column row — the membership filter for encoded
    array columns (array<string> tag lists, array<fixed> features).
    Null ELEMENTS never match; a null ROW follows the ternary
    null_allowed rule like every other predicate.  No zone maps exist
    for list columns, so the block always opens (verdict 'some')."""

    column: str
    value: object = None
    null_allowed: bool = False

    def check(self, col) -> np.ndarray:
        # col is a dense ListColumn (null rows already stripped)
        vals = col.values
        if hasattr(vals, "offsets"):  # byte elements
            v = self.value if isinstance(self.value, bytes) \
                else str(self.value).encode()
            hits = _arrow_mask(pc.equal, vals, v)
        else:
            hits = np.asarray(vals) == self.value
        ev = col.elem_validity
        if ev is not None:
            slot_hits = np.zeros(len(ev), dtype=bool)
            slot_hits[ev] = hits
            hits = slot_hits
        # per-row ANY over the slot ranges (running count sampled at the
        # row offsets — handles empty rows for free)
        cz = np.zeros(len(hits) + 1, dtype=np.int64)
        np.cumsum(hits, out=cz[1:])
        return (cz[col.offsets[1:]] - cz[col.offsets[:-1]]) > 0

    def _spark_value(self, c):
        v = self.value.decode("utf-8") if isinstance(self.value, bytes) \
            else self.value
        return F.array_contains(c, v)


@dataclass
class BytesPrefixPredicate(Predicate):
    """Byte-array predicate: value starts with ``prefix`` — exercises the
    byte-array dictionary filter path the reference left unimplemented."""

    column: str
    prefix: bytes = b""
    null_allowed: bool = False

    def check_bytes(self, col) -> np.ndarray:
        return _arrow_mask(pc.starts_with, col, pattern=self.prefix)

    def value_set(self):
        return "bytes", [(self.prefix, True, _succ(self.prefix), False)]

    def _spark_value(self, c):
        return c.startswith(_lit(self.prefix))


@dataclass
class BytesContainsPredicate(Predicate):
    """Byte-array predicate: value contains ``needle`` (SQL LIKE
    '%needle%'), byte-level.  Substring has no order relation, so zones
    never prune, but dictionary blocks still scan once per DISTINCT
    value and map over codes."""

    column: str
    needle: bytes = b""
    null_allowed: bool = False

    def check_bytes(self, col) -> np.ndarray:
        return _arrow_mask(pc.match_substring, col, self.needle)

    def _spark_value(self, c):
        return c.contains(_lit(self.needle))


@dataclass
class BytesSuffixPredicate(Predicate):
    """Byte-array predicate: value ends with ``suffix`` (SQL LIKE
    '%suffix') — the file-extension filter shape.  Like contains, no
    order relation (suffixes don't sort with the values), so no zone
    pruning; dictionary blocks evaluate once per distinct value."""

    column: str
    suffix: bytes = b""
    null_allowed: bool = False

    def check_bytes(self, col) -> np.ndarray:
        return _arrow_mask(pc.ends_with, col, pattern=self.suffix)

    def _spark_value(self, c):
        return c.endswith(_lit(self.suffix))


@dataclass
class BytesRangePredicate(Predicate):
    """Lexicographic byte-array range: lower <(=) value <(=) upper —
    the SQL ``path >= 'a/' AND path < 'b/'`` prefix-partition range
    scan.  str bounds are encoded UTF-8 at construction.  Zones come
    off the stored 24-byte min/max prefixes (module docstring);
    dictionary blocks evaluate once per distinct, the dense path is a
    vectorized Arrow binary compare.  DSv2 pushes string
    GreaterThan[OrEqual]/LessThan[OrEqual] here."""

    column: str
    lower: bytes | None = None
    upper: bytes | None = None
    lower_inclusive: bool = True
    upper_inclusive: bool = True
    null_allowed: bool = False

    def __post_init__(self):
        self.lower, self.upper = (b.encode() if isinstance(b, str) else b
                                  for b in (self.lower, self.upper))
        if self.lower is None and self.upper is None:
            raise ValueError("BytesRangePredicate needs a bound")

    def check_bytes(self, col) -> np.ndarray:
        keep = np.ones(len(col), dtype=bool)
        for b, op in (
                (self.lower, pc.greater_equal if self.lower_inclusive else pc.greater),
                (self.upper, pc.less_equal if self.upper_inclusive else pc.less)):
            if b is not None:
                keep &= _arrow_mask(op, col, b)
        return keep

    def value_set(self):
        return "bytes", [(self.lower, self.lower_inclusive,
                          self.upper, self.upper_inclusive)]

    def _spark_value(self, c):
        lo, hi = (None if b is None else _lit(b) for b in (self.lower, self.upper))
        return _spark_between(c, lo, self.lower_inclusive,
                              hi, self.upper_inclusive)


def replace_predicate(pred, **kw):
    """``dataclasses.replace`` that PRESERVES construction-time hints
    (RangePredicate keeps the user's original temporal bounds in
    ``_spark_lower``/``_spark_upper`` for to_spark_condition; a plain
    replace re-runs __post_init__ on the already-converted epoch ints
    and would clobber them).  Use this for every predicate rebuild —
    leaf-column resolution, NOT's null_allowed strip."""
    new = dataclasses.replace(pred, **kw)
    for a in ("_spark_lower", "_spark_upper"):
        if hasattr(pred, a):
            setattr(new, a, getattr(pred, a))
    return new


class _CompositePredicate(Predicate):
    """Shared plumbing for OR/AND nodes (subclasses declare the
    ``children`` dataclass field; its presence is how the engine
    detects composites).  Evaluation is recursive
    (decode.eval_group_predicate, ``zone_verdict_cols``), so every leaf
    keeps its zone-map / bloom / dictionary short-circuits; the
    single-column API (check/mask/check_zone) does not apply here."""

    def __post_init__(self):
        if not self.children:
            raise ValueError(f"{type(self).__name__} needs at least one child")

    @property
    def columns(self) -> list[str]:
        return pred_columns(self.children)

    def map_leaves(self, fn):
        return dataclasses.replace(
            self, children=[ch.map_leaves(fn) for ch in self.children])

    def zone_verdict_cols(self, st_for) -> str:
        """Zone-only combine (no payload read): OR is 'all' once a child
        is and 'none' when every child is; AND is the dual."""
        short, rest = (ALL, NONE) if self.combine == "or" else (NONE, ALL)
        out = rest
        for ch in self.children:
            v = ch.zone_verdict_cols(st_for)
            if v == short:
                return short
            if v == SOME:
                out = SOME
        return out

    def jvm_zone_keep(self, st_for):
        keeps = [ch.jvm_zone_keep(st_for) for ch in self.children]
        if self.combine == "or":
            if any(k is None for k in keeps):
                return None  # one child can never prune -> the union can't
            return " OR ".join(f"({k})" for k in keeps)
        keeps = [k for k in keeps if k is not None]
        return " AND ".join(f"({k})" for k in keeps) or None

    def to_spark_condition(self):
        op = operator.or_ if self.combine == "or" else operator.and_
        return functools.reduce(
            op, [ch.to_spark_condition() for ch in self.children])


@dataclass
class OrPredicate(_CompositePredicate):
    """SQL disjunction — keep a row iff ANY child keeps it.  Children
    may sit on DIFFERENT columns (``WHERE a < 5 OR b = 'x'``), the one
    shape the conjunctive predicate-list cascade cannot express.  SQL
    ternary semantics come free: each child's mask is exactly its
    rows-that-evaluate-TRUE set (nulls enter only via that child's own
    null_allowed), and OR keeps a row iff some disjunct is TRUE.

    Scale shape: a group is skipped unopened only when EVERY child's
    zone says 'none' (the JVM prefilter is the same union, so a group
    provably dead on all disjuncts never crosses into Python)."""

    children: list

    combine = "or"


@dataclass
class AndPredicate(_CompositePredicate):
    """SQL conjunction as a predicate VALUE.  Top-level AND is spelled
    as a plain predicate list; this class exists so conjunctions can
    nest inside OrPredicate: ``(a < 5 AND b = 'x') OR c > 9``."""

    children: list

    combine = "and"


@dataclass
class NotPredicate(Predicate):
    """SQL NOT over a single-column leaf predicate — the engine's
    ``!=``, NOT LIKE, NOT IN.  Ternary rule: NOT(NULL) is NULL, so null
    rows are dropped unless this predicate's own ``null_allowed``.

    Zone verdicts invert EXACTLY: the child's value-domain verdict is
    computed with nulls set aside, then nulls re-enter under this
    predicate's null_allowed — so NOT still skips blocks unopened
    (``NOT x = 'a'`` skips a block whose zone proves every value is
    'a', and accepts whole blocks whose zone or bloom proves 'a'
    absent).  Composite children are rejected — apply De Morgan and
    push NOT to the leaves."""

    child: Predicate
    null_allowed: bool = False

    def __post_init__(self):
        if getattr(self.child, "children", None) is not None:
            raise TypeError("NotPredicate wraps a single-column leaf "
                            "predicate; push NOT to the leaves "
                            "(De Morgan) instead")
        if isinstance(self.child, NotPredicate):
            raise TypeError("NOT NOT p: use p.child directly")
        self.column = self.child.column
        self.supports_d128 = getattr(self.child, "supports_d128", False)
        # the child with nulls set aside — its own null_allowed must not
        # leak into the inversion (replace_predicate keeps _spark_*
        # temporal-literal hints)
        self._vchild = (self.child if not self.child.null_allowed
                        else replace_predicate(self.child,
                                               null_allowed=False))

    def map_leaves(self, fn):
        return dataclasses.replace(self, child=fn(self.child))

    def check(self, values) -> np.ndarray:
        return ~self._vchild.check(values)

    def check_bytes(self, col) -> np.ndarray:
        return ~self._vchild.check_bytes(col)

    def value_zone(self, stats: dict) -> str:
        v = self._vchild.value_zone(stats)
        return {ALL: NONE, NONE: ALL}.get(v, SOME)

    def _spark_value(self, c):
        return ~self._vchild._spark_value(c)
