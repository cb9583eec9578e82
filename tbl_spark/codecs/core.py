"""Codec dispatch + sampling-based codec auto-selection.

Public API:
    encode_array(values, valid=None, codec=None, try_zstd=True,
                 cache_key=None, plan=None) -> bytes
    decode_array(blob) -> (values, valid_mask | None)

`values` may be a numpy array (ints / floats / bool), a pyarrow
string/binary/list array, or anything pa.array() accepts. Floats are viewed
as same-width unsigned ints and bools as uint8 before encoding, so every
codec is bit-exact for every logical type. `decode_array` returns values
with nulls FILLED (numpy array for numerics, pyarrow array for
str/binary/list) plus the validity mask — callers re-apply nulls.

Auto-selection is the sampling cost model the north rule requires: cheap
analytic size estimates from one-pass full-array stats (min/max, delta
range, run count) plus a sampled uniqueness probe decide the codec; the
final blob is guarded against RAW(+zstd), so the result is never larger
than a plain zstd-compressed copy (the reference's parquet-zstd sink is the
baseline to beat — crates/tbl-cli/src/output.rs:157-173). A run can
instead carry an explicit encode `Plan` auditioned once on the driver;
no codec choice is remembered between calls.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import numeric, rans, strings
from .format import (
    _ZSTD,
    Codec,
    DType,
    DTYPE_OF_NUMPY,
    NUMPY_OF_DTYPE,
    assemble,
    disassemble,
    frame,
    unframe,
)

_SAMPLE_N = 4096
_WORK_VIEW = {  # logical numpy dtype -> integer work dtype
    np.dtype(np.float32): np.dtype(np.uint32),
    np.dtype(np.float64): np.dtype(np.uint64),
    np.dtype(np.bool_): np.dtype(np.uint8),
}


# --------------------------------------------------------------------------
# integer payload encode/decode (work arrays are always integer)
# --------------------------------------------------------------------------

_INT_CANDIDATES = (Codec.CONST, Codec.FOR_BITPACK, Codec.DELTA_FOR,
                   Codec.DELTA_NESTED, Codec.RLE, Codec.DICT, Codec.RAW)


def _encode_int_payload(v: np.ndarray, codec: Codec,
                        _depth: int = 0) -> bytes | None:
    if codec == Codec.CONST:
        return numeric.const_encode(v)
    if codec == Codec.RAW:
        return numeric.raw_encode(v)
    if codec == Codec.FOR_BITPACK:
        return numeric.for_encode(v)
    if codec == Codec.DELTA_FOR:
        return numeric.delta_encode(v)
    if codec == Codec.DELTA_NESTED:
        # first value + the deltas auto-encoded as their own nested blob.
        # Exists for DELTA_FOR's blind spot: a sorted array with a few
        # huge jumps (e.g. a token vocab with an int32-max sentinel) has
        # a delta RANGE that ruins bit-packing, but the delta VALUES
        # dict/RLE-encode to a few bits each.
        import struct as _struct
        if len(v) < 2 or _depth >= 2:
            return None
        vmin, vmax = int(v.min()), int(v.max())
        if not (numeric._I64_MIN <= vmin and vmax <= numeric._I64_MAX):
            return None
        d = np.diff(v.astype(np.int64, copy=False))
        inner = _encode_int_auto(d, _depth + 1)
        return _struct.pack("<q", int(v[0])) + inner
    if codec == Codec.RLE:
        values, lengths = numeric.run_split(v)
        if len(values) == len(v):
            return None
        inner_v = _encode_int_auto(values, _depth + 1, no_rle=True)
        inner_l = _encode_int_auto(lengths, _depth + 1, no_rle=True)
        return frame(inner_v, inner_l)
    if codec == Codec.BYTE_PLANES:
        return numeric.planes_encode(v)
    if codec == Codec.RANS:
        return _rans_payload(v)
    if codec == Codec.DICT:
        uniques, codes = numeric.dict_split(v)
        if len(uniques) >= max(2, len(v) // 2):
            return None
        inner_u = _encode_int_auto(uniques, _depth + 1, no_dict=True)
        inner_c = _encode_int_auto(codes, _depth + 1, no_dict=True, no_rle=False)
        return frame(inner_u, inner_c)
    raise ValueError(f"not an integer codec: {codec}")


_WINDOW_N = 1 << 18  # contiguous stats window for sampled estimates

# An encode plan: column key ("doc_id", "tokens.values", ...) -> the codec
# the driver audition (encode.audition_codec_hints) chose on a sample of
# the run's input. An entry is a Codec enum value, a shared rANS table
# blob (bytes, see build_shared_table) or an FSST merge table (a tuple of
# (code, left, right) triples). The plan is a plain value of one run:
# encode_array reads it and never writes it, so a chunk's blob is a
# function of (chunk values, plan entry) only.
Plan = dict[str, int | bytes | tuple]


def plan_to_json(plan: Plan) -> dict:
    """JSON record of a plan, as a store pins it in store.json: a codec
    becomes its int, an FSST merge table ``{"fsst": [[code, left,
    right], ...]}`` and a shared table ``{"table": "<fingerprint hex>"}``.
    Table blobs are never copied in; the store keeps them once in its
    shared-tables sidecar, keyed by the same fingerprint."""
    out: dict = {}
    for key, entry in sorted(plan.items()):
        if isinstance(entry, (bytes, bytearray)):
            out[key] = {"table": f"{shared_table_fp(bytes(entry)):016x}"}
        elif isinstance(entry, tuple):
            out[key] = {"fsst": [list(m) for m in entry]}
        else:
            out[key] = int(entry)
    return out


def plan_from_json(record: dict, tables: dict[int, bytes]) -> Plan:
    """Inverse of plan_to_json; `tables` maps fingerprints to the shared
    table blobs (ChunkStore.read_shared_tables)."""
    plan: Plan = {}
    for key, entry in record.items():
        if isinstance(entry, int):
            plan[key] = entry
        elif "fsst" in entry:
            plan[key] = tuple(tuple(m) for m in entry["fsst"])
        else:
            fp = int(entry["table"], 16)
            if fp not in tables:
                raise ValueError(
                    f"plan entry {key!r} names shared table "
                    f"{entry['table']}, which the store does not hold")
            plan[key] = tables[fp]
    return plan


def describe_plan(record: dict) -> dict[str, str]:
    """One line per column key of a plan_to_json record: the codec name,
    ``shared table <fp>`` or ``fsst <n> merges``."""
    out = {}
    for key, entry in record.items():
        if isinstance(entry, int):
            out[key] = Codec(entry).name.lower()
        elif "fsst" in entry:
            out[key] = f"fsst {len(entry['fsst'])} merges"
        else:
            out[key] = f"shared table {entry['table']}"
    return out


def _rans_payload(v: np.ndarray, _table_depth: int = 0) -> bytes | None:
    """Dict-remap to a dense alphabet, then lane-parallel rANS. payload =
    frame(freqs_blob, uniques_blob, rans_core).

    The freq/uniques tables are themselves entropy-coded (nested rANS /
    delta-nested) when that wins — at bench-size 400k-token chunks the
    two tables were 52 KB ≈ 0.13 B/token of the fixed cost that kept
    rANS above the design-point bytes/token (VERDICT r3 #4); their
    actual entropy is ~19 KB. Decode needs no changes: both table blobs
    stay self-describing and _decode_int_blob recurses."""
    uniques, codes = numeric.dict_split(v)
    if not (2 <= len(uniques) <= rans.MAX_ALPHABET):
        return None
    res = rans.encode(codes, len(uniques))
    if res is None:
        return None
    core, freqs = res
    if _table_depth == 0:
        return frame(_encode_table_int(freqs),
                     _encode_table_sorted(uniques), core)
    return frame(_encode_int_auto(freqs), _encode_int_auto(uniques), core)


_TABLE_ENTROPY_MIN = 4096  # below this, python/table overhead never pays


def _encode_table_int(t: np.ndarray) -> bytes:
    """Best blob for a codec side-table: the analytic auto pick, improved
    by a nested rANS candidate when the table is large enough."""
    best = _encode_int_auto(t)
    if len(t) >= _TABLE_ENTROPY_MIN:
        payload = _rans_payload(t.astype(np.int64, copy=False),
                                _table_depth=1)
        if payload is not None:
            cand = assemble(Codec.RANS, DTYPE_OF_NUMPY[t.dtype], len(t),
                            payload, try_zstd=False)
            best = min(best, cand, key=len)
    return best


def _encode_table_sorted(t: np.ndarray) -> bytes:
    """Best blob for a SORTED side-table (the rANS alphabet): the analytic
    pick plus a first-value + entropy-coded-deltas candidate — a dense
    vocab's deltas are mostly 1 (H ≈ 1.1 bits) while the raw ids need ~16.
    No nested rANS on the raw sorted values: a sorted dense alphabet is
    near-uniform, so rANS on it always loses (measured 90 KB vs the
    19 KB analytic pick on the bench vocab) — skipping it halves the
    table-encode time per chunk."""
    import struct as _struct
    best = _encode_int_auto(t)
    if len(t) >= _TABLE_ENTROPY_MIN:
        lo, hi = int(t[0]), int(t[-1])
        if numeric._I64_MIN <= lo and hi <= numeric._I64_MAX:
            d = np.diff(t.astype(np.int64, copy=False))
            inner = _encode_table_int(d)
            cand = assemble(Codec.DELTA_NESTED, DTYPE_OF_NUMPY[t.dtype],
                            len(t), _struct.pack("<q", lo) + inner,
                            try_zstd=False)
            best = min(best, cand, key=len)
    return best


# --------------------------------------------------------------------------
# shared rANS tables ("dictionary page" analog, VERDICT r6 #7)
#
# Per-chunk rANS side-tables cost 0.0535 B/token at bench-size 400k-token
# chunks (freq table ~16 KB + alphabet ~6 KB, amortized over one chunk) vs
# 0.0065 at the 4M design size. A SHARED table — Laplace-smoothed dense-
# range frequencies built ONCE on the driver from the audition sample,
# stored once per encode run (a sentinel chunk row / store sidecar) — lets
# every chunk emit only its entropy-coded core: measured 1.1167 B/token vs
# 1.1682 per-chunk on the bench token distribution (1.6M-value sample,
# 256 lanes). The analog of Parquet's file-level dictionary page; the
# reference's zstd sink has no equivalent (output.rs:157-173).
#
# Robustness (each gate measured on this repo's test fixtures):
# - the range is quantile-anchored, then extended to the farthest sample
#   value within _SHARED_GAP — a plain [min, max] range hangs on a single
#   int32-max outlier row (a 17 GB bincount), while a plain quantile cut
#   chops the dense vocab tail and makes EVERY chunk out-of-range. The
#   quantiles, the range and the distinct count all come from the
#   sample's value counts (value_counts: a range-capped histogram that
#   counts such an outlier apart), never from sorting the sample;
# - chunk values outside [lo, hi] become per-chunk exceptions (position +
#   value side lists, symbol 0 placeholder in the stream), so one outlier
#   row does not force a whole chunk back to per-chunk tables;
# - a chunk with > max(16, n/256) exceptions declines the shared table
#   (wrong dataset / drifted distribution) and falls back to the normal
#   audition — compression-only risk, never correctness;
# - tables are content-addressed by fingerprint, so the worker registry
#   can never serve a stale table to a blob (the r6 cache-staleness
#   lesson): a blob names exactly the table it was encoded against.
# --------------------------------------------------------------------------

_SHARED_MAGIC = b"TSST"
_SHARED_GAP = 65536           # dense-tail extension window past quantiles
_SHARED_MIN_N = 1 << 16       # below this a per-chunk table is fine anyway
# side streams carry one value per ROW (not per token), so a whole
# dataset may offer fewer than _SHARED_MIN_N samples; a 32k sample over
# the (dense, <= _SHARED_MAX_K) alphabets shared_table_hint accepts is
# statistically ample, and its pricing still has to beat the analytic
# estimate before the table ships
_SIDE_MIN_N = 1 << 15
# shared tables pay off only when rANS would win AND the alphabet is dense:
# K bounded by slot-floor tax (each of K symbols keeps >= 1 of M slots)
_SHARED_MAX_K = rans.M // 8

# worker-local, content-addressed: fingerprint -> (lo, hi, freqs)
# (unbounded by design: entries are small — K<=M/8 int64 freqs, typically
# KBs — and in-flight blobs name them by fingerprint, so evicting one
# mid-job would fail a decode; content-addressing keeps them harmless)
_shared_tables: dict[int, tuple[int, int, np.ndarray]] = {}
# lazily-built decode symbol-lookup tables (M int32 entries ≈ 4 MB each):
# one per registered table, shared across every chunk decoded against it.
# LRU-capped (ADVICE r7): a long-lived executor decoding many datasets
# would otherwise accumulate 4 MB per table forever. Eviction is always
# safe — a slot table rebuilds from its registered freqs in ~0.5 ms —
# so the cap bounds worker memory at ~64 MB with no correctness risk.
_shared_slots: dict[int, np.ndarray] = {}
_SHARED_SLOTS_MAX = 16


def build_shared_table(values: np.ndarray,
                       min_n: int | None = None) -> bytes | None:
    """Driver-side: build a shared rANS table blob from a column sample.

    Returns a self-describing blob (magic + lo/hi + entropy-coded
    quantized freqs) or None when the column is ineligible: non-integer,
    too small a sample, too wide/sparse a dense range, or poor sample
    coverage. Blob layout:
        b"TSST" | u8 version | i64 lo | i64 hi | framed freq_blob
    """
    values = np.asarray(values)
    if not np.issubdtype(values.dtype, np.integer) \
            or len(values) < (_SHARED_MIN_N if min_n is None else min_n):
        return None
    table = _shared_table(*value_counts(values), len(values), min_n)
    return None if table is None else table[0]


def _shared_table(u: np.ndarray, c: np.ndarray, n: int,
                  min_n: int | None = None
                  ) -> tuple[bytes, np.ndarray] | None:
    """build_shared_table from a sample's value counts (`value_counts`):
    the blob and the table's dense in-range counts (before smoothing),
    or None. Every bound comes from the counts, no sort of the sample:
    the quantiles from cumulative counts, bit-identical to np.quantile
    of the sample, and the distinct count from the non-zero counts."""
    if n < (_SHARED_MIN_N if min_n is None else min_n):
        return None
    if u.dtype == np.uint64 and int(u[-1]) > numeric._I64_MAX:
        return None
    u = u.astype(np.int64, copy=False)
    q_lo, q_hi = _quantiles(c, u, n, (0.0001, 0.9999))
    in_hi = u[u <= q_hi + _SHARED_GAP]
    in_lo = u[u >= q_lo - _SHARED_GAP]
    if len(in_hi) == 0 or len(in_lo) == 0:
        return None
    hi, lo = int(in_hi.max()), int(in_lo.min())
    K = hi - lo + 1
    if not (2 <= K <= _SHARED_MAX_K):
        return None
    inr = (u >= lo) & (u <= hi)
    if int(c[inr].sum()) / n < 0.999:   # table misses real mass -> useless
        return None
    distinct = int(inr.sum())
    if distinct * 16 < K:           # sparse alphabet: dict/per-chunk wins
        return None
    counts = np.zeros(K, dtype=np.int64)
    counts[u[inr] - lo] = c[inr]
    freqs = rans.quantize_freqs(counts + 1)     # Laplace floor
    import struct as _struct
    return (_SHARED_MAGIC + b"\x01" + _struct.pack("<qq", lo, hi)
            + _encode_table_int(freqs), counts)


def shared_table_hint(values: np.ndarray) -> bytes | None:
    """Driver-side audition for SIDE streams (list lengths, scalar
    metadata like n_tok): a shared-table blob when the expected
    RANS_SHARED cost beats the best analytic per-chunk estimate, else
    None.

    Why this exists next to pick_int_codec: that audition compares
    per-SAMPLE sizes, where a per-chunk rANS table amortizes over the
    whole 128k-value sample and looks cheap even though real chunks
    hold ~1k of these values and would each repay the table — so it
    correctly rejects per-chunk RANS, but the profitable SHARED path
    never enters the comparison at all. This helper prices it
    directly: sample cross-entropy under the quantized shared table
    plus a conservative allowance for the 8-lane state block and
    exception framing on a ~1k-value chunk, against the analytic
    per-chunk minimum (bitpack/delta/RLE/dict). The table and its
    price come from the same value counts."""
    values = np.asarray(values)
    if not np.issubdtype(values.dtype, np.integer) \
            or len(values) < _SIDE_MIN_N:
        return None
    return _shared_table_hint(values, *value_counts(values))


def _shared_table_hint(values: np.ndarray, u: np.ndarray,
                       c: np.ndarray) -> bytes | None:
    table = _shared_table(u, c, len(values), min_n=_SIDE_MIN_N)
    if table is None:
        return None
    blob, counts = table
    freqs = rans.quantize_freqs(counts + 1).astype(np.float64)
    nz = counts > 0
    p = counts[nz] / counts[nz].sum()
    bits = float(-(p * np.log2(freqs[nz] / freqs.sum())).sum())
    bits += 0.7     # 8-lane states + exception slack on a ~1k chunk
    v = values.astype(np.int64, copy=False)
    est = _estimate_int_sizes(v)
    best_bits = min(est.values()) * 8.0 / len(v)
    return blob if bits < best_bits else None


def shared_table_fp(blob: bytes) -> int:
    """Content fingerprint of a shared-table blob (u64)."""
    import hashlib
    return int.from_bytes(
        hashlib.blake2b(blob, digest_size=8).digest(), "big")


def register_shared_table(blob: bytes) -> int:
    """Parse + register a shared-table blob in the worker-local registry;
    returns its fingerprint. Idempotent (content-addressed)."""
    import struct as _struct
    if len(blob) < 21 or blob[:4] != _SHARED_MAGIC or blob[4] != 1:
        raise ValueError("corrupt shared rANS table blob")
    fp = shared_table_fp(blob)
    if fp not in _shared_tables:
        lo, hi = _struct.unpack_from("<qq", blob, 5)
        freqs = _decode_int_blob(blob[21:]).astype(np.int64, copy=False)
        if len(freqs) != hi - lo + 1 or int(freqs.sum()) != rans.M \
                or (len(freqs) and int(freqs.min()) < 1):
            raise ValueError("corrupt shared rANS table blob")
        _shared_tables[fp] = (int(lo), int(hi), freqs)
    return fp


def _rans_shared_payload(work: np.ndarray, fp: int) -> bytes | None:
    """Encode `work` against registered shared table `fp`; None when the
    table is missing, the dtype can't map, or too many values fall
    outside the table range (the fall-back-to-audition signal)."""
    import struct as _struct
    entry = _shared_tables.get(fp)
    if entry is None:
        return None
    lo, hi, freqs = entry
    if not np.issubdtype(work.dtype, np.integer):
        return None
    if work.dtype == np.uint64 and len(work) \
            and int(work.max()) > numeric._I64_MAX:
        return None
    n = len(work)
    if n == 0:
        return None
    v = work.astype(np.int64, copy=False)
    cin = (v >= lo) & (v <= hi)
    n_exc = int((~cin).sum())
    if n_exc > max(16, n // 256):
        return None
    codes = v - lo
    if n_exc:
        exc_pos = np.flatnonzero(~cin).astype(np.int64)
        exc_val = v[exc_pos]
        codes[exc_pos] = 0          # placeholder symbol, overwritten on decode
        exc_blob = frame(_encode_int_auto(exc_pos), _encode_int_auto(exc_val))
    else:
        exc_blob = frame(b"", b"")
    # 256 lanes (1024 from 2M values): past ~256 lanes a decode step's
    # per-lane work outweighs its ~20 µs fixed interpreter cost, and each
    # lane's final state costs ~5 B. rans.encode's one-lane-per-384-values
    # floor sizes small side streams.
    n_lanes = 1024 if n >= (1 << 21) else 256
    res = rans.encode(codes, len(freqs), n_lanes=n_lanes, freqs=freqs)
    if res is None:
        return None
    core, _f = res
    return _struct.pack("<Q", fp) + frame(exc_blob, core)


def _decode_rans_shared(payload: bytes, n: int,
                        work_dtype: np.dtype) -> np.ndarray:
    import struct as _struct
    (fp,) = _struct.unpack_from("<Q", payload, 0)
    entry = _shared_tables.get(fp)
    if entry is None:
        raise ValueError(
            f"rans_shared blob references table {fp:016x} which is not "
            f"registered in this worker — pass the encode run's shared "
            f"tables (chunk rows with codec='rans_table', or the store's "
            f"shared_tables.json) to the decode")
    lo, _hi, freqs = entry
    exc_blob, core = unframe(payload[8:], 2)
    # pop+reinsert keeps the dict in LRU order (insertion-ordered dicts);
    # worst case of a race in a threaded caller is a benign double build.
    # Eviction walks a snapshot of the keys and tolerates a key another
    # thread already evicted (or a dict that changed size mid-walk).
    slot = _shared_slots.pop(fp, None)
    if slot is None:
        slot = np.repeat(np.arange(len(freqs), dtype=np.int32),
                         freqs.astype(np.int64))
    _shared_slots[fp] = slot
    for k in list(_shared_slots):
        if len(_shared_slots) <= _SHARED_SLOTS_MAX:
            break
        _shared_slots.pop(k, None)
    codes = rans.decode(core, n, freqs, slot=slot)
    out = codes + lo
    bpos, bval = unframe(exc_blob, 2)
    if bpos:
        exc_pos = _decode_int_blob(bpos).astype(np.int64, copy=False)
        exc_val = _decode_int_blob(bval).astype(np.int64, copy=False)
        out[exc_pos] = exc_val
    return out.astype(work_dtype, copy=False)


# --------------------------------------------------------------------------
# value counts: the one histogram a large-array audition reads
# --------------------------------------------------------------------------

# Bins of value_counts' dense window: 2 MB of int64 counts, as wide as a
# shared table's largest range plus its _SHARED_GAP on either side.
_COUNT_BINS = 1 << 18


def value_counts(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(sorted distinct values, their counts) of integer array `v`.

    One np.bincount over a window of _COUNT_BINS values, placed at the
    minimum of a strided subsample when the subsample's range fits it and
    centred on the subsample's median otherwise. Values outside the
    window are counted apart with np.unique, as RANS_SHARED chunks code
    out-of-range values as exceptions, so one int32-max outlier never
    sizes the histogram and a dense column is never sorted. The counts
    are exact wherever the window falls; only the cost depends on it.
    Values come back as int64, or uint64 for unsigned input."""
    wide = np.dtype(np.uint64 if v.dtype.kind == "u" else np.int64)
    sub = np.sort(v[::max(1, len(v) // 4096)].astype(wide))
    lo = int(sub[0])
    if int(sub[-1]) - lo >= _COUNT_BINS:
        lo = max(int(sub[len(sub) // 2]) - _COUNT_BINS // 2,
                 int(np.iinfo(v.dtype).min))
    base = np.uint64(lo % (1 << 64))
    # offsets from lo modulo 2^64: below lo wraps past the window
    d = np.subtract(v, base, dtype=np.uint64, casting="unsafe")
    outside = d >= _COUNT_BINS
    if outside.any():
        ou, oc = np.unique(v[outside].astype(wide), return_counts=True)
        d[outside] = _COUNT_BINS        # one spill bin, dropped below
    else:
        ou = oc = np.zeros(0, dtype=wide)
    bins = np.bincount(d.view(np.int64))[:_COUNT_BINS]
    nz = np.flatnonzero(bins)
    u = (nz.astype(np.uint64) + base).view(wide)
    below = ou < wide.type(lo)
    return (np.concatenate([ou[below], u, ou[~below]]),
            np.concatenate([oc[below], bins[nz], oc[~below]]))


def _quantiles(c: np.ndarray, u: np.ndarray, n: int,
               qs: tuple[float, ...]) -> np.ndarray:
    """np.quantile(v, qs) (method "linear") of the n-value int64 sample
    whose value counts are (u, c), bit for bit: the same two order
    statistics per quantile, read off cumulative counts, through the
    same interpolation steps as numpy's _lerp."""
    vi = (n - 1) * np.asarray(qs, dtype=np.float64)
    prev = np.floor(vi)
    nxt = prev + 1
    prev[vi >= n - 1] = nxt[vi >= n - 1] = n - 1
    prev[vi < 0] = nxt[vi < 0] = 0
    prev, nxt = prev.astype(np.intp), nxt.astype(np.intp)
    gamma = vi - prev
    cum = np.cumsum(c)
    a = u[np.searchsorted(cum, prev, side="right")]
    b = u[np.searchsorted(cum, nxt, side="right")]
    diff = np.subtract(b, a)
    out = np.asanyarray(np.add(a, diff * gamma))
    np.subtract(b, diff * (1 - gamma), out=out, where=gamma >= 0.5,
                casting="unsafe", dtype=type(out.dtype))
    return out


def _entropy_bits(c: np.ndarray) -> float:
    """Order-0 entropy, bits per value, of a distribution given by counts."""
    c = c[c > 0]
    p = c / c.sum()
    return float(-(p * np.log2(p)).sum())


def _table_bytes(x: np.ndarray) -> float:
    """Size model of an entropy-coded side table holding `x`: its order-0
    entropy plus its own alphabet at full width."""
    xu, xc = value_counts(x)
    return (len(x) * _entropy_bits(xc)
            + len(xu) * int(xu[-1]).bit_length()) / 8


def _plane_bits(h: float) -> float:
    """zstd's bits per byte over a byte plane of order-0 entropy `h`
    (bits per byte), fitted on the planes of tools/audition_corpus.py:
    zstd level 3 spends about 0.75 bit over the entropy of a plane of 1-5
    bits (its match coding outbids its Huffman literals there), up to h
    itself below 1 bit (Huffman's one-bit floor) and nothing on a plane
    near 8 bits, which it stores raw."""
    return h + (min(h, 0.75) if h <= 5 else max(0.0, 0.3 * (7.5 - h)))


# A large-array audition picks by estimate when the smallest estimate
# beats the next by more than this share; otherwise it trial-encodes the
# candidates on a window (_trial_order). Measured with
# tools/audition_corpus.py over 51 columns (datagen token samples, n_tok
# and list lengths, perfbench's lineitem integer and date columns, 22
# synthetic streams). On the columns whose values carry no order, the
# rANS estimate came within -2%..+6% of the trial's size (+52% on 40-bit
# uniform values, a table-bound case that ties with bit-packing) and the
# byte-plane estimate within -6%..+17% (x2.4 on lineitem's line numbers,
# whose short ascending runs the probe misses; they tie with bit-packing
# too). Every column picked by estimate
# picks the trial's codec: token samples (estimates 11-12% apart: rANS
# about 9.0 bits per token against byte planes' 10.3), Zipf, float
# prices and sparse ids. n_tok and lineitem's dates, 3-6% apart, and
# every tie go to the trial.
_ESTIMATE_MARGIN = 0.10
_PROBE_N = 1 << 14  # values of the structure probe


def _int_estimates(work: np.ndarray, counts: tuple[np.ndarray, np.ndarray]
                   ) -> tuple[dict[Codec, float], list[Codec], bool]:
    """(size estimates, the two best analytic codecs, structured) of a
    large integer array from its value counts.

    - rANS: the order-0 entropy, plus its two side tables (_table_bytes
      of the counts and of the alphabet's gaps) and lane states;
    - byte planes: each plane's entropy under zstd (_plane_bits);
    - the two best analytic codecs (_estimate_int_sizes) go through the
      zstd cascade, which at under a byte per value packs several values
      per byte and can reach the order-0 entropy, and at a byte or more
      reaches at best what byte planes do.
    The order-0 models hold only for values that carry no order, so a
    zstd pass over a _PROBE_N-value slice that beats the order-0 entropy
    (runs, steps, repeats) marks the array structured."""
    u, c = counts
    n = len(work)
    h0 = _entropy_bits(c)
    analytic = _estimate_int_sizes(work)
    analytic.pop(Codec.RAW, None)
    top2 = [Codec(k) for _, k in sorted((v, int(k))
                                        for k, v in analytic.items())][:2]
    probe = np.ascontiguousarray(work[max(0, n - _PROBE_N) // 2:][:_PROBE_N])
    if len(_ZSTD.compress(probe.tobytes())) * 8 < h0 * len(probe):
        return {}, top2, True
    est: dict[Codec, float] = {}
    span = int(u[-1]) - int(u[0])
    if span <= numeric._RANGE_CAP:
        size = numeric._narrow_bytes(span.bit_length())
        d = u.astype(np.uint64) - np.uint64(int(u[0]) % (1 << 64))
        bits = sum(_plane_bits(_entropy_bits(np.bincount(
            (d >> np.uint64(8 * i) & np.uint64(255)).astype(np.intp),
            weights=c, minlength=256))) for i in range(size))
        est[Codec.BYTE_PLANES] = n * bits / 8 + 9 + 5 * size
    for codec in top2:
        size = analytic[codec]
        if size < n:
            size = min(size, n * h0 / 8)
        elif Codec.BYTE_PLANES in est:
            size = min(size, est[Codec.BYTE_PLANES])
        est[codec] = size
    if 2 <= len(u) <= rans.MAX_ALPHABET:
        # the two side tables with ~32 B of headers each, the payload's
        # 12 B of frames, the coded values, then 8 B per lane state and
        # the core's 16 B header per window, scaled as _trial_order does
        wn = min(n, _WINDOW_N)
        gaps = np.diff(u).astype(np.uint64)
        est[Codec.RANS] = (_table_bytes(c) + _table_bytes(gaps) + 76
                           + n * h0 / 8
                           + (8 * rans.lane_count(wn) + 16) * n / wn)
    return est, top2, False


def _estimate_int_sizes(v: np.ndarray,
                        _nested: bool = False) -> dict[Codec, float]:
    """Analytic size estimates (bytes). min/max are exact (one cheap pass);
    delta-range / run-count / uniqueness come from a contiguous sample
    window scaled up — the sampling cost model of the north rule. A wrong
    pick still encodes correctly, it just isn't the smallest."""
    n = len(v)
    itemsize = v.dtype.itemsize
    est: dict[Codec, float] = {Codec.RAW: n * itemsize}
    if n == 0:
        return est
    vmin, vmax = int(v.min()), int(v.max())
    if vmin == vmax:
        est[Codec.CONST] = itemsize
        return est
    rng = vmax - vmin
    if rng <= numeric._RANGE_CAP:
        w = int(rng).bit_length()
        est[Codec.FOR_BITPACK] = 9 + n * w / 8
    window = v if n <= _WINDOW_N else v[(n - _WINDOW_N) // 2:][:_WINDOW_N]
    scale = n / len(window)
    if numeric._I64_MIN <= vmin and vmax <= numeric._I64_MAX and n > 1:
        diffs = np.diff(window.astype(np.int64, copy=False))
        dmin, dmax = int(diffs.min()), int(diffs.max())
        if dmax - dmin <= numeric._RANGE_CAP // 2:
            dw = int(dmax - dmin).bit_length() + 1  # headroom for unseen
            est[Codec.DELTA_FOR] = 17 + n * min(dw, 64) / 8
        if not _nested and len(diffs) > 1:
            # best sub-codec on the deltas themselves (one level deep),
            # projected from the window to full size
            sub = _estimate_int_sizes(diffs, _nested=True)
            est[Codec.DELTA_NESTED] = \
                25 + min(sub.values()) * (n / len(diffs))
    run_values, run_lengths = numeric.run_split(window)
    n_runs = len(run_values)
    if n_runs < len(window) // 3:
        vw = int(rng).bit_length()
        lw = int(run_lengths.max()).bit_length()
        est[Codec.RLE] = 60 + n_runs * scale * (vw + lw) / 8
    probe = window if len(window) <= 4 * _SAMPLE_N \
        else window[(len(window) - _SAMPLE_N) // 2:][:_SAMPLE_N]
    n_uniq = len(np.unique(probe))
    if n_uniq < max(2, len(probe) // 2):
        cw = max(1, int(n_uniq - 1).bit_length() + 1)
        est[Codec.DICT] = 60 + n_uniq * scale * itemsize + n * cw / 8
    return est


def _encode_int_auto(v: np.ndarray, _depth: int = 0, no_rle: bool = False,
                     no_dict: bool = False) -> bytes:
    """Pick + encode, returning a full nested blob (header + payload)."""
    dtype_code = DTYPE_OF_NUMPY[v.dtype]
    est = _estimate_int_sizes(v)
    if no_rle or _depth >= 2:
        est.pop(Codec.RLE, None)
    if no_dict or _depth >= 2:
        est.pop(Codec.DICT, None)
    for codec in sorted(est, key=est.get):  # type: ignore[arg-type]
        payload = _encode_int_payload(v, codec, _depth)
        if payload is not None:
            return assemble(codec, dtype_code, len(v), payload)
    return assemble(Codec.RAW, dtype_code, len(v), numeric.raw_encode(v))


def _decode_int_blob(blob: bytes) -> np.ndarray:
    codec, dtype_code, n, _valid, payload = disassemble(blob)
    work_dtype = NUMPY_OF_DTYPE[dtype_code]
    work_dtype = _WORK_VIEW.get(work_dtype, work_dtype)
    if codec == Codec.CONST:
        return numeric.const_decode(payload, n, work_dtype)
    if codec == Codec.RAW:
        return numeric.raw_decode(payload, n, work_dtype)
    if codec == Codec.FOR_BITPACK:
        return numeric.for_decode(payload, n, work_dtype)
    if codec == Codec.DELTA_FOR:
        return numeric.delta_decode(payload, n, work_dtype)
    if codec == Codec.DELTA_NESTED:
        import struct as _struct
        (first,) = _struct.unpack_from("<q", payload, 0)
        out = np.empty(n, dtype=np.int64)
        out[0] = first
        if n > 1:
            d = _decode_int_blob(payload[8:]).astype(np.int64, copy=False)
            np.cumsum(d, out=out[1:])
            out[1:] += first
        return out.astype(work_dtype, copy=False)
    if codec == Codec.BYTE_PLANES:
        return numeric.planes_decode(payload, n, work_dtype)
    if codec == Codec.RANS:
        bf, bu, core = unframe(payload, 3)
        freqs = _decode_int_blob(bf)
        uniques = _decode_int_blob(bu)
        codes = rans.decode(core, n, freqs)
        return uniques[codes].astype(work_dtype, copy=False)
    if codec == Codec.RANS_SHARED:
        return _decode_rans_shared(payload, n, work_dtype)
    if codec == Codec.RLE:
        bv, bl = unframe(payload, 2)
        return numeric.run_join(_decode_int_blob(bv), _decode_int_blob(bl))
    if codec == Codec.DICT:
        bu, bc = unframe(payload, 2)
        uniques = _decode_int_blob(bu)
        codes = _decode_int_blob(bc)
        return uniques[codes]
    raise ValueError(f"not an integer codec: {codec}")


# --------------------------------------------------------------------------
# strings / binary
# --------------------------------------------------------------------------

def _string_parts(arr: pa.Array) -> tuple[np.ndarray, bytes, np.ndarray | None]:
    """(offsets int64[n+1] starting at 0, corpus bytes, valid|None)."""
    large = pa.large_binary() if pa.types.is_binary(arr.type) \
        or pa.types.is_large_binary(arr.type) else pa.large_string()
    if arr.type != large:
        arr = arr.cast(large)
    valid = None
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
        fill = b"" if large == pa.large_binary() else ""
        arr = pc.fill_null(arr, fill)
    n = len(arr)
    buffers = arr.buffers()
    offsets = np.frombuffer(buffers[1], dtype=np.int64,
                            count=n + 1, offset=8 * arr.offset).copy()
    data = buffers[2] if buffers[2] is not None else b""
    corpus = bytes(memoryview(data)[offsets[0]:offsets[-1]])
    offsets -= offsets[0]
    return offsets, corpus, valid


# '<prefix><digit-run>' id shapes ("web-000000000042", "row_00173", URL
# counters): the trailing run parses into an int64 (≤18 digits so it
# always fits) and the prefixes dict-encode. RE2 syntax (pyarrow).
_TEMPLATE_PATTERN = r"^(?P<p>.*?)(?P<d>[0-9]{1,18})$"


def _template_parts(arr: pa.Array):
    """(prefixes, numbers int64, widths) when EVERY value matches
    '<prefix><1-18 digits>', else None. All-C++ extraction: one RE2
    pass, then arrow casts."""
    try:
        ex = pc.extract_regex(arr, _TEMPLATE_PATTERN)
        if ex.null_count:      # at least one value didn't match
            return None
        digits = pc.struct_field(ex, "d")
        return (pc.struct_field(ex, "p"),
                np.asarray(pc.cast(digits, pa.int64())),
                np.asarray(pc.utf8_length(digits), dtype=np.int64))
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return None  # e.g. forced onto a binary array


def _template_probe_ok(arr: pa.Array) -> bool:
    """Cheap template candidacy check: length gate first (so document-
    length text columns never pay a 64-document RE2 scan), then a
    64-value probe that must match wall-to-wall. Microseconds on a
    decline."""
    probe = arr.slice(0, min(64, len(arr)))
    if len(probe) == 0:
        return False
    try:
        avg_len = pc.sum(pc.utf8_length(probe)).as_py() / len(probe)
    except pa.ArrowNotImplementedError:
        return False           # binary array — not a template candidate
    if avg_len is None or avg_len > 256:
        return False
    return _template_parts(probe) is not None


def _template_build(arr: pa.Array, dtype_code: DType, n: int,
                    valid, try_zstd: bool) -> bytes | None:
    """STR_TEMPLATE blob: frame(prefix_string_blob, numbers_blob,
    widths_blob). Reconstruction is exact for every matching input —
    the stored width re-applies the original zero-padding — so the
    codec is bit-identical like every other, it just exploits that a
    typical id column is a tiny prefix alphabet plus a near-dense (and,
    under clustered encode, sorted → delta-tiny) counter."""
    if not _template_probe_ok(arr):
        return None
    parts = _template_parts(arr)
    if parts is None:
        return None
    prefix, numbers, widths = parts
    payload = frame(_encode_string(prefix, DType.STR, None, try_zstd=False),
                    _encode_int_auto(numbers),
                    _encode_int_auto(widths))
    return assemble(Codec.STR_TEMPLATE, dtype_code, n, payload,
                    valid=valid, try_zstd=try_zstd)


def _template_decode(payload: bytes, n: int) -> pa.Array:
    bp, bn, bw = unframe(payload, 3)
    prefix, _ = _decode_string(bp)
    numbers = _decode_int_blob(bn).astype(np.int64, copy=False)
    widths = _decode_int_blob(bw)
    # the encoder never emits empty or mismatched part streams (it
    # declines empty/non-matching arrays), so any mismatch here means a
    # truncated or tampered blob — say so instead of an IndexError on
    # uw[-1] or a silent misrender on a short widths stream (ADVICE r6)
    if n == 0 or not (len(prefix) == len(numbers) == len(widths) == n):
        raise ValueError(
            "corrupt STR_TEMPLATE blob: part lengths "
            f"(prefix={len(prefix)}, numbers={len(numbers)}, "
            f"widths={len(widths)}) do not all equal n={n}")
    uw = np.unique(widths)
    num_str = pc.cast(pa.array(numbers), pa.large_string())
    if len(uw) == 1:           # the common fixed-width id: pure arrow
        digits = pc.utf8_lpad(num_str, int(uw[0]), "0")
    else:                      # mixed widths: per-width numpy zfill
        # width the dtype for the LONGEST zero-padded form up front —
        # assigning into a narrower fixed-width numpy str array would
        # silently truncate the padding
        out = np.char.mod("%d", numbers).astype(f"<U{int(uw[-1])}")
        for w in uw:
            m = np.asarray(widths == w)
            out[m] = np.char.zfill(out[m], int(w))
        digits = pa.array(out).cast(pa.large_string())
    joined = pc.binary_join_element_wise(
        prefix.cast(pa.large_string()), digits,
        pa.scalar("", type=pa.large_string()))
    return joined.cast(pa.large_string())


def _encode_string(arr: pa.Array, dtype_code: DType, codec: Codec | None,
                   try_zstd: bool, planned: int | tuple | None = None
                   ) -> bytes:
    """`codec` forces a string codec; `planned` is the column's plan
    entry (STR_RAW / STR_DICT / STR_TEMPLATE, or an FSST merge table).
    A planned template or merge table that declines on this chunk, and
    a planned dict (whose test is the audition's first step), fall
    through to the chunk's own audition."""
    valid = None
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
        arr = pc.fill_null(
            arr, b"" if dtype_code == DType.BINARY else "")
    offsets, corpus, _ = _string_parts(arr)
    lengths = np.diff(offsets)
    lengths_blob = _encode_int_auto(lengths)
    n = len(arr)

    def build(c: Codec, corpus_payload: bytes) -> bytes:
        return assemble(c, dtype_code, n, frame(lengths_blob, corpus_payload),
                        valid=valid, try_zstd=try_zstd)

    def build_dict(denc: pa.DictionaryArray) -> bytes:
        dict_blob = _encode_string(denc.dictionary, dtype_code, None,
                                   try_zstd=False)
        codes = np.asarray(denc.indices.cast(pa.int64()))
        codes_blob = _encode_int_auto(codes)
        return assemble(Codec.STR_DICT, dtype_code, n,
                        frame(dict_blob, codes_blob),
                        valid=valid, try_zstd=try_zstd)

    def dict_encode() -> pa.DictionaryArray:
        return arr if isinstance(arr, pa.DictionaryArray) \
            else arr.dictionary_encode()

    if codec == Codec.STR_RAW or (codec is None
                                  and planned == Codec.STR_RAW):
        return build(Codec.STR_RAW, corpus)
    if codec == Codec.FSST:
        payload = strings.fsst_encode(corpus)
        if payload is None:
            return build(Codec.STR_RAW, corpus)
        return build(Codec.FSST, payload)
    if codec == Codec.STR_DICT:
        return build_dict(dict_encode())
    if codec == Codec.STR_TEMPLATE:
        t = _template_build(arr, dtype_code, n, valid, try_zstd)
        return t if t is not None else build(Codec.STR_RAW, corpus)
    if codec is not None:
        raise ValueError(f"not a string codec: {codec}")
    # `arr` is null-FILLED from here on: a planned codec that declines
    # must fall through to the audition below, never recurse (the
    # captured `valid` is the only copy of the null mask)
    if planned == Codec.STR_TEMPLATE:
        t = _template_build(arr, dtype_code, n, valid, try_zstd)
        if t is not None:
            return t
    elif isinstance(planned, tuple):
        payload = strings.fsst_encode(corpus, planned)
        if payload is not None:
            return build(Codec.FSST, payload)
    # audition: dict when it halves the values, else the smallest of
    # raw / template / FSST with a merge table built on this chunk
    if n >= 16:
        denc = dict_encode()
        if len(denc.dictionary) < n // 2:
            return build_dict(denc)
    cands = [build(Codec.STR_RAW, corpus)]
    if dtype_code == DType.STR:
        t = _template_build(arr, dtype_code, n, valid, try_zstd)
        if t is not None:
            cands.append(t)
    fsst_payload = strings.fsst_encode(corpus)
    if fsst_payload is not None:
        cands.append(build(Codec.FSST, fsst_payload))
    return min(cands, key=len)


def _decode_string(blob: bytes) -> tuple[pa.Array, np.ndarray | None]:
    codec, dtype_code, n, valid, payload = disassemble(blob)
    arrow_type = pa.large_binary() if dtype_code == DType.BINARY \
        else pa.large_string()
    if codec == Codec.STR_DICT:
        bdict, bcodes = unframe(payload, 2)
        dictionary, _ = _decode_string(bdict)
        codes = _decode_int_blob(bcodes)
        arr = dictionary.take(pa.array(codes))
        return arr, valid
    if codec == Codec.STR_TEMPLATE:
        return _template_decode(payload, n), valid
    blen, bcorpus = unframe(payload, 2)
    lengths = _decode_int_blob(blen)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    corpus = bcorpus if codec == Codec.STR_RAW else strings.fsst_decode(bcorpus)
    arr = pa.Array.from_buffers(
        arrow_type, n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(corpus)])
    return arr, valid


# --------------------------------------------------------------------------
# lists (tokens: array<int32>, embeddings: array<float>)
# --------------------------------------------------------------------------

def _encode_decimal128(arr: pa.Array, try_zstd: bool) -> bytes:
    """decimal128(p, s) — e.g. the u64-widening target decimal(20,0) —
    stored as two independently auto-encoded uint64 word planes of the
    little-endian two's-complement 128-bit values (bit-exact for the
    full range, negatives included). Payload = [precision, scale] +
    framed(lo_blob, hi_blob)."""
    import struct
    t = arr.type
    valid = None
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
        arr = pc.fill_null(arr, pa.scalar(0, type=t))
    buf = arr.buffers()[1]
    raw = np.frombuffer(buf, dtype=np.uint64,
                        offset=arr.offset * 16, count=2 * len(arr))
    lo, hi = raw[0::2].copy(), raw[1::2].copy()
    lo_blob = encode_array(lo, try_zstd=try_zstd)
    hi_blob = encode_array(hi, try_zstd=try_zstd)
    payload = struct.pack("<Bb", t.precision, t.scale) \
        + frame(lo_blob, hi_blob)  # scale is SIGNED in arrow
    return assemble(Codec.DEC128, DType.DEC128, len(arr), payload,
                    valid=valid, try_zstd=False)


def _decode_decimal128(blob: bytes) -> tuple[pa.Array, np.ndarray | None]:
    import struct
    _codec, _dtype, n, valid, payload = disassemble(blob)
    precision, scale = struct.unpack_from("<Bb", payload)
    lo_blob, hi_blob = unframe(payload[2:], 2)
    lo, _ = decode_array(lo_blob)
    hi, _ = decode_array(hi_blob)
    raw = np.empty(2 * n, dtype=np.uint64)
    raw[0::2] = lo
    raw[1::2] = hi
    arr = pa.Array.from_buffers(
        pa.decimal128(precision, scale), n,
        [None, pa.py_buffer(raw.tobytes())])
    return arr, valid


def _primitive_np(values: pa.Array) -> np.ndarray:
    """Zero-copy numpy view of a no-null primitive arrow array.

    pa.Array.to_numpy on IPC-backed SLICED children (what mapInArrow over
    a parquet scan hands us after list.flatten()) falls off the fast path
    and costs ~1k values/ms; viewing the data buffer at the slice offset
    is a plain memcpy-free frombuffer (measured 300 ms → <1 ms per 400k
    values on the colocated encode)."""
    t = values.type
    if (pa.types.is_integer(t) or pa.types.is_floating(t)) \
            and values.null_count == 0:
        dt = np.dtype(t.to_pandas_dtype())
        buf = values.buffers()[1]
        return np.frombuffer(buf, dtype=dt, count=len(values),
                             offset=values.offset * dt.itemsize)
    return values.to_numpy(zero_copy_only=False)


def _encode_list(arr: pa.Array, codec: Codec | None, try_zstd: bool,
                 cache_key: str | None, plan: Plan | None) -> bytes:
    valid = None
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
    lengths = np.asarray(pc.fill_null(pc.list_value_length(arr), 0),
                         dtype=np.int64)
    values = arr.flatten()
    if values.null_count:
        raise ValueError("null list elements are not supported")
    values_np = _primitive_np(values)
    # lengths ride the full auto path (not the analytic-only nested
    # pick): a 10k-length block of a design-size chunk has ~8.9 bits of
    # entropy but a 13-bit packed width — the large-array audition lets
    # rANS/byte-planes compete for it (r6)
    lengths_blob = encode_array(
        lengths, try_zstd=True, plan=plan,
        cache_key=f"{cache_key}.lengths" if cache_key else None)
    values_blob = encode_array(
        values_np, codec=codec, try_zstd=try_zstd, plan=plan,
        cache_key=f"{cache_key}.values" if cache_key else None)
    return assemble(Codec.LIST, DType.LIST, len(arr),
                    frame(lengths_blob, values_blob), valid=valid,
                    try_zstd=False)


def _decode_list(blob: bytes) -> tuple[pa.Array, np.ndarray | None]:
    _codec, _dtype, n, valid, payload = disassemble(blob)
    blen, bvalues = unframe(payload, 2)
    lengths = _decode_int_blob(blen)
    values, _ = decode_array(bvalues)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    child = values if isinstance(values, pa.Array) else pa.array(values)
    arr = pa.LargeListArray.from_arrays(offsets, child)
    return arr, valid


# --------------------------------------------------------------------------
# public API
# --------------------------------------------------------------------------

def encode_array(values, valid: np.ndarray | None = None,
                 codec: Codec | None = None, try_zstd: bool = True,
                 cache_key: str | None = None,
                 plan: Plan | None = None) -> bytes:
    """Encode one column chunk into a self-describing blob.

    `codec` forces a codec. Otherwise the codec is `plan[cache_key]`
    (this column's entry in the run's encode plan, see `Plan`) when the
    chunk accepts it, else the chunk's own audition. The result depends
    only on the values and that entry — no state carries over from
    earlier calls."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    entry = plan.get(cache_key) if plan and cache_key else None
    if isinstance(values, pa.Array):
        t = values.type
        if not (pa.types.is_string(t) or pa.types.is_large_string(t)
                or pa.types.is_binary(t) or pa.types.is_large_binary(t)
                or pa.types.is_list(t) or pa.types.is_large_list(t)
                or pa.types.is_integer(t) or pa.types.is_floating(t)
                or pa.types.is_boolean(t)
                or (pa.types.is_decimal(t) and t.bit_width == 128)):
            # struct / map / decimal256 etc. would round-trip through
            # numpy object dtype back into the same arrow type → infinite
            # recursion. Fail like arrow_type_of_ddl does on decode.
            raise ValueError(f"unsupported type for codec pipeline: {t}")
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return _encode_string(values, DType.STR, codec, try_zstd, entry)
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return _encode_string(values, DType.BINARY, codec, try_zstd,
                                  entry)
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return _encode_list(values, codec, try_zstd, cache_key, plan)
        if pa.types.is_decimal(t):
            return _encode_decimal128(values, try_zstd)
        if values.null_count:
            valid = np.asarray(values.is_valid()) if valid is None else valid
            values = pc.fill_null(values, values.drop_null()[0]
                                  if len(values.drop_null()) else 0)
        values = _primitive_np(values)
    values = np.asarray(values)
    if values.dtype == np.dtype(object):
        return encode_array(pa.array(values), valid=valid, codec=codec,
                            try_zstd=try_zstd, cache_key=cache_key,
                            plan=plan)
    logical = values.dtype
    work_dtype = _WORK_VIEW.get(logical)
    work = values.view(work_dtype) if work_dtype is not None else values
    if valid is not None and not valid.all():
        work = work.copy()
        work[~valid] = work[valid][0] if valid.any() else 0
    else:
        valid = None
    dtype_code = DTYPE_OF_NUMPY[logical]
    if codec is not None:
        payload = _encode_int_payload(work, codec)
        if payload is None:
            payload = numeric.raw_encode(work)
            codec = Codec.RAW
        blob = assemble(codec, dtype_code, len(work), payload, valid=valid,
                        try_zstd=try_zstd)
        return blob
    n = len(work)
    picked = None
    if isinstance(entry, (bytes, bytearray)):
        # a shared rANS table applies at ANY size: side streams (list
        # lengths, n_tok) hold ~1k values per bench-geometry chunk, and
        # their profitable codec is a table the per-chunk pick below can
        # never discover. It declines on a chunk with too many values
        # outside the table's range.
        payload = _rans_shared_payload(work, register_shared_table(entry))
        if payload is not None:
            picked = assemble(Codec.RANS_SHARED, dtype_code, n, payload,
                              valid=valid, try_zstd=False)
    elif entry is not None and n >= (1 << 12):
        # other planned codecs keep the audition's size gate: a RANS pick
        # auditioned on a big sample must not be forced onto a tiny tail
        # chunk where its per-chunk table would dominate
        planned = Codec(entry)
        payload = _encode_int_payload(work, planned)
        if payload is not None:
            self_comp = planned in (Codec.BYTE_PLANES, Codec.RANS)
            picked = assemble(planned, dtype_code, n, payload,
                              valid=valid, try_zstd=not self_comp)
    if picked is None:
        # the chunk's own audition. Small chunks: analytic pick. Large
        # chunks: audition EVERY candidate (analytic top-2 + byte-planes +
        # rANS) on a contiguous window, then run the full data through the
        # winner only — one full-size encode pass instead of one per
        # challenger. Threshold 2^12 (r6, was 2^16): per-row scalar
        # columns of a 4M-token chunk hold ~10k values — below the old
        # bar, so n_tok-style columns never met rANS (entropy 8.9 bits)
        # and shipped bit-packed (13 bits).
        if try_zstd and n >= (1 << 12):
            picked = _encode_auto_large(work, dtype_code, valid)
        else:
            picked = _reheader(_encode_int_auto(work), dtype_code, valid,
                               try_zstd)
    if len(picked) * 2 < work.nbytes:
        return picked
    raw_guard = assemble(Codec.RAW, dtype_code, len(work),
                         numeric.raw_encode(work), valid=valid,
                         try_zstd=try_zstd)
    return min(picked, raw_guard, key=len)


def _audition_large(work: np.ndarray, dtype_code: DType,
                    counts: tuple[np.ndarray, np.ndarray]) -> list[Codec]:
    """Candidate codecs for a large integer array, cheapest first: by
    estimate from its value counts (_int_estimates), or by trial
    (_trial_order) when the array is structured or its two best
    estimates are within _ESTIMATE_MARGIN of each other."""
    est, top2, structured = _int_estimates(work, counts)
    order = [Codec(k) for _, k in sorted((v, int(k)) for k, v in est.items())]
    if structured or (len(order) > 1 and est[order[1]]
                      < est[order[0]] * (1 + _ESTIMATE_MARGIN)):
        return _trial_order(work, dtype_code, top2)
    return order


def _trial_order(work: np.ndarray, dtype_code: DType,
                 analytic: list[Codec]) -> list[Codec]:
    """Window audition: the two best analytic codecs, byte planes and
    rANS, cheapest trial size first."""
    sizes = _trial_sizes(work, dtype_code,
                         analytic + [Codec.BYTE_PLANES, Codec.RANS])
    return sorted(sizes, key=sizes.get)


def _trial_sizes(work: np.ndarray, dtype_code: DType,
                 codecs: list[Codec]) -> dict[Codec, float]:
    """Estimated full-size bytes of each codec that accepts a contiguous
    window of `work`, from encoding that window."""
    n = len(work)
    window = work[(n - _WINDOW_N) // 2:][:_WINDOW_N] if n > _WINDOW_N \
        else work
    wn = len(window)
    scale = n / wn
    sizes: dict[Codec, float] = {}
    for codec in codecs:
        wp = _encode_int_payload(window, codec)
        if wp is None:
            continue
        if codec == Codec.RANS:
            bf, bu, core = unframe(wp, 3)
            # tables don't scale with n — scale only the coded stream
            sizes[codec] = len(bf) + len(bu) + 12 + len(core) * scale
        elif codec == Codec.BYTE_PLANES:
            sizes[codec] = len(wp) * scale
        else:
            # analytic codecs go through the zstd cascade at full size —
            # audition the cascade on the window for a fair estimate
            sizes[codec] = len(assemble(codec, dtype_code, wn, wp,
                                        try_zstd=True)) * scale
    return sizes


def _encode_auto_large(work: np.ndarray, dtype_code: DType,
                       valid: np.ndarray | None) -> bytes:
    n = len(work)
    for codec in _audition_large(work, dtype_code, value_counts(work)):
        payload = _encode_int_payload(work, codec)
        if payload is not None:
            self_compressed = codec in (Codec.BYTE_PLANES, Codec.RANS)
            return assemble(codec, dtype_code, n, payload, valid=valid,
                            try_zstd=not self_compressed)
    return assemble(Codec.RAW, dtype_code, n, numeric.raw_encode(work),
                    valid=valid, try_zstd=True)


def pick_int_codec(values: np.ndarray) -> int | None:
    """Driver-side audition over a SAMPLE of a column's values: the
    winning codec's enum value (a plan entry), or None when the sample is
    too small to audition (the per-chunk analytic path handles those).
    Auditioning once on the driver spares every chunk the window
    audition — on a 1000-executor cluster it would otherwise run once
    per chunk."""
    values = np.asarray(values)
    if values.dtype == np.dtype(object) or len(values) < (1 << 16):
        return None
    work = _work(values)
    return _pick_int(values, work, value_counts(work))


def _work(values: np.ndarray) -> np.ndarray:
    work_dtype = _WORK_VIEW.get(values.dtype)
    return values.view(work_dtype) if work_dtype is not None else values


def _pick_int(values: np.ndarray, work: np.ndarray,
              counts: tuple[np.ndarray, np.ndarray]) -> int | None:
    order = _audition_large(work, DTYPE_OF_NUMPY[values.dtype], counts)
    return int(order[0]) if order else None


def int_plan_entry(values: np.ndarray,
                   side_stream: bool = False) -> int | bytes | None:
    """The plan entry of one integer or float stream from a sample of its
    values, or None: the pick_int_codec winner, the shared table
    (build_shared_table) in its place when rANS wins, and for a
    `side_stream` (list lengths, per-row scalars) shared_table_hint's
    table when nothing else became a table. All of it comes from one
    value count of the sample."""
    values = np.asarray(values)
    integer = np.issubdtype(values.dtype, np.integer)
    n = len(values)
    if values.dtype == np.dtype(object) \
            or n < (_SIDE_MIN_N if side_stream and integer else 1 << 16):
        return None
    work = _work(values)
    counts = value_counts(work)
    entry: int | bytes | None = None
    if n >= (1 << 16):
        entry = _pick_int(values, work, counts)
        if entry == Codec.RANS and integer:
            table = _shared_table(*counts, n)
            if table is not None:
                entry = table[0]
    if side_stream and integer and not isinstance(entry, bytes):
        entry = _shared_table_hint(values, *counts) or entry
    return entry


def pick_string_codec(arr: pa.Array) -> int | tuple | None:
    """Driver-side audition of a string/binary column SAMPLE: the plan
    entry that makes chunks skip their own audition — the winning codec's
    enum value, or for FSST the merge table built on the sample (chunks
    then never retrain one). None for an empty sample."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if len(arr) == 0:
        return None
    t = arr.type
    dtype_code = DType.BINARY if pa.types.is_binary(t) \
        or pa.types.is_large_binary(t) else DType.STR
    codec, _dc, _n, _v, payload = disassemble(
        _encode_string(arr, dtype_code, None, try_zstd=True))
    if codec == Codec.FSST:
        return strings.fsst_merges(unframe(payload, 2)[1])
    return int(codec)


def _reheader(blob: bytes, dtype_code: DType, valid: np.ndarray | None,
              try_zstd: bool) -> bytes:
    """Re-assemble an auto-encoded int blob with the logical dtype code,
    validity bitmap and zstd cascade applied at the top level."""
    codec, _dc, n, _v, payload = disassemble(blob)
    return assemble(codec, dtype_code, n, payload, valid=valid,
                    try_zstd=try_zstd)


def decode_array(blob: bytes):
    """-> (values, valid_mask | None); nulls are NOT applied to values."""
    codec, dtype_code, n, valid, _payload = disassemble(blob)
    if dtype_code in (DType.STR, DType.BINARY):
        return _decode_string(blob)
    if dtype_code == DType.LIST:
        return _decode_list(blob)
    if dtype_code == DType.DEC128:
        return _decode_decimal128(blob)
    work = _decode_int_blob(blob)
    logical = NUMPY_OF_DTYPE[dtype_code]
    if logical in _WORK_VIEW:
        work = work.astype(_WORK_VIEW[logical], copy=False).view(logical)
    return work, valid


def blob_codec(blob: bytes) -> str:
    """Codec name recorded in the chunk manifest (``+zstd`` marks cascade)."""
    from .format import FLAG_ZSTD, unpack_header
    codec, _dtype, flags, _n = unpack_header(blob)
    name = codec.name.lower()
    return f"{name}+zstd" if flags & FLAG_ZSTD else name
