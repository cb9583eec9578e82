"""Vectorized interleaved rANS entropy coder (numpy, no per-row Python).

Order-0 entropy coding of small-alphabet integer streams — the piece that
closes the gap between bit-packing (ceil(log2(range)) bits/value) and the
distribution's actual entropy (~8.9 bits for Zipf token ids vs 16 for
bit-pack). Public-knowledge algorithm: Duda, "Asymmetric numeral systems"
(arXiv:1311.2540); 64-bit state / 32-bit renormalization layout after
F. Giesen's public ryg_rans. The twist here is LANE PARALLELISM: L
independent rANS states interleave the stream (lane j codes positions
j, j+L, j+2L, …), so every state update is a numpy vector op over L lanes
and the Python loop runs only ceil(n/L) times.

Layout (payload, after the standard blob header):
    u32 n_lanes | u32 K (alphabet) | u64 stream_bytes
    | framed: freq_blob (quantized counts, nested int blob)
    |         uniques_blob (alphabet values, nested int blob)
    | states (n_lanes × u64 LE)
    | stream (u32 LE words)

Encode walks positions in reverse (rANS is LIFO), emitting per-step
renormalization words for lanes in ascending order; whole steps are
concatenated in reverse at the end, so the decoder — which walks forward —
reads the stream strictly sequentially.
"""

from __future__ import annotations

import struct

import numpy as np

PROB_BITS = 20               # keeps the min-slot tax tiny for ~50k vocabs
M = 1 << PROB_BITS           # total of quantized frequencies
RANS_L = np.uint64(1 << 31)  # lower bound of the state interval
MAX_ALPHABET = M // 2        # guarantee ≥ M/2 slots distribute by freq
MAX_LANES = 4096             # the most lanes any encoder here has written


def quantize_freqs(counts: np.ndarray) -> np.ndarray:
    """Counts → freqs summing EXACTLY to M, every nonzero symbol ≥ 1 slot.

    Every symbol gets its guaranteed slot first; the remaining M-K slots
    are split proportionally to counts with largest-remainder rounding —
    never reducing a frequent symbol to make room (naive round-then-fix
    schemes do exactly that and wreck the cross-entropy)."""
    n = int(counts.sum())
    K = len(counts)
    extra = M - K
    share = counts * (extra / n)
    add = np.floor(share).astype(np.int64)
    f = 1 + add
    diff = M - int(f.sum())  # 0 ≤ diff ≤ K (floor losses)
    if diff:
        rem = share - add
        f[np.argsort(-rem)[:diff]] += 1
    return f


def lane_count(n: int, n_lanes: int = 4096) -> int:
    """The lanes `encode` gives `n` values (see the comment there)."""
    return max(8, min(n_lanes, 1 << max(3, (n // 384).bit_length() - 1),
                      1024))


def encode(codes: np.ndarray, K: int, n_lanes: int = 4096,
           freqs: np.ndarray | None = None
           ) -> tuple[bytes, np.ndarray] | None:
    """codes: int64 array of symbols in [0, K). Returns (payload_core,
    freqs) or None when ineligible. payload_core excludes the freq/unique
    tables (the caller frames those).

    `freqs`: an externally-fixed quantized table (len K, every slot ≥ 1,
    sums to M) — the shared-dictionary-page path (RANS_SHARED): many
    chunks encode against ONE table stored once, so the per-chunk table
    cost disappears. The caller owns table validity; every symbol that
    appears in `codes` must have freq ≥ 1 (a Laplace-smoothed dense
    table guarantees this for any in-range symbol)."""
    n = len(codes)
    if n == 0 or K > MAX_ALPHABET or K < 2:
        return None
    # Lanes: about one per 384 values, a power of two in [8, n_lanes],
    # never above 1024. A decode step costs ~20 µs of fixed interpreter
    # work plus ~0.08 µs per lane, so lanes pay until ~256; each lane's
    # final state still costs ~5 B. The floor of 8 keeps small side
    # streams (list lengths, n_tok: 1-2k values) from paying a large
    # state block. The lane count is in the core header, so any count
    # decodes under any lane rule.
    L = lane_count(n, n_lanes)
    if freqs is None:
        counts = np.bincount(codes, minlength=K)
        f = quantize_freqs(counts)
    else:
        f = np.asarray(freqs, dtype=np.int64)
        if len(f) != K:
            raise ValueError("fixed freqs length != K")
    cum = np.zeros(K + 1, dtype=np.int64)
    np.cumsum(f, out=cum[1:])

    f_u = f.astype(np.uint64)
    cum_u = cum.astype(np.uint64)
    T = -(-n // L)
    x = np.full(L, RANS_L, dtype=np.uint64)
    step_words: list[np.ndarray] = []
    emit_threshold_base = np.uint64((int(RANS_L) >> PROB_BITS) << 32)
    # hoist the per-symbol gathers out of the step loop: gather freq /
    # cumfreq / renorm-threshold for a BLOCK of steps at once, then run
    # the inner loop on contiguous L-wide views — a gather + three
    # np.where per step become 3 gathers per ~8k values and every
    # step's op count drops ~2x. Blocked (not whole-array) on purpose:
    # the block stays L2-resident between gather and use, so the 24
    # B/value of precompute never round-trips DRAM — a whole-array
    # precompute would tax exactly the shared memory bus that bounds
    # the 32-way distributed encode. The one PARTIAL step (the array
    # tail, t = T-1, encoded FIRST because rANS is LIFO) is the only
    # one that needs masking, so it is peeled off and all full steps
    # run unmasked. Output is bit-identical to the masked formulation
    # (same emit decisions, same ascending-lane order inside a step).
    shift32 = np.uint64(32)
    shift_pb = np.uint64(PROB_BITS)
    tail = n - (T - 1) * L
    if tail:  # partial step (tail < L); lanes >= tail stay untouched
        base = (T - 1) * L
        sym = codes[base:]
        fs = f_u[sym]
        xa = x[:tail]
        emit = xa >= emit_threshold_base * fs
        if emit.any():
            step_words.append(xa[emit].astype(np.uint32))
            xa[emit] >>= shift32
        q, r = np.divmod(xa, fs)
        x[:tail] = (q << shift_pb) + r + cum_u[sym]
    steps_per_block = max(1, 8192 // L)
    for t_hi in range(T - 2, -1, -steps_per_block):
        t_lo = max(0, t_hi - steps_per_block + 1)
        blk = codes[t_lo * L:(t_hi + 1) * L]
        fs_blk = f_u[blk]
        cs_blk = cum_u[blk]
        thr_blk = emit_threshold_base * fs_blk
        for t in range(t_hi, t_lo - 1, -1):
            base = (t - t_lo) * L
            fs = fs_blk[base:base + L]
            emit = x >= thr_blk[base:base + L]
            if emit.any():
                step_words.append(x[emit].astype(np.uint32))
                x[emit] >>= shift32
            q, r = np.divmod(x, fs)
            x = (q << shift_pb) + r + cs_blk[base:base + L]
    stream = (np.concatenate(step_words[::-1])
              if step_words else np.empty(0, dtype=np.uint32))
    core = (struct.pack("<IIQ", L, K, stream.nbytes)
            + x.tobytes() + stream.tobytes())
    return core, f


def decode(core: bytes, n: int, freqs: np.ndarray,
           slot: np.ndarray | None = None) -> np.ndarray:
    """Inverse of encode(); returns int64 codes of length n.

    `slot`: optional precomputed symbol-lookup table (M int32 entries =
    np.repeat(arange(K), freqs)) — shared-table decodes pass a cached one
    so the 4 MB repeat isn't rebuilt per chunk.

    Raises ValueError("corrupt rANS core …") on a lane count outside
    [1, MAX_LANES], a stream that ends before the symbols do, or words
    left over at the end: every valid stream is consumed exactly."""
    L, K, stream_bytes = struct.unpack_from("<IIQ", core, 0)
    off = 16
    if not 1 <= L <= MAX_LANES:
        raise ValueError(f"corrupt rANS core: {L} lanes")
    if stream_bytes % 4 or off + 8 * L + stream_bytes > len(core):
        raise ValueError(f"corrupt rANS core: {stream_bytes} stream bytes "
                         f"after {L} lanes in a {len(core)} B core")
    x = np.frombuffer(core, dtype=np.uint64, count=L, offset=off).copy()
    off += 8 * L
    stream = np.frombuffer(core, dtype=np.uint32,
                           count=stream_bytes // 4, offset=off)
    stream = stream.astype(np.uint64)
    n_words = len(stream)
    f = freqs.astype(np.int64)
    cum = np.zeros(K + 1, dtype=np.int64)
    np.cumsum(f, out=cum[1:])
    if slot is None:
        slot = np.repeat(np.arange(K, dtype=np.int32), f)  # M entries, 4 MB
    f_u = f.astype(np.uint64)
    cum_u = cum.astype(np.uint64)

    out = np.empty(n, dtype=np.int64)
    mask_m = np.uint64(M - 1)
    shift32 = np.uint64(32)
    shift_pb = np.uint64(PROB_BITS)
    T = -(-n // L)
    ptr = 0
    # mirror of the encode loop structure: T-1 unmasked full steps over
    # contiguous L-wide slices, then the one partial tail step (decode
    # walks FORWARD, so the tail comes last); renormalization refills
    # in place instead of copying the state vector every step
    for t in range(T - 1):
        base = t * L
        d = x & mask_m
        s = slot[d]
        out[base:base + L] = s
        x = f_u[s] * (x >> shift_pb) + d - cum_u[s]
        low = np.flatnonzero(x < RANS_L)
        if len(low):
            end = ptr + len(low)
            if end > n_words:
                raise ValueError("corrupt rANS core: stream ends early")
            x[low] = (x[low] << shift32) | stream[ptr:end]
            ptr = end
    tail = n - (T - 1) * L
    if tail:
        xa = x[:tail]
        d = xa & mask_m
        s = slot[d]
        out[(T - 1) * L:] = s
        # these are the first symbols the encoder coded, from states of
        # RANS_L, so a valid stream needs no words here; count what a
        # renormalization would read so a bad stream fails the check below
        xa = f_u[s] * (xa >> shift_pb) + d - cum_u[s]
        ptr += int(np.count_nonzero(xa < RANS_L))
    if ptr > n_words:
        raise ValueError("corrupt rANS core: stream ends early")
    if ptr < n_words:
        raise ValueError(f"corrupt rANS core: {n_words - ptr} stream "
                         f"words left over")
    return out
