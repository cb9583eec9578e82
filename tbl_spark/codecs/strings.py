"""String/binary codec payload kernels.

Corpus model: a string column chunk is (offsets: int64[n+1], corpus: bytes).
Codecs here compress the corpus; offsets are delta+FOR encoded by the core
dispatcher as a nested blob.

FSST here is an FSST-style symbol-table codec (inspired by Boncz, Neumann,
Leis — "FSST: Fast Random Access String Compression", VLDB 2020 — public
knowledge): a table of multi-byte symbols is substituted by single code
bytes. We construct the table by greedy pair merging (BPE-style) restricted
to byte values absent from the corpus, which removes the need for an escape
byte and makes both directions pure C-speed ``bytes.replace`` calls — no
per-row Python. Merges chain, so effective symbols grow beyond 2 bytes.
"""

from __future__ import annotations

import struct

import numpy as np

MAX_MERGES = 255
_MIN_PAIR_COUNT = 8  # a merge must save at least this many bytes on the sample
_SAMPLE_CAP = 1 << 20


def _used_bytes(corpus: bytes) -> np.ndarray:
    """Per-byte-value occurrence mask of `corpus` (bool[256])."""
    return np.bincount(np.frombuffer(corpus, dtype=np.uint8),
                       minlength=256) > 0


def build_merges(corpus: bytes, max_merges: int = MAX_MERGES,
                 sample_cap: int = _SAMPLE_CAP) -> list[tuple[int, int, int]]:
    """Greedy pair-merge table: [(code, left, right), ...] applied in order.

    Free code bytes are computed over the FULL corpus (so replacing them is
    unambiguous), while frequency counting runs on a bounded prefix sample.
    """
    if len(corpus) < 64:
        return []
    used = _used_bytes(corpus)
    free = [b for b in range(255, -1, -1) if not used[b]]
    buf = corpus[:sample_cap]
    merges: list[tuple[int, int, int]] = []
    # early stop: a merge must keep shrinking the sample by a meaningful
    # fraction — each round costs a full replace pass at apply time
    min_gain = max(_MIN_PAIR_COUNT, len(buf) // 512)
    while free and len(merges) < max_merges and len(buf) > 16:
        a = np.frombuffer(buf, dtype=np.uint8)
        pairs = (a[:-1].astype(np.uint16) << 8) | a[1:]
        counts = np.bincount(pairs, minlength=1 << 16)
        best = int(counts.argmax())
        if counts[best] < min_gain:
            break
        left, right = best >> 8, best & 0xFF
        code = free.pop()
        buf = buf.replace(bytes((left, right)), bytes((code,)))
        merges.append((code, left, right))
    return merges


def apply_merges(corpus: bytes, merges: list[tuple[int, int, int]]) -> bytes:
    for code, left, right in merges:
        corpus = corpus.replace(bytes((left, right)), bytes((code,)))
    return corpus


def invert_merges(corpus: bytes, merges: list[tuple[int, int, int]]) -> bytes:
    for code, left, right in reversed(merges):
        corpus = corpus.replace(bytes((code,)), bytes((left, right)))
    return corpus


def fsst_encode(corpus: bytes,
                merges: tuple | list | None = None) -> bytes | None:
    """payload: u16 n_merges + 3*n_merges merge triples + encoded corpus,
    or None when FSST does not shrink the corpus.

    `merges` is a table built on a sample of the same column (an encode
    plan entry): it skips the build rounds, and the encode declines when
    one of its code bytes occurs in `corpus` (replacing it would not be
    reversible). Without it the table is built from `corpus` itself."""
    if merges is None:
        merges = build_merges(corpus)
    elif _used_bytes(corpus)[[code for code, _l, _r in merges]].any():
        return None
    if not merges:
        return None
    enc = apply_merges(corpus, merges)
    if len(enc) + 2 + 3 * len(merges) >= len(corpus):
        return None
    table = b"".join(bytes(m) for m in merges)
    return struct.pack("<H", len(merges)) + table + enc


def fsst_merges(payload: bytes) -> tuple[tuple[int, int, int], ...]:
    """The merge table an FSST payload was encoded with."""
    (n_merges,) = struct.unpack_from("<H", payload, 0)
    return tuple(tuple(payload[2 + 3 * i: 5 + 3 * i])
                 for i in range(n_merges))


def fsst_decode(payload: bytes) -> bytes:
    merges = fsst_merges(payload)
    return invert_merges(payload[2 + 3 * len(merges):], merges)
