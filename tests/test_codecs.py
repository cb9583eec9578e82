"""Kernel-level codec roundtrip tests (no Spark) — SURVEY.md §5.2.

Every codec must satisfy decode(encode(x)) == x bit-identically on
adversarial inputs (FIXTURES.md §2 `codec_vectors`).
"""

import numpy as np
import pyarrow as pa
import pytest

from tbl_spark.codecs import Codec, decode_array, encode_array
from tbl_spark.codecs import bitpack
from tbl_spark.codecs import strings as fsst

RNG = np.random.default_rng(42)

INT_VECTORS = {
    "empty": np.array([], dtype=np.int32),
    "single": np.array([7], dtype=np.int32),
    "const": np.full(1000, 42, dtype=np.int32),
    "alternating": np.tile(np.array([3, -9], dtype=np.int32), 500),
    "uniform_random": RNG.integers(-2**31, 2**31, 10_000).astype(np.int32),
    "sorted_small_deltas": np.cumsum(
        RNG.integers(0, 5, 10_000)).astype(np.int32),
    "extremes": np.array([-2**31, 0, 2**31 - 1, 1, -1], dtype=np.int32),
    "zipf_tokens": np.minimum(RNG.zipf(1.2, 20_000), 50_256).astype(np.int32),
    "long_runs": np.repeat(
        RNG.integers(0, 10, 50).astype(np.int32), RNG.integers(1, 400, 50)),
    "i64_extremes": np.array([-2**63, 2**63 - 1, 0, 5], dtype=np.int64),
    "u64_big": np.array([0, 2**64 - 1, 2**63, 17], dtype=np.uint64),
    "f64_random": RNG.normal(size=5000),
    "f64_with_nan": np.array([1.5, np.nan, -0.0, 0.0, np.inf, -np.inf]),
    "f32_lowcard": RNG.choice(
        np.array([0.1, 2.5, -3.75], dtype=np.float32), 5000),
    "bool": RNG.integers(0, 2, 3000).astype(bool),
    "u8": RNG.integers(0, 256, 3000).astype(np.uint8),
    "i16": RNG.integers(-2**15, 2**15, 3000).astype(np.int16),
}


@pytest.mark.parametrize("name", list(INT_VECTORS))
def test_numeric_auto_roundtrip(name):
    v = INT_VECTORS[name]
    blob = encode_array(v)
    out, valid = decode_array(blob)
    assert valid is None
    assert out.dtype == v.dtype
    np.testing.assert_array_equal(
        np.asarray(out).view(np.uint8), v.view(np.uint8))  # bit-identical


@pytest.mark.parametrize("codec", [Codec.RAW, Codec.FOR_BITPACK,
                                   Codec.DELTA_FOR, Codec.RLE, Codec.DICT])
@pytest.mark.parametrize("name", ["alternating", "sorted_small_deltas",
                                  "zipf_tokens", "long_runs"])
def test_numeric_forced_codec_roundtrip(codec, name):
    v = INT_VECTORS[name]
    blob = encode_array(v, codec=codec)
    out, _ = decode_array(blob)
    np.testing.assert_array_equal(out, v)


def test_nulls_roundtrip():
    v = RNG.integers(0, 100, 1000).astype(np.int32)
    valid = RNG.random(1000) > 0.3
    blob = encode_array(v * valid, valid=valid)
    out, mask = decode_array(blob)
    np.testing.assert_array_equal(mask, valid)
    np.testing.assert_array_equal(out[valid], (v * valid)[valid])


def test_bitpack_roundtrip():
    for width in [0, 1, 3, 7, 8, 13, 31, 33, 64]:
        hi = 2**width - 1 if width else 0
        v = RNG.integers(0, hi + 1, 777, dtype=np.uint64) if width else \
            np.zeros(777, dtype=np.uint64)
        buf = bitpack.pack(v, width)
        np.testing.assert_array_equal(bitpack.unpack(buf, 777, width), v)


STR_VECTORS = {
    "ids": [f"cc-news-{i:012d}" for i in range(2000)],
    "lowcard": ["web", "books", "arxiv"] * 700,
    "empty_and_unicode": ["", "a", "日本語テキスト", "x" * 500, ""] * 50,
    "with_nulls": ["alpha", None, "beta", None, "gamma"] * 100,
    "single_null": [None],
    "empty_col": [],
}


@pytest.mark.parametrize("name", list(STR_VECTORS))
def test_string_auto_roundtrip(name):
    v = STR_VECTORS[name]
    blob = encode_array(pa.array(v, type=pa.string()))
    out, valid = decode_array(blob)
    expect = ["" if x is None else x for x in v]
    assert out.to_pylist() == expect
    if any(x is None for x in v):
        assert [bool(b) for b in valid] == [x is not None for x in v]


@pytest.mark.parametrize("codec", [Codec.STR_RAW, Codec.STR_DICT, Codec.FSST])
def test_string_forced_codec_roundtrip(codec):
    v = STR_VECTORS["ids"]
    blob = encode_array(pa.array(v), codec=codec)
    out, _ = decode_array(blob)
    assert out.to_pylist() == v


def test_binary_roundtrip():
    v = [bytes(RNG.integers(0, 256, int(n)).astype(np.uint8))
         for n in RNG.integers(0, 64, 300)]
    blob = encode_array(pa.array(v, type=pa.binary()))
    out, _ = decode_array(blob)
    assert out.to_pylist() == v


def test_fsst_kernel_roundtrip():
    corpus = ("the quick brown fox " * 500).encode()
    payload = fsst.fsst_encode(corpus)
    assert payload is not None and len(payload) < len(corpus) // 2
    assert fsst.fsst_decode(payload) == corpus


def test_fsst_incompressible_declines():
    corpus = bytes(RNG.integers(0, 256, 4096).astype(np.uint8))
    assert fsst.fsst_encode(corpus) is None  # no free bytes / no gain


def test_list_roundtrip_tokens():
    arrs = [RNG.integers(0, 50_257, int(n)).astype(np.int32)
            for n in RNG.integers(1, 200, 500)]
    arrs[3] = np.array([7] * 150, dtype=np.int32)       # RLE best case
    arrs[5] = np.arange(180, dtype=np.int32)            # delta best case
    arrs[7] = np.array([0, 2**31 - 1], dtype=np.int32)  # extremes
    la = pa.array(arrs, type=pa.list_(pa.int32()))
    blob = encode_array(la)
    out, valid = decode_array(blob)
    assert valid is None
    flat_in = np.concatenate(arrs)
    np.testing.assert_array_equal(
        np.asarray(out.flatten(), dtype=np.int32), flat_in)
    np.testing.assert_array_equal(
        np.asarray(out.value_lengths()), [len(a) for a in arrs])


def test_list_roundtrip_embeddings():
    arrs = [RNG.normal(size=64).astype(np.float32) for _ in range(200)]
    la = pa.array(arrs, type=pa.list_(pa.float32()))
    out, _ = decode_array(encode_array(la))
    np.testing.assert_array_equal(
        np.asarray(out.flatten(), dtype=np.float32), np.concatenate(arrs))


def test_list_with_null_rows():
    la = pa.array([[1, 2], None, [3]], type=pa.list_(pa.int32()))
    out, valid = decode_array(encode_array(la))
    assert list(valid) == [True, False, True]
    assert np.asarray(out.value_lengths()).tolist() == [2, 0, 1]


def test_compression_beats_raw_on_compressible():
    v = INT_VECTORS["zipf_tokens"]
    blob = encode_array(v)
    assert len(blob) < v.nbytes / 2
    runs = INT_VECTORS["long_runs"]
    assert len(encode_array(runs)) < runs.nbytes / 10
    ids = encode_array(pa.array(STR_VECTORS["ids"]))
    raw = sum(len(s) for s in STR_VECTORS["ids"])
    assert len(ids) < raw / 2


@pytest.mark.parametrize("codec", [Codec.BYTE_PLANES, Codec.RANS])
@pytest.mark.parametrize("name", ["zipf_tokens", "long_runs",
                                  "sorted_small_deltas", "u8", "i16"])
def test_forced_planes_rans_roundtrip(codec, name):
    v = INT_VECTORS[name]
    blob = encode_array(v, codec=codec)
    out, _ = decode_array(blob)
    np.testing.assert_array_equal(out, v)
    assert out.dtype == v.dtype


def test_rans_quantize_freqs_exact_sum():
    from tbl_spark.codecs.rans import M, quantize_freqs
    for counts in [np.array([1, 1]), np.array([10**9, 1, 1]),
                   np.ones(500_000 // 2, dtype=np.int64),
                   RNG.integers(1, 1000, 30_000)]:
        f = quantize_freqs(np.asarray(counts, dtype=np.int64))
        assert int(f.sum()) == M and (f >= 1).all()


def test_rans_near_entropy_on_zipf():
    v = INT_VECTORS["zipf_tokens"]
    blob = encode_array(v, codec=Codec.RANS)
    counts = np.bincount(v)
    p = counts[counts > 0] / len(v)
    entropy_bytes = float(-(p * np.log2(p)).sum() / 8) * len(v)
    assert len(blob) < 1.35 * entropy_bytes  # tables+states overhead bound


_WORDS = ("furiously carefully quickly slyly blithely final regular "
          "express special pending bold even silent unusual ideas foxes "
          "deposits requests").split()


def _free_text(n: int, seed: int, type=pa.string()) -> pa.Array:
    """Comment-like free text (lineitem's l_comment shape): FSST wins."""
    rng = np.random.default_rng(seed)
    return pa.array([" ".join(_WORDS[j] for j in
                              rng.integers(0, len(_WORDS), 5))
                     for _ in range(n)], type)


def test_string_cache_reuse_and_invalidation():
    """A planned FSST merge table is checked per chunk: a chunk that uses
    one of its code bytes declines it and auditions its own codec.
    Round-trips stay exact and the plan is never changed."""
    from tbl_spark.codecs.core import blob_codec, pick_string_codec
    from tbl_spark.codecs.format import disassemble, unframe
    from tbl_spark.codecs.strings import fsst_merges
    merges = pick_string_codec(_free_text(1024, seed=1, type=pa.binary()))
    assert isinstance(merges, tuple) and merges
    plan = {"note": merges}
    chunk = _free_text(3000, seed=2, type=pa.binary())
    first = encode_array(chunk, cache_key="note", plan=plan)
    assert blob_codec(first).startswith("fsst")
    assert fsst_merges(unframe(disassemble(first)[4], 2)[1]) == merges
    # adversarial: a corpus holding every byte value leaves no code free
    all_bytes = pa.array([bytes(range(256)) + b"%d" % i
                          for i in range(500)], pa.binary())
    for v in (chunk, all_bytes):
        out, _ = decode_array(encode_array(v, cache_key="note", plan=plan))
        assert out.to_pylist() == v.to_pylist()
    assert encode_array(chunk, cache_key="note", plan=plan) == first
    assert plan == {"note": merges}


def test_numeric_cache_roundtrip_across_chunks():
    """Chunks of one column encode under the planned codec and round-trip
    exactly."""
    from tbl_spark.codecs.core import pick_int_codec
    from tbl_spark.codecs.format import unpack_header
    rng = np.random.default_rng(5)

    def tokens(n):
        return np.minimum(rng.zipf(1.2, n), 50_256).astype(np.int32)

    codec = pick_int_codec(tokens(400_000))
    plan = {"tok": codec}
    for i in range(4):
        v = tokens(80_000)
        blob = encode_array(v, cache_key="tok", plan=plan)
        assert unpack_header(blob)[0] == Codec(codec)
        out, _ = decode_array(blob)
        np.testing.assert_array_equal(out, v)
    assert plan == {"tok": codec}


@pytest.mark.parametrize("planned", [False, True])
def test_chunk_bytes_independent_of_earlier_encodes(planned):
    """The same chunk encodes to the same bytes fresh, after a different
    chunk of the column, and after a different dataset with the same
    column name — with and without a plan. Before plans, a worker-global
    cache reused the first chunk's FSST merge table for later chunks, so
    a free-text chunk's bytes depended on what its Python worker had
    encoded before."""
    chunk, other = _free_text(3125, seed=11), _free_text(3125, seed=12)
    ids = pa.array([f"o-{i:09d}" for i in range(3125)])
    sample = _free_text(1024, seed=10)

    def encode(arr, key, sample=sample):
        kw = {}
        if planned:
            from tbl_spark.codecs.core import pick_string_codec
            kw["plan"] = {key: pick_string_codec(sample)}
        return encode_array(arr, cache_key=key, **kw)

    fresh = encode(chunk, "l_comment.fresh")
    encode(other, "l_comment.after_chunk")
    assert encode(chunk, "l_comment.after_chunk") == fresh
    # another dataset reusing the column name, under its own plan
    encode(ids, "l_comment.after_dataset", sample=ids)
    assert encode(chunk, "l_comment.after_dataset") == fresh
    out, _ = decode_array(fresh)
    assert out.to_pylist() == chunk.to_pylist()


def test_delta_nested_sorted_with_outlier():
    """DELTA_FOR's blind spot: sorted values with one huge jump (a token
    vocab with an int32-max sentinel) ruin the delta bit-width, but the
    delta VALUES dict/RLE to a few bits — DELTA_NESTED must win and
    roundtrip exactly."""
    import numpy as np
    from tbl_spark.codecs import decode_array, encode_array
    from tbl_spark.codecs.format import Codec, disassemble

    u = np.unique(np.concatenate(
        [np.arange(0, 50257), [2147483647]])).astype(np.int32)
    blob = encode_array(u)
    assert Codec(disassemble(blob)[0]) == Codec.DELTA_NESTED
    assert len(blob) < 1000                 # was ~122 KB as RAW
    out, _ = decode_array(blob)
    assert (np.asarray(out) == u).all()
    # negative deltas + int64 + duplicates also roundtrip
    v = np.array([-5, -5, 0, 3, 3, 2**40, 2**40 + 1], np.int64)
    out2, _ = decode_array(encode_array(v))
    assert (np.asarray(out2) == v).all()


def test_rans_decode_rejects_corrupt_core():
    """A damaged rANS core raises ValueError("corrupt rANS core …"):
    a lane count of 0 (once a ZeroDivisionError) or above the maximum, a
    stream that ends before the symbols do, and words left over."""
    import struct

    from tbl_spark.codecs import rans

    rng = np.random.default_rng(3)
    codes = rng.integers(0, 300, 20_000).astype(np.int64)
    core, freqs = rans.encode(codes, 300, n_lanes=256)
    L, K, stream_bytes = struct.unpack_from("<IIQ", core, 0)
    assert L == 32 and stream_bytes > 8
    np.testing.assert_array_equal(rans.decode(core, len(codes), freqs),
                                  codes)
    body = core[16:]
    bad = {
        "zero lanes": struct.pack("<IIQ", 0, K, stream_bytes) + body,
        "too many lanes": struct.pack("<IIQ", rans.MAX_LANES + 1, K,
                                      stream_bytes) + body,
        "stream ends early": struct.pack("<IIQ", L, K, stream_bytes - 8)
        + body,
        "words left over": struct.pack("<IIQ", L, K, stream_bytes + 4)
        + body + b"\0\0\0\0",
    }
    for name, blob in bad.items():
        with pytest.raises(ValueError, match="corrupt rANS core"):
            rans.decode(blob, len(codes), freqs)
