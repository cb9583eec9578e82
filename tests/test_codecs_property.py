"""Property-based codec roundtrip tests (hypothesis): any int array, any
dtype, any null mask — decode(encode(x)) must be bit-identical."""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from tbl_spark.codecs import decode_array, encode_array

DTYPES = [np.int8, np.int16, np.int32, np.int64,
          np.uint8, np.uint16, np.uint32, np.uint64]


@st.composite
def int_arrays(draw):
    dtype = np.dtype(draw(st.sampled_from(DTYPES)))
    info = np.iinfo(dtype)
    n = draw(st.integers(0, 300))
    shape = draw(st.sampled_from(["random", "runs", "sorted", "const"]))
    rng = np.random.default_rng(draw(st.integers(0, 2**31)))
    if shape == "const" and n:
        v = np.full(n, draw(st.integers(info.min, info.max)), dtype=dtype)
    elif shape == "runs" and n:
        k = max(1, n // 10)
        vals = rng.integers(info.min, info.max, k, dtype=dtype,
                            endpoint=True)
        v = np.repeat(vals, rng.integers(1, 20, k))[:n]
    elif shape == "sorted" and n:
        v = np.sort(rng.integers(info.min, info.max, n, dtype=dtype,
                                 endpoint=True))
    else:
        v = rng.integers(info.min, info.max, n, dtype=dtype, endpoint=True)
    return v


@given(int_arrays())
@settings(max_examples=120, deadline=None)
def test_int_roundtrip_bit_identical(v):
    out, valid = decode_array(encode_array(v))
    assert valid is None
    assert out.dtype == v.dtype
    np.testing.assert_array_equal(out, v)


@given(int_arrays(), st.integers(0, 2**31))
@settings(max_examples=60, deadline=None)
def test_int_roundtrip_with_nulls(v, seed):
    if len(v) == 0:
        return
    valid = np.random.default_rng(seed).random(len(v)) > 0.4
    out, mask = decode_array(encode_array(v, valid=valid))
    if valid.all():
        assert mask is None
    else:
        np.testing.assert_array_equal(mask, valid)
    np.testing.assert_array_equal(out[valid], v[valid])


@given(st.lists(st.one_of(st.none(), st.text(max_size=40)), max_size=120))
@settings(max_examples=80, deadline=None)
def test_string_roundtrip(strings):
    arr = pa.array(strings, type=pa.string())
    out, valid = decode_array(encode_array(arr))
    expect = ["" if s is None else s for s in strings]
    assert out.to_pylist() == expect
    if valid is not None:
        assert [bool(b) for b in valid] == [s is not None for s in strings]


@given(st.lists(st.lists(st.integers(-2**31, 2**31 - 1), max_size=50),
                max_size=60))
@settings(max_examples=60, deadline=None)
def test_token_list_roundtrip(lists):
    arr = pa.array(lists, type=pa.list_(pa.int32()))
    out, valid = decode_array(encode_array(arr))
    assert valid is None
    assert [list(x) for x in out.to_pylist()] == lists


@given(st.lists(st.floats(allow_nan=True, width=32), max_size=200))
@settings(max_examples=60, deadline=None)
def test_float_roundtrip_bit_identical(floats):
    v = np.array(floats, dtype=np.float32)
    out, _ = decode_array(encode_array(v))
    np.testing.assert_array_equal(out.view(np.uint32), v.view(np.uint32))


@given(st.lists(st.integers(-2**31, 2**31 - 1), min_size=1, max_size=300),
       st.integers(0, 50), st.integers(0, 50))
@settings(max_examples=80, deadline=None)
def test_primitive_np_view_matches_to_numpy_on_slices(vals, lo, hi):
    """The frombuffer fast path must agree with to_numpy for every slice
    offset/length (sliced IPC children are what mapInArrow hands us)."""
    from tbl_spark.codecs.core import _primitive_np
    arr = pa.array(vals, type=pa.int32())
    lo = min(lo, len(arr))
    length = max(0, min(len(arr) - lo, len(arr) - hi))
    sl = arr.slice(lo, length)
    np.testing.assert_array_equal(
        _primitive_np(sl), sl.to_numpy(zero_copy_only=False))


@given(st.lists(st.integers(1, 40), min_size=1, max_size=30),
       st.integers(10, 200))
@settings(max_examples=60, deadline=None)
def test_colocated_cutter_partitions_stream_exactly(batch_rows, budget):
    """cut_colocated_chunks must emit every input row exactly once, in
    order, with unique part ids, regardless of batch boundaries/budget."""
    from tbl_spark.encode import BLOCK_HELPER, FILE_HELPER, \
        cut_colocated_chunks
    batches, next_id = [], 0
    for n in batch_rows:
        ids = list(range(next_id, next_id + n))
        next_id += n
        batches.append(pa.RecordBatch.from_pydict({
            "row_id": pa.array(ids, type=pa.int64()),
            FILE_HELPER: pa.array(["f"] * n),
            BLOCK_HELPER: pa.array([0] * n, type=pa.int64())}))
    out_ids, pids = [], []
    for pid, tbl in cut_colocated_chunks(batches, budget, has_tok=False,
                                         token_col="tokens"):
        assert set(tbl.column_names) == {"row_id"}
        out_ids += tbl.column("row_id").to_pylist()
        pids.append(pid)
    assert out_ids == list(range(next_id))
    assert len(pids) == len(set(pids))


@given(st.lists(st.one_of(
    st.none(), st.integers(-(2**95), 2**95 - 1)), max_size=80))
@settings(max_examples=60, deadline=None)
def test_decimal128_roundtrip_property(ints):
    import decimal
    arr = pa.array([decimal.Decimal(v) if v is not None else None
                    for v in ints], type=pa.decimal128(38, 0))
    from tbl_spark.codecs import decode_array, encode_array
    out, valid = decode_array(encode_array(arr))
    got = out.to_pylist()
    for i, v in enumerate(ints):
        if v is None:
            assert valid is not None and not valid[i]
        else:
            assert got[i] == decimal.Decimal(v)


@given(
    prefixes=st.lists(
        st.text(alphabet=st.characters(blacklist_categories=("Cs",),
                                       max_codepoint=0x2FF),
                max_size=8),
        min_size=1, max_size=5),
    picks=st.lists(st.tuples(st.integers(0, 4),
                             st.integers(0, 10**17),
                             st.integers(1, 18)),
                   min_size=1, max_size=60),
)
@settings(max_examples=60, deadline=None)
def test_str_template_property_roundtrip(prefixes, picks):
    """Any '<prefix><zero-padded digits>' corpus round-trips bit-exactly
    through the forced template codec (width >= natural digit count)."""
    import pyarrow as pa
    from tbl_spark.codecs import decode_array, encode_array
    from tbl_spark.codecs.format import Codec
    vals = []
    for pi, num, width in picks:
        p = prefixes[pi % len(prefixes)]
        w = max(width, len(str(num)))
        if w > 18:          # the codec's declared digit-run bound
            num, w = num % (10 ** 18), 18
        vals.append(f"{p}{num:0{w}d}")
    blob = encode_array(pa.array(vals, type=pa.large_string()),
                        codec=Codec.STR_TEMPLATE)
    out, _ = decode_array(blob)
    assert out.cast(pa.large_string()).to_pylist() == vals


# -- r7: adversarial template grammar + cache-crossing (VERDICT r6 #8) --------

@st.composite
def template_corpora(draw):
    """Adversarial id corpora over the template grammar: prefixes that
    themselves end in digits (digit-run boundary ambiguity), widths with
    and without leading zeros, values at the 18-vs-19-digit bound, the
    occasional non-matching value (forces build-decline), empty strings,
    and pure-digit ids (empty prefix)."""
    kind = draw(st.sampled_from(
        ["clean", "digit_prefix", "boundary", "mixed_widths",
         "with_breaker", "pure_digits"]))
    n = draw(st.integers(1, 80))
    rng = np.random.default_rng(draw(st.integers(0, 2**31)))
    base = draw(st.sampled_from(["web-", "a1b2-", "", "x", "00pre"]))
    vals = []
    for i in range(n):
        if kind == "clean":
            vals.append(f"{base}{int(rng.integers(0, 10**9)):09d}")
        elif kind == "digit_prefix":
            # prefix ends in digits: the regex split point is ambiguous
            # to a human but must round-trip exactly regardless
            vals.append(f"{base}7{int(rng.integers(0, 10**6)):0{draw(st.integers(1, 12))}d}")
        elif kind == "boundary":
            w = draw(st.sampled_from([17, 18, 19, 20]))
            vals.append(base + "9" * w)
        elif kind == "mixed_widths":
            w = int(rng.integers(1, 19))
            vals.append(f"{base}{int(rng.integers(0, 10**min(w, 15))):0{w}d}")
        elif kind == "with_breaker":
            if i == n // 2:
                vals.append(base + "no-digits-tail!")
            else:
                vals.append(f"{base}{int(rng.integers(0, 10**6)):06d}")
        else:  # pure_digits — empty prefix
            vals.append(f"{int(rng.integers(0, 10**12)):0{draw(st.integers(1, 14))}d}")
    return vals


@given(template_corpora(), st.booleans())
@settings(max_examples=80, deadline=None)
def test_template_grammar_auto_and_forced_roundtrip(vals, force):
    """Both the forced codec and the full auto-audition path must
    round-trip every adversarial corpus bit-exactly (the forced path
    may legally fall back to raw when the build declines)."""
    import pyarrow as pa
    from tbl_spark.codecs import decode_array, encode_array
    from tbl_spark.codecs.format import Codec
    arr = pa.array(vals, type=pa.large_string())
    blob = encode_array(arr, codec=Codec.STR_TEMPLATE if force else None)
    out, _ = decode_array(blob)
    assert out.cast(pa.large_string()).to_pylist() == vals


@given(st.lists(st.tuples(template_corpora(), st.booleans()),
                min_size=2, max_size=4))
@settings(max_examples=30, deadline=None)
def test_template_cache_crossing_chunks_roundtrip(chunks):
    """Chunks of DIFFERENT datasets arriving under one planned template
    entry (the shape that produced r6's subtlest bug, when the choice
    lived in a worker cache): every chunk must round-trip exactly,
    including chunks the planned template declines on (a breaker value,
    or a NULL past the 64-value probe, whose mask the fallback audition
    must keep), and encode to the same bytes whatever came before."""
    import pyarrow as pa
    from tbl_spark.codecs import decode_array, encode_array
    from tbl_spark.codecs.format import Codec
    key = "prop_cache_cross"
    plan = {key: int(Codec.STR_TEMPLATE)}
    arrs, blobs = [], []
    for vals, add_nulls in chunks:
        if add_nulls and len(vals) > 70:
            vals = list(vals)
            vals[70] = None   # null past the 64-value probe window
        arr = pa.array(vals, type=pa.large_string())
        blob = encode_array(arr, cache_key=key, plan=plan)
        arrs.append(arr)
        blobs.append(blob)
        out, valid = decode_array(blob)
        got = out.cast(pa.large_string()).to_pylist()
        for i, v in enumerate(vals):
            if v is None:
                assert valid is not None and not valid[i]
            else:
                assert got[i] == v, (i, v)
    for arr, blob in zip(arrs, blobs):
        assert encode_array(arr, cache_key=key, plan=plan) == blob
