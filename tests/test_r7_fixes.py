"""Round-7 regression tests: the ADVICE r6 closures.

1. _session_dead only classifies the expected stopped-session signals as
   dead; a transient error keeps the frame in the ring (so the eviction
   path can still unpersist it) while py4j / shut-down errors still drop.
3. curate --gopher refuses inputs that already carry both a gate-signal
   column and its _orig_<name> stash slot (duplicate-column trap).
4. a chunk the planned template codec declines on (probe passes, full
   build fails) auditions itself; later fully-template chunks of the
   same column still get the planned template.
5. _template_decode raises a corrupt-blob ValueError on empty or
   length-mismatched part streams instead of IndexError / misrender.
"""

import numpy as np
import pyarrow as pa
import pytest


# -- 1. _session_dead classification ------------------------------------------

def test_session_dead_transient_error_keeps_frame(spark):
    from tbl_spark.pipelines._cache import (
        CACHE_RING,
        _session_dead,
        ring_persist,
    )

    class _FlakyFrame:
        """A frame whose session check errors transiently — NOT dead;
        dropping it would leak its (real) persisted cache entry."""
        unpersisted = False

        @property
        def sparkSession(self):
            raise ConnectionResetError("transient RPC hiccup")

        def unpersist(self, blocking=False):
            self.unpersisted = True
            return self

    assert _session_dead(_FlakyFrame()) is False
    flaky = _FlakyFrame()
    CACHE_RING.append(flaky)
    try:
        ring_persist(spark.range(5)).count()
        assert flaky in CACHE_RING  # survived the dead-frame sweep
        # push it out the far end: eviction must call unpersist on it
        CACHE_RING[:] = [flaky]
        for i in range(8):
            ring_persist(spark.range(i + 50))
        assert flaky.unpersisted
    finally:
        CACHE_RING[:] = [c for c in CACHE_RING
                         if not isinstance(c, _FlakyFrame)]


def test_session_dead_expected_signals_still_drop():
    from tbl_spark.pipelines._cache import _session_dead

    class _NoJsc:            # Spark Connect-like: attribute chain absent
        @property
        def sparkSession(self):
            raise AttributeError("no sparkContext on Connect sessions")

    class _Stopped:          # stopped context: explicit None sentinel
        class sparkSession:  # noqa: N801 — stand-in attribute chain
            class sparkContext:
                _jsc = None

    class _ShutDownErr:      # py4j-style message when the JVM is gone
        @property
        def sparkSession(self):
            raise RuntimeError("SparkContext was shut down")

    assert _session_dead(_NoJsc()) is True
    assert _session_dead(_Stopped()) is True
    assert _session_dead(_ShutDownErr()) is True


# -- 3. curate --gopher stash-name collision -----------------------------------

def test_cli_curate_gopher_stash_name_collision_rejected(spark, tmp_path,
                                                         capsys):
    from tbl_spark.cli import main
    src = str(tmp_path / "stash_in")
    body = ("the be to of and that have with lorem ipsum " * 12).strip()
    spark.createDataFrame(
        [(1, body, 7, 99)],
        "doc_id bigint, text string, n_words int, _orig_n_words int") \
        .write.parquet(src)
    rc = main(["curate", src, "--gopher", "--min-words", "5",
               "--output", str(tmp_path / "stash_out"), "--yes"])
    assert rc == 1
    assert "_orig_n_words" in capsys.readouterr().err


# -- 4. a declined planned template leaves the plan in force ---------------

def test_probe_pass_build_decline_leaves_escape_hatch_open():
    from tbl_spark.codecs import decode_array, encode_array
    from tbl_spark.codecs.core import blob_codec
    from tbl_spark.codecs.format import Codec
    key = "r7_tmpl_col"
    plan = {key: int(Codec.STR_TEMPLATE)}
    # 64-value probe is all template-shaped; ONE tail value breaks the
    # full build -> the planned template declines, the chunk auditions
    vals = [f"seg-{i:010d}" for i in range(300)]
    vals[250] = "seg-no-digits-tail"
    b1 = encode_array(pa.array(vals, type=pa.large_string()),
                      cache_key=key, plan=plan)
    assert not blob_codec(b1).startswith("str_template")
    o1, _ = decode_array(b1)
    assert o1.cast(pa.large_string()).to_pylist() == vals
    # a later, fully template-shaped chunk of the same column still
    # gets the planned template codec
    clean = [f"seg-{i:010d}" for i in range(300, 600)]
    b2 = encode_array(pa.array(clean, type=pa.large_string()),
                      cache_key=key, plan=plan)
    assert blob_codec(b2).startswith("str_template")
    o2, _ = decode_array(b2)
    assert o2.cast(pa.large_string()).to_pylist() == clean


# -- 5. corrupt STR_TEMPLATE blob ----------------------------------------------

def test_template_decode_corrupt_blob_valueerror():
    from tbl_spark.codecs import core
    prefixes = pa.array(["a", "b"], type=pa.large_string())
    pblob = core._encode_string(prefixes, core.DType.STR, None,
                                try_zstd=False)
    # numbers stream longer than widths stream
    payload = core.frame(pblob,
                         core._encode_int_auto(np.array([1, 2, 3])),
                         core._encode_int_auto(np.array([1, 2])))
    with pytest.raises(ValueError, match="corrupt STR_TEMPLATE"):
        core._template_decode(payload, 3)
    # n disagrees with every stream
    payload2 = core.frame(pblob,
                          core._encode_int_auto(np.array([1, 2])),
                          core._encode_int_auto(np.array([1, 2])))
    with pytest.raises(ValueError, match="corrupt STR_TEMPLATE"):
        core._template_decode(payload2, 5)
    # empty blob (uw[-1] IndexError in the unguarded version)
    empty = core.frame(
        core._encode_string(pa.array([], type=pa.large_string()),
                            core.DType.STR, None, try_zstd=False),
        core._encode_int_auto(np.array([], dtype=np.int64)),
        core._encode_int_auto(np.array([], dtype=np.int64)))
    with pytest.raises(ValueError, match="corrupt STR_TEMPLATE"):
        core._template_decode(empty, 0)


# -- 8. batched post-decode feature math (VERDICT r6 #5) -----------------------

def test_batched_image_features_values_unchanged(spark):
    """The stacked same-shape group math must reproduce the r6 per-image
    reference exactly (same accumulation dtype and op order)."""
    from tbl_spark.pipelines.multimodal import extract_features
    rng = np.random.default_rng(43)
    rows, ref = [], {}
    dim = 16
    for mid in range(24):
        h, w = 6 + mid % 3, 5 + mid % 2   # several same-shape groups
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        rows.append((mid, "image", w, h, 1,
                     bytearray(f"P6\n{w} {h}\n255\n".encode()
                               + px.tobytes())))
        pooled = px.reshape(-1, 3).mean(axis=0)
        mixed = np.concatenate([
            pooled, px.std(axis=(0, 1)),
            px.reshape(-1)[:dim - 6].astype(np.float32) / 255.0])[:dim]
        ref[mid] = np.pad(mixed, (0, max(0, dim - len(mixed)))
                          ).astype(np.float32)
    df = spark.createDataFrame(
        rows, "media_id bigint, kind string, width int, height int, "
              "n_frames int, payload binary")
    feats = {r["media_id"]: np.asarray(r["feature"], dtype=np.float32)
             for r in extract_features(df, dim=dim,
                                       fake_decode=False).collect()}
    for mid, want in ref.items():
        assert np.array_equal(feats[mid], want), mid


# -- media subcommand (r7) ----------------------------------------------------

def test_cli_media_features_fake(spark, sf_dir, tmp_path, capsys):
    from tbl_spark.cli import main
    from tbl_spark.pipelines.multimodal import attach_media
    src = str(tmp_path / "media_src")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    attach_media(docs).write.parquet(src)
    rc = main(["media", src, "--dim", "4", "--csv", "-n", "5"])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert lines[0].split(",")[:2] == ["media_id", "kind"]
    assert len(lines) == 6
    out = str(tmp_path / "media_out")
    rc = main(["media", src, "--op", "digest-features", "--dim", "4",
               "--output", out, "--yes"])
    assert rc == 0
    res = spark.read.parquet(out)
    assert res.count() == 30 and "feature" in res.columns


# --------------------------------------------------------------------------
# r7 second pass: gather-hoisted rANS loop, lane policy, slot cache
# --------------------------------------------------------------------------

def test_rans_fast_loop_roundtrip_and_lane_policy():
    """The shared-table path gives a stream 256 lanes, fewer where
    rans.encode's one-lane-per-384-values floor says so (the blob layout
    leads with u32 n_lanes), and the payload still roundtrips exactly,
    including the partial-step tail and the lane floor at tiny n."""
    import struct as _struct

    import numpy as np
    from tbl_spark.codecs import rans
    from tbl_spark.codecs.core import (
        _rans_shared_payload,
        _decode_rans_shared,
        _shared_slots,
        build_shared_table,
        register_shared_table,
    )

    rng = np.random.default_rng(11)
    sample = ((rng.zipf(1.2, 1 << 17) - 1) % 5000).astype(np.int64)
    fp = register_shared_table(build_shared_table(sample))
    _shared_slots.pop(fp, None)
    for n, want_lanes in ((400_000, 256), (65_537, 128), (127, 8), (1, 8)):
        v = ((rng.zipf(1.2, n) - 1) % 5000).astype(np.int64)
        payload = _rans_shared_payload(v, fp)
        assert payload is not None
        from tbl_spark.codecs.format import unframe
        _exc, core = unframe(payload[8:], 2)   # u64 fp | frame(exc, core)
        (n_lanes,) = _struct.unpack_from("<I", core, 0)
        assert n_lanes == want_lanes, (n, n_lanes)
        back = _decode_rans_shared(payload, n, v.dtype)
        assert np.array_equal(back, v)
    # decode populated the per-fingerprint slot cache exactly once
    assert fp in _shared_slots and len(_shared_slots[fp]) == rans.M


def test_rans_partial_tail_equals_padded_full_steps():
    """Bit-level regression for the peeled partial step: an array whose
    length is an exact lane multiple and the same array one element
    short must both roundtrip and produce self-consistent streams."""
    import numpy as np
    from tbl_spark.codecs import rans

    rng = np.random.default_rng(12)
    for n in (128 * 7, 128 * 7 - 1, 128 * 7 + 1):
        codes = rng.integers(0, 37, n).astype(np.int64)
        core, f = rans.encode(codes, 37, n_lanes=128)
        assert np.array_equal(rans.decode(core, n, f), codes)
