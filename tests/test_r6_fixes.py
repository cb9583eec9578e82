"""Round-6 regression tests: the VERDICT r5 / ADVICE r5 closures.

1. Real image decode: resize and the PIL gate (a PNG now reaches it),
   a truncated header is a clean ValueError, and the real (non-fake)
   decode of a compressed format runs end-to-end inside mapInArrow.
   PNG decodes only with PIL, so these run on RLE8/24-bit BMP payloads.
2. Cache ring survives a dead SparkSession in an evicted slot.
3. decontaminate broadcast='auto'|'force'|'never' agree; 'never' builds
   a lazy plan; hash128 default matches hash results here.
4. CLI parity: dedup --method paragraph, sample --temperature.
5. curate --gopher preserves input columns that collide with the gate's
   signal names.
6. sample --rate with a non-numeric rate exits cleanly.
"""

import struct
import zlib

import numpy as np
import pyspark.sql.functions as F
import pytest

from test_bmp import _bmp, _info_header, _pad_rows


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_path(sf_dir):
    return f"{sf_dir}/documents.parquet"


# -- 1. real image decode -----------------------------------------------------

def _chunk(tag: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data)))


def _rle8(idx: np.ndarray) -> bytes:
    """RLE8 stream, rows in file order: one encoded run per stretch of
    equal indices, an end-of-line escape per row, end-of-bitmap last."""
    out = bytearray()
    for row in idx:
        x = 0
        while x < len(row):
            n = 1
            while x + n < len(row) and n < 255 and row[x + n] == row[x]:
                n += 1
            out += bytes([n, row[x]])
            x += n
        out += b"\x00\x00"
    return bytes(out + b"\x00\x01")


def test_png_decode_resize_and_gates(monkeypatch):
    from tbl_spark.pipelines import multimodal
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (10, 10, 3), dtype=np.uint8)
    bmp = _bmp(_info_header(10, -10, 24),
               _pad_rows(px[:, :, ::-1].reshape(10, 30)))
    got = multimodal.decode_image(bmp, 20, 30)
    assert got.shape == (30, 20, 3)
    assert np.array_equal(got, px[np.arange(30) // 3][:, np.arange(20) // 2])
    # without PIL, a payload no pure-numpy decoder takes (BM magic, but
    # too short for a BMP header) hits the explicit PIL gate, and so
    # does every PNG, valid or not
    monkeypatch.setattr(multimodal, "HAVE_PIL", False)
    with pytest.raises(NotImplementedError, match="PIL"):
        multimodal.decode_image(b"BM-bmp-ish-payload", 4, 4)
    rows = b"".join(b"\0" + bytes(6) for _ in range(2))
    for ihdr, idat in ((struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0), rows),
                       (struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0),
                        b"\0" * 64),
                       (struct.pack(">IIBBBBB", 4, 4, 4, 2, 0, 0, 0),
                        b"\0" * 64)):
        png = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
               + _chunk(b"IDAT", zlib.compress(idat)) + _chunk(b"IEND", b""))
        with pytest.raises(NotImplementedError, match="PIL"):
            multimodal.decode_image(png, 0, 0)


def test_png_real_path_in_map_in_arrow(spark):
    """The compressed-format branch executes end-to-end in the executor
    batch path (fake_decode=False) — VERDICT r5 #2's done-bar. The
    payloads are RLE8 BMPs: the compressed format that decodes without
    PIL."""
    from tbl_spark.pipelines.multimodal import extract_features
    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    quads = np.concatenate([pal[:, ::-1], np.zeros((16, 1), np.uint8)],
                           axis=1).tobytes()
    rows = []
    for mid in range(8):
        h, w = 6 + mid, 4 + mid
        idx = np.repeat(rng.integers(0, 16, (h, (w + 1) // 2),
                                     dtype=np.uint8), 2, axis=1)[:, :w]
        bmp = _bmp(_info_header(w, -h, 8, comp=1, colors=16), _rle8(idx),
                   extra=quads)
        rows.append((mid, "image", w, h, 1, bytearray(bmp),
                     pal[idx].reshape(-1, 3).mean(axis=0).tolist()))
    df = spark.createDataFrame(
        [r[:6] for r in rows],
        "media_id bigint, kind string, width int, height int, "
        "n_frames int, payload binary")
    feats = {r["media_id"]: r["feature"]
             for r in extract_features(df, dim=16,
                                       fake_decode=False).collect()}
    assert len(feats) == 8
    for mid, *_rest, mean_rgb in rows:
        np.testing.assert_allclose(feats[mid][:3], mean_rgb, rtol=1e-5)


def test_png_truncated_chunk_is_clean_valueerror():
    """A payload cut short inside its header or its bitfield masks is
    the documented corrupt-input ValueError, not a struct.error."""
    from tbl_spark.pipelines.multimodal import _decode_bmp, decode_image
    masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    full = _bmp(_info_header(4, 4, 16, comp=3), bytes(32), extra=masks)
    assert _decode_bmp(full).shape == (4, 4, 3)
    for cut in (26, 40, 53, 54, 65):
        with pytest.raises(ValueError, match="corrupt BMP: .* truncated"):
            _decode_bmp(full[:cut])
    with pytest.raises(ValueError, match="corrupt BMP"):
        decode_image(full[:30], 0, 0)


# -- 2. cache ring vs dead sessions ------------------------------------------

def test_cache_ring_drops_dead_session_frames(spark):
    from tbl_spark.pipelines._cache import CACHE_RING, ring_persist

    class _DeadFrame:
        """Stand-in for a DataFrame whose SparkSession was stopped:
        session access raises and unpersist would too."""
        @property
        def sparkSession(self):
            raise RuntimeError("SparkContext was shut down")

        def unpersist(self, blocking=False):
            raise RuntimeError("SparkContext was shut down")

    CACHE_RING.append(_DeadFrame())
    try:
        # one live persist must neither raise nor keep the dead entry
        out = ring_persist(spark.range(10))
        assert out.count() == 10
        assert not any(isinstance(c, _DeadFrame) for c in CACHE_RING)
        # fill past RING_MAX: evictions of live frames still work
        for i in range(6):
            ring_persist(spark.range(i + 20))
        from tbl_spark.pipelines._cache import RING_MAX
        assert len(CACHE_RING) <= RING_MAX
    finally:
        CACHE_RING[:] = [c for c in CACHE_RING
                         if not isinstance(c, _DeadFrame)]


# -- 3. decontaminate broadcast modes ----------------------------------------

def test_decontaminate_broadcast_modes_agree(spark, sf_dir):
    from tbl_spark.pipelines.dedup import decontaminate
    from tbl_spark.pipelines.textstats import with_tokens
    tr = with_tokens(_docs(spark, sf_dir).limit(300))
    ev = with_tokens(_docs(spark, sf_dir).limit(40))
    base = None
    for mode in ("auto", "force", "never"):
        ids = {r["doc_id"] for r in
               decontaminate(tr, ev, k=8, broadcast=mode)
               .select("doc_id").collect()}
        if base is None:
            base = ids
        assert ids == base, mode
    with pytest.raises(ValueError, match="broadcast"):
        decontaminate(tr, ev, broadcast="maybe")


def test_decontaminate_never_is_lazy(spark, sf_dir):
    """broadcast='never' must not run any job at construction time
    (ADVICE r5): plan-building tooling can explain() for free."""
    from tbl_spark.pipelines.dedup import decontaminate
    from tbl_spark.pipelines.textstats import with_tokens
    tr = with_tokens(_docs(spark, sf_dir).limit(50))
    ev = with_tokens(_docs(spark, sf_dir).limit(10))
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    out = decontaminate(tr, ev, k=8, broadcast="never")
    after = tracker.getJobIdsForGroup(None)
    assert before == after, "construction ran a Spark job"
    assert out.columns  # plan is usable


def test_decontaminate_hash128_default_matches_hash(spark, sf_dir):
    from tbl_spark.pipelines.dedup import decontaminate
    from tbl_spark.pipelines.textstats import with_tokens
    import inspect
    sig = inspect.signature(decontaminate)
    assert sig.parameters["gram_repr"].default == "hash128"
    tr = with_tokens(_docs(spark, sf_dir).limit(200))
    ev = with_tokens(_docs(spark, sf_dir).limit(30))
    a = {r["doc_id"] for r in
         decontaminate(tr, ev, k=8).select("doc_id").collect()}
    b = {r["doc_id"] for r in
         decontaminate(tr, ev, k=8, gram_repr="hash")
         .select("doc_id").collect()}
    assert a == b


# -- 4. CLI parity: paragraph dedup + temperature sampling -------------------

def test_cli_dedup_paragraph(spark, tmp_path):
    from tbl_spark.cli import main
    src = str(tmp_path / "pd_in")
    spark.createDataFrame(
        [(1, "A\n\nB\n\nC"), (2, "B\n\nD"), (3, "A\n\nB")],
        "doc_id bigint, text string").write.parquet(src)
    out = str(tmp_path / "pd_out")
    rc = main(["dedup", src, "--method", "paragraph",
               "--output", out, "--yes"])
    assert rc == 0
    res = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert res[1]["text"] == "A\n\nB\n\nC"
    assert res[2]["text"] == "D" and res[2]["n_pars_removed"] == 1
    assert res[3]["text"] == "" and res[3]["n_pars_removed"] == 2


def test_cli_sample_temperature(spark, sf_dir, tmp_path):
    from tbl_spark.cli import main
    from tbl_spark.pipelines.sampling import temperature_sample
    out = str(tmp_path / "ts_out")
    rc = main(["sample", _docs_path(sf_dir), "--strata-col", "source",
               "--temperature", "2.0", "--output", out, "--yes"])
    assert rc == 0
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    want = {r["doc_id"] for r in
            temperature_sample(_docs(spark, sf_dir), "source", "doc_id",
                               temperature=2.0).collect()}
    assert got == want and got  # identical to the library op, non-empty


def test_cli_sample_temperature_excludes_rates(sf_dir, capsys):
    from tbl_spark.cli import main
    rc = main(["sample", _docs_path(sf_dir), "--strata-col", "source",
               "--temperature", "2.0", "--rate", "web=0.5"])
    assert rc == 1
    assert "mutually exclusive" in capsys.readouterr().err


# -- 5. curate --gopher column collisions ------------------------------------

def test_cli_curate_gopher_preserves_colliding_columns(spark, tmp_path):
    from tbl_spark.cli import main
    src = str(tmp_path / "gq_in")
    body = ("the be to of and that have with lorem ipsum " * 12).strip()
    spark.createDataFrame(
        [(i, body, 777 + i) for i in range(4)],
        "doc_id bigint, text string, n_words int").write.parquet(src)
    out = str(tmp_path / "gq_out")
    rc = main(["curate", src, "--gopher", "--min-words", "5",
               "--min-stop-hits", "2", "--no-excise",
               "--seq-len", "64", "--output", out, "--yes"])
    assert rc == 0
    res = spark.read.parquet(out)
    vals = {r["n_words"] for r in res.select("n_words").collect()}
    # the user's n_words column (777..780) survives; the gate's own
    # n_words signal (120 words) must not leak into the output
    assert vals <= {777, 778, 779, 780} and vals


def test_cli_curate_gopher_text_col_collision_rejected(spark, tmp_path,
                                                       capsys):
    from tbl_spark.cli import main
    src = str(tmp_path / "gt_in")
    spark.createDataFrame([(1, "some text")],
                          "doc_id bigint, n_words string") \
        .write.parquet(src)
    rc = main(["curate", src, "--gopher", "--text-col", "n_words"])
    assert rc == 1
    assert "collides" in capsys.readouterr().err


# -- 6. sample --rate parse guard --------------------------------------------

def test_cli_sample_bad_rate_value_clean_error(sf_dir, capsys):
    from tbl_spark.cli import main
    rc = main(["sample", _docs_path(sf_dir), "--strata-col", "source",
               "--rate", "web=abc"])
    assert rc == 1
    err = capsys.readouterr().err
    assert "bad --rate" in err and "Traceback" not in err


# -- 8. str_template codec + clustered encode + design-size gate -------------

def test_str_template_roundtrips():
    import pyarrow as pa
    from tbl_spark.codecs import decode_array, encode_array
    from tbl_spark.codecs.core import blob_codec
    rng = np.random.default_rng(0)
    idx = rng.permutation(60000)[:5000]
    srcs = np.array(["web", "books", "arxiv", "wiki"])
    ids = [f"{srcs[i % 4]}-{i:012d}" for i in idx]
    for vals in (ids, sorted(ids)):
        blob = encode_array(pa.array(vals, type=pa.large_string()))
        assert blob_codec(blob).startswith("str_template")
        out, _ = decode_array(blob)
        assert out.cast(pa.large_string()).to_pylist() == vals
    # sorted ids must land well under 1.5 B/id (fsst+zstd was ~3.6)
    sorted_blob = encode_array(pa.array(sorted(ids),
                                        type=pa.large_string()))
    assert len(sorted_blob) / len(ids) < 1.5


def test_str_template_mixed_widths_and_declines():
    import pyarrow as pa
    from tbl_spark.codecs import decode_array, encode_array
    from tbl_spark.codecs.core import blob_codec
    from tbl_spark.codecs.format import Codec
    # widths 3..16 incl. >10-digit zero pads (fixed-width numpy trap)
    vals = [f"id-{i:0{3 + i % 14}d}" for i in range(500)]
    blob = encode_array(pa.array(vals, type=pa.large_string()),
                        codec=Codec.STR_TEMPLATE)
    assert blob_codec(blob).startswith("str_template")
    out, _ = decode_array(blob)
    assert out.cast(pa.large_string()).to_pylist() == vals
    # >18-digit runs split prefix/suffix but stay exact
    weird = [f"x-{'9' * 24}", "a1", "b007", "42"] * 50
    ob, _ = decode_array(encode_array(pa.array(weird,
                                               type=pa.large_string()),
                                      codec=Codec.STR_TEMPLATE))
    assert ob.cast(pa.large_string()).to_pylist() == weird
    # no trailing digits -> auto pick falls elsewhere, still exact
    plain = [f"alpha-{i}-tail" for i in range(300)]
    pb = encode_array(pa.array(plain, type=pa.large_string()))
    assert not blob_codec(pb).startswith("str_template")
    po, _ = decode_array(pb)
    assert po.cast(pa.large_string()).to_pylist() == plain


def test_clustered_encode_roundtrips_and_uses_template(spark):
    import pyarrow as pa  # noqa: F401
    from tbl_spark.datagen import SPARK_SCHEMA_DDL, generate_df
    from tbl_spark.decode import decode_chunks_colocated
    from tbl_spark.encode import encode_chunks
    df = generate_df(spark, 3000, 4)
    for cluster in (True, False):
        chunks = encode_chunks(df, 4, cluster=cluster).cache()
        codecs = {r["column"]: r["codec"]
                  for r in chunks.select("column", "codec")
                  .distinct().collect()}
        if cluster:
            assert codecs["doc_id"].startswith("str_template")
        dec = decode_chunks_colocated(chunks, SPARK_SCHEMA_DDL)
        # row-SET equality: chunk-internal order is an encode freedom
        diff = (dec.select("doc_id", "n_tok", "source")
                .exceptAll(df.select("doc_id", "n_tok", "source")).count()
                + df.select("doc_id", "n_tok", "source")
                .exceptAll(dec.select("doc_id", "n_tok", "source"))
                .count())
        assert diff == 0, f"cluster={cluster}"
        tok_ok = (dec.select("doc_id", F.hash("tokens").alias("h"))
                  .exceptAll(df.select("doc_id",
                                       F.hash("tokens").alias("h")))
                  .count())
        assert tok_ok == 0, f"cluster={cluster} token arrays differ"
        chunks.unpersist()


def test_design_size_bytes_per_token_gate(spark):
    """VERDICT r5 #5 bar: <= 1.13 B/token at the 4M-token design chunk
    size (the 100 TB deployment's configuration)."""
    from tbl_spark.datagen import generate_df
    from tbl_spark.encode import encode_chunks
    df = generate_df(spark, 20_000, 8).cache()
    total = df.agg(F.sum("n_tok")).collect()[0][0]
    parts = max(1, int(total) // 4_000_000)
    agg = (encode_chunks(df, parts)
           .agg(F.sum("enc_bytes").alias("enc"),
                F.sum(F.when(F.col("column") == "tokens",
                             F.col("n_values"))).alias("tokens"))
           .collect()[0])
    df.unpersist()
    bpt = agg["enc"] / agg["tokens"]
    assert bpt <= 1.13, f"design bytes/token {bpt:.4f} > 1.13"


def test_rans_lane_cap_1024():
    import struct
    from tbl_spark.codecs import rans
    rng = np.random.default_rng(1)
    codes = rng.integers(0, 500, 2_000_000, dtype=np.int64)
    core, freqs = rans.encode(codes, 500)
    L, _k, _sb = struct.unpack_from("<IIQ", core, 0)
    assert L <= 1024
    assert (rans.decode(core, len(codes), freqs) == codes).all()


def test_template_forced_on_binary_falls_back():
    import pyarrow as pa
    from tbl_spark.codecs import decode_array, encode_array
    from tbl_spark.codecs.format import Codec
    vals = [b"\x00\xffid-1", b"\x07raw2"] * 20
    blob = encode_array(pa.array(vals, type=pa.large_binary()),
                        codec=Codec.STR_TEMPLATE)
    out, _ = decode_array(blob)
    assert out.cast(pa.large_binary()).to_pylist() == vals


# -- 9. review-pass closures ---------------------------------------------------

def test_template_cached_choice_preserves_null_mask():
    """A NULL past the 64-value probe breaks the planned template shape;
    the fallback audition must keep the validity mask (the bug was a
    recursion with the null-FILLED array -> NULLs decoded as '')."""
    import pyarrow as pa
    from tbl_spark.codecs import decode_array, encode_array
    from tbl_spark.codecs.core import pick_string_codec
    from tbl_spark.codecs.format import Codec
    clean = pa.array([f"w-{i:09d}" for i in range(200)],
                     type=pa.large_string())
    plan = {"idcol": pick_string_codec(clean)}
    assert plan["idcol"] == Codec.STR_TEMPLATE
    b1 = encode_array(clean, cache_key="idcol", plan=plan)
    vals = [f"w-{i:09d}" for i in range(200)]
    vals[150] = None  # past the probe window
    dirty = pa.array(vals, type=pa.large_string())
    b2 = encode_array(dirty, cache_key="idcol", plan=plan)
    out, valid = decode_array(b2)
    assert valid is not None and not valid[150]
    got = out.cast(pa.large_string()).to_pylist()
    assert got[:150] == vals[:150] and got[151:] == vals[151:]
    # round-trip b1 too
    o1, _ = decode_array(b1)
    assert o1.cast(pa.large_string()).to_pylist() == clean.to_pylist()


def test_paragraph_dedup_literal_metachar_sep(spark):
    from tbl_spark.pipelines.dedup import paragraph_dedup
    df = spark.createDataFrame(
        [(1, "aaa|bbb|ccc"), (2, "bbb|ddd")],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in
           paragraph_dedup(df, sep="|").collect()}
    assert out[1]["text"] == "aaa|bbb|ccc"
    assert out[2]["text"] == "ddd" and out[2]["n_pars_removed"] == 1


def test_cli_par_sep_unescape_and_temperature_zero(spark, sf_dir,
                                                   tmp_path, capsys):
    from tbl_spark.cli import main
    src = str(tmp_path / "ps_in")
    spark.createDataFrame(
        [(1, "A\n\nB"), (2, "B\n\nC")],
        "doc_id bigint, text string").write.parquet(src)
    out = str(tmp_path / "ps_out")
    # shell-style escaped separator
    rc = main(["dedup", src, "--method", "paragraph",
               "--par-sep", r"\n\n", "--output", out, "--yes"])
    assert rc == 0
    res = {r["doc_id"]: r["text"]
           for r in spark.read.parquet(out).collect()}
    assert res == {1: "A\n\nB", 2: "C"}
    rc = main(["sample", _docs_path(sf_dir), "--strata-col", "source",
               "--temperature", "0"])
    assert rc == 1
    assert "must be > 0" in capsys.readouterr().err


def test_temperature_sample_rejects_bad_params(spark, sf_dir):
    from tbl_spark.pipelines.sampling import temperature_sample
    docs = _docs(spark, sf_dir)
    with pytest.raises(ValueError, match="temperature"):
        temperature_sample(docs, "source", "doc_id", temperature=0)
    with pytest.raises(ValueError, match="temperature"):
        temperature_sample(docs, "source", "doc_id",
                           temperature=float("nan"))
    with pytest.raises(ValueError, match="scale"):
        temperature_sample(docs, "source", "doc_id", scale=0.0)


def test_gopher_reserved_scratch_column_rejected(spark):
    from tbl_spark.pipelines.textstats import with_gopher_quality
    df = spark.createDataFrame([(1, "some text", "boom")],
                               "doc_id bigint, text string, "
                               "_gq_words string")
    with pytest.raises(ValueError, match="_gq_words"):
        with_gopher_quality(df)


def test_store_encode_clusters_and_picks_template(spark, tmp_path):
    """encode_to_store inherits the clustered encode: each chunk sorts
    by the salt key, so doc_id lands in str_template and source RLEs
    into runs — and the decode stays row-set bit-equal."""
    import pyspark.sql.functions as F
    from tbl_spark.datagen import SPARK_SCHEMA_DDL, generate_df
    from tbl_spark.store import ChunkStore, decode_from_store, \
        encode_to_store
    df = generate_df(spark, 4000, 4)
    store = ChunkStore(str(tmp_path / "cl_store"))
    encode_to_store(df, store, 2)
    codecs = {r["column"]: r["codec"] for r in
              store.stats_table().select(["column", "codec"]).to_pylist()}
    assert codecs["doc_id"].startswith("str_template")
    dec = decode_from_store(store, spark, SPARK_SCHEMA_DDL)
    a = dec.select("doc_id", F.hash("tokens").alias("h"))
    b = df.select("doc_id", F.hash("tokens").alias("h"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_cli_par_sep_non_ascii_and_scale_errors(spark, sf_dir, tmp_path,
                                                capsys):
    from tbl_spark.cli import main
    src = str(tmp_path / "pu_in")
    spark.createDataFrame(
        [(1, "A¶B"), (2, "B¶C")], "doc_id bigint, text string") \
        .write.parquet(src)
    out = str(tmp_path / "pu_out")
    rc = main(["dedup", src, "--method", "paragraph",
               "--par-sep", "¶", "--output", out, "--yes"])
    assert rc == 0
    res = {r["doc_id"]: r["text"]
           for r in spark.read.parquet(out).collect()}
    assert res == {1: "A¶B", 2: "C"}
    # library ValueError surfaces as a clean CLI error, not a traceback
    rc = main(["sample", _docs_path(sf_dir), "--strata-col", "source",
               "--temperature", "2", "--scale", "0"])
    assert rc == 1
    assert "scale must be > 0" in capsys.readouterr().err
    # scale > 1 saturates instead of raising (review-pass regression)
    from tbl_spark.pipelines.sampling import temperature_sample
    docs = _docs(spark, sf_dir)
    n_full = temperature_sample(docs, "source", "doc_id",
                                scale=5.0).count()
    assert n_full > 0


def test_stale_worker_caches_self_correct():
    """Encoding a DIFFERENT dataset with the same column names first must
    not impose its choices on this one (the design-size gate regressed
    in full-suite runs through exactly this staleness when choices lived
    in a worker cache): the codec follows this call's values and plan."""
    import numpy as np
    import pyarrow as pa
    from tbl_spark.codecs import decode_array, encode_array
    from tbl_spark.codecs.core import blob_codec
    from tbl_spark.codecs.format import Codec, unpack_header
    ids = pa.array([f"w-{i:09d}" for i in range(3000)],
                   type=pa.large_string())
    fresh = encode_array(ids, cache_key="doc_id")
    assert blob_codec(fresh).startswith("str_template")
    # string side: a free-text dataset under the same name, FSST-planned
    words = pa.array([f"lorem ipsum dolor sit amet {i} consectetur"
                      for i in range(3000)], type=pa.large_string())
    encode_array(words, cache_key="doc_id",
                 plan={"doc_id": ((255, 32, 97),)})
    assert encode_array(ids, cache_key="doc_id") == fresh
    out, _ = decode_array(fresh)
    assert out.cast(pa.large_string()).to_pylist() == ids.to_pylist()
    # int side: each call follows the plan it is given
    n_tok = np.random.default_rng(3).integers(0, 5000, 50_000)
    rans = encode_array(n_tok, cache_key="n_tok",
                        plan={"n_tok": int(Codec.RANS)})
    assert unpack_header(rans)[0] == Codec.RANS
    encode_array(n_tok, cache_key="n_tok",
                 plan={"n_tok": int(Codec.CONST)})
    assert encode_array(n_tok, cache_key="n_tok",
                        plan={"n_tok": int(Codec.RANS)}) == rans
