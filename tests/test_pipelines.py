"""Training-data pipeline tests: dedup (planted dups), similarity (recall
vs brute force), text stats determinism, media column plumbing."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from tbl_spark.pipelines import dedup, similarity, textstats, multimodal


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def planted(spark, docs):
    """documents + exact dups + near dups with known ids (offset +10000)."""
    exact = docs.limit(20).withColumn(
        "doc_id", F.col("doc_id") + 10_000)
    near = (docs.filter("doc_id >= 20").limit(20)
            .withColumn("doc_id", F.col("doc_id") + 20_000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" extra"))))
    return docs.unionByName(exact).unionByName(near)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_dedup(spark, planted, docs):
    out = dedup.exact_dedup(planted)
    n_docs = docs.count()
    assert out.count() == n_docs + 20          # near-dups survive exact
    assert out.filter(F.col("doc_id") >= 10_000).count() == 20  # only near


def test_minhash_lsh_dedup_catches_near_dups(spark, planted, docs):
    out = dedup.minhash_lsh_dedup(planted)
    kept = out.count()
    # all 20 exact dups and most near dups must be dropped
    assert kept <= docs.count() + 5
    # original corpus (500 distinct word-soup docs) mostly intact
    assert kept >= docs.count() - 60


def test_simhash_dedup_drops_exact_dups(spark, planted, docs):
    out = dedup.simhash_dedup(planted)
    dropped = planted.count() - out.count()
    assert dropped >= 20  # at least the exact dups


def test_ngram_jaccard_verify(spark, planted, docs):
    out = dedup.ngram_jaccard_dedup(planted, threshold=0.8)
    # exact dups (jaccard 1.0) and ' extra'-suffixed near dups (j≈0.95+)
    dropped = planted.count() - out.count()
    assert dropped >= 35
    # our planted dup ids (larger than the originals they copy) are gone
    assert out.filter("doc_id >= 10000").count() <= 2
    # NOTE: the testdata documents table itself contains driver-planted
    # near-duplicates (e.g. 474 vs 498, jaccard≈0.99) — those are real
    # positives, so we do NOT assert the original corpus stays intact.


def test_embedding_cosine_dedup(spark, emb):
    dup = emb.limit(10).withColumn("vec_id", F.col("vec_id") + 10_000)
    planted = emb.unionByName(dup)
    out = dedup.embedding_cosine_dedup(planted, threshold=0.99)
    assert out.count() == emb.count()  # the 10 exact copies dropped
    assert out.filter(F.col("vec_id") >= 10_000).count() == 0


def test_brute_force_topk(spark, emb):
    q = emb.filter("vec_id = 1").select("embedding").first()[0]
    top = similarity.brute_force_topk(emb, q, k=5).collect()
    assert top[0]["vec_id"] == 1 and abs(top[0]["cos"] - 1.0) < 1e-6
    cs = [r["cos"] for r in top]
    assert cs == sorted(cs, reverse=True)


def test_ivf_recall_vs_brute_force(spark, emb):
    q = emb.filter("vec_id = 7").select("embedding").first()[0]
    exact = {r["vec_id"] for r in
             similarity.brute_force_topk(emb, q, k=10).collect()}
    approx = {r["vec_id"] for r in
              similarity.ivf_topk(emb, q, k=10, nlist=8, nprobe=4).collect()}
    assert len(exact & approx) >= 6  # recall ≥ 0.6 with nprobe/nlist = 0.5


def test_token_count_and_quality(spark, docs):
    out = textstats.with_quality_score(textstats.with_token_count(docs))
    rows = out.select("n_ws_tokens", "n_bpe_tokens", "quality").collect()
    assert all(r.n_ws_tokens > 0 and r.n_bpe_tokens > 0 for r in rows)
    assert all(0.0 <= r.quality <= 1.0 for r in rows)


def test_lang_id_and_fingerprint_deterministic(spark, docs):
    a = textstats.with_fingerprint(textstats.with_lang_id(docs)) \
        .select("doc_id", "lang_pred", "fingerprint").collect()
    b = textstats.with_fingerprint(textstats.with_lang_id(docs)) \
        .select("doc_id", "lang_pred", "fingerprint").collect()
    assert a == b
    langs = {r.lang_pred for r in a}
    assert langs <= {"en", "de", "fr", "es", "und"}


def test_fingerprint_stable_under_extra_whitespace(spark, docs):
    doubled = docs.withColumn(
        "text", F.regexp_replace("text", " ", "  "))
    a = textstats.with_fingerprint(docs).select("doc_id", "fingerprint")
    b = textstats.with_fingerprint(doubled).select("doc_id", "fingerprint")
    joined = a.alias("a").join(b.alias("b"), "doc_id").filter(
        F.col("a.fingerprint") == F.col("b.fingerprint"))
    assert joined.count() == docs.count()


def test_multimodal_plumbing(spark, docs):
    """payload_digest_features by value: feature[j] is byte j of the
    sha256 hex payload / 255, and a NULL payload gives a zero vector."""
    import hashlib
    media = multimodal.attach_media(docs.limit(60))
    assert dict(media.dtypes)["payload"] == "binary"
    media = media.withColumn(
        "payload", F.when(F.col("media_id") % 7 == 0,
                          F.lit(None).cast("binary"))
        .otherwise(F.col("payload")))
    dim = 16
    feats = multimodal.payload_digest_features(media, dim=dim)
    assert feats.dtypes == [("media_id", "bigint"), ("kind", "string"),
                            ("feature", "array<double>")]
    rows = feats.collect()
    assert len(rows) == 60
    n_null = 0
    for r in rows:
        assert r.kind == ("image", "audio", "video")[r.media_id % 3]
        assert len(r.feature) == dim
        if r.media_id % 7 == 0:
            n_null += 1
            assert r.feature == [0.0] * dim
            continue
        digest = hashlib.sha256(str(r.media_id).encode()).hexdigest()
        assert r.feature == [digest.encode()[j] / 255 for j in range(dim)]
    assert 0 < n_null < len(rows)
    # extract_features' audio rows carry the waveform descriptor of the
    # fake decode; a NULL payload gives a zero vector
    payloads = {r.media_id: r.payload for r in
                media.filter("kind = 'audio'").collect()}
    feats = multimodal.extract_features(media.filter("kind = 'audio'"),
                                        dim=dim, fake_decode=True)
    got = {r.media_id: np.asarray(r.feature, np.float32)
           for r in feats.collect()}
    assert got.keys() == payloads.keys()
    for mid, payload in payloads.items():
        want = np.zeros(dim, np.float32) if payload is None else \
            multimodal._audio_feature(
                *multimodal.decode_audio(payload, fake_decode=True), dim)
        assert np.array_equal(got[mid], want), mid


def test_multimodal_real_decode_is_stubbed():
    if multimodal.HAVE_PIL:
        pytest.skip("PIL present")
    with pytest.raises(NotImplementedError, match="PIL"):
        multimodal.decode_image(b"x", 4, 4, fake_decode=False)


# a 1x1 GIF89a and a one-frame 2x2 YUV4MPEG2 stream: well-formed payloads
# of formats that have no real decoder here
_GIF_1X1 = (b"GIF89a\x01\x00\x01\x00\x80\x00\x00\x00\x00\x00\xff\xff\xff"
            b"!\xf9\x04\x01\x00\x00\x00\x00,\x00\x00\x00\x00\x01\x00\x01"
            b"\x00\x00\x02\x02D\x01\x00;")
_Y4M_2X2 = b"YUV4MPEG2 W2 H2 F25:1 C444\nFRAME\n" + bytes(range(12))
# an 8x8 gray baseline JPEG (one DC-only block) and a two-sample 16-bit
# mono PCM WAV: as above, no real decoder here
_JPEG_8X8 = (b"\xff\xd8"
             b"\xff\xdb\x00\x43\x00" + b"\x01" * 64        # DQT
             + b"\xff\xc0\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00"  # SOF0
             + b"\xff\xc4\x00\x14\x00\x01" + bytes(16)     # DHT DC
             + b"\xff\xc4\x00\x14\x10\x01" + bytes(16)     # DHT AC
             + b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"  # SOS
             + b"\x3f\xff\xd9")
# a 1x1 8-bit grayscale PNG (IHDR, one zlib IDAT scanline, IEND): only
# PIL decodes PNG
_PNG_1X1 = (b"\x89PNG\r\n\x1a\n"
            b"\x00\x00\x00\rIHDR\x00\x00\x00\x01\x00\x00\x00\x01"
            b"\x08\x00\x00\x00\x00:~\x9bU"
            b"\x00\x00\x00\nIDATx\x9cch\x00\x00\x00\x82\x00\x81w\xcdr\xb6"
            b"\x00\x00\x00\x00IEND\xaeB`\x82")
_WAV_2 = (b"RIFF\x28\x00\x00\x00WAVEfmt \x10\x00\x00\x00\x01\x00\x01\x00"
          b"\x40\x1f\x00\x00\x80\x3e\x00\x00\x02\x00\x10\x00"
          b"data\x04\x00\x00\x00\x00\x00\xff\x7f")


def test_gif_and_real_video_decode_raise_the_stub_error(spark, monkeypatch):
    # executors import multimodal afresh, without this monkeypatch
    pil_on_executors = multimodal.HAVE_PIL
    monkeypatch.setattr(multimodal, "HAVE_PIL", False)
    for img in (_GIF_1X1, _JPEG_8X8, _PNG_1X1):
        with pytest.raises(NotImplementedError, match="PIL"):
            multimodal.decode_image(img, 1, 1, fake_decode=False)
    with pytest.raises(NotImplementedError, match="video library"):
        multimodal.decode_video(_Y4M_2X2, [0])
    for audio in (_WAV_2, b"\xff\xfbmp3-frame-sync"):
        with pytest.raises(NotImplementedError, match="audio library"):
            multimodal.decode_audio(audio)
    media = spark.createDataFrame([(1, "video", 2, 2, 1, bytearray(_Y4M_2X2))],
                                  multimodal.MEDIA_SCHEMA_DDL)
    # raised by the call itself, on the driver: no action, so no job
    with pytest.raises(NotImplementedError, match="video library"):
        multimodal.frame_sample_decoded(media, fake_decode=False)
    feats = multimodal.extract_features(media, dim=4, fake_decode=False)
    with pytest.raises(Exception, match="video library"):
        feats.collect()
    cases = [("audio", _WAV_2, "audio library")]
    if not pil_on_executors:
        cases += [("image", _JPEG_8X8, "PIL"), ("image", _PNG_1X1, "PIL")]
    for kind, payload, match in cases:
        media = spark.createDataFrame([(1, kind, 1, 1, 1, bytearray(payload))],
                                      multimodal.MEDIA_SCHEMA_DDL)
        feats = multimodal.extract_features(media, dim=4, fake_decode=False)
        with pytest.raises(Exception, match=match):
            feats.collect()


def test_decode_video_fake_and_stub_gate():
    a1 = multimodal.decode_video(b"xyz", fake_decode=True, width=4,
                                 height=3, n_frames=5)
    a2 = multimodal.decode_video(b"xyz", fake_decode=True, width=4,
                                 height=3, n_frames=5)
    assert a1[0] == list(range(5))
    assert all(np.array_equal(x, y) for x, y in zip(a1[1], a2[1]))
    assert a1[1][0].shape == (3, 4, 3)
    # frames differ across indices (per-frame seeding)
    assert not np.array_equal(a1[1][0], a1[1][1])
    with pytest.raises(NotImplementedError, match="video library"):
        multimodal.decode_video(b"no container signature here")
    # the fake audio decode is deterministic too, and its int16 samples
    # normalize to [-1, 1)
    a, ra = multimodal.decode_audio(b"xyz", fake_decode=True)
    b, rb = multimodal.decode_audio(b"xyz", fake_decode=True)
    assert a.dtype == np.int16 and np.array_equal(a, b) and ra == rb
    norm = multimodal._audio_normalize(np.array([[-32768], [16384]],
                                                np.int16))
    assert np.allclose(norm, [-1.0, 0.5])


def test_frame_sample_decoded_fake_path(spark, docs):
    media = multimodal.attach_media(docs.limit(60))
    out = multimodal.frame_sample_decoded(media, every_n=5, dim=4).collect()
    n_expected = (media.filter("kind = 'video'")
                  .selectExpr("sum(cast((n_frames + 4) / 5 as int)) s")
                  .collect()[0].s)
    assert len(out) == n_expected
    assert all(len(r.feature) == 4 for r in out)


def test_frame_sample(spark, docs):
    media = multimodal.attach_media(docs.limit(90))
    frames = multimodal.frame_sample(media, every_n=5)
    rows = frames.select("media_id", "n_frames", "frame_idx").collect()
    assert rows and all(r.frame_idx % 5 == 0 and r.frame_idx < r.n_frames
                        for r in rows)


def test_exact_dedup_tokens(spark):
    from tbl_spark.datagen import generate_df
    import pyspark.sql.functions as F
    df = generate_df(spark, 2000, 2)
    # plant exact token-sequence dups under new ids
    dup = df.limit(15).withColumn("doc_id", F.concat(F.lit("dup-"),
                                                     F.col("doc_id")))
    planted = df.unionByName(dup)
    dup_originals = [r["doc_id"] for r in dup.select(
        F.expr("substring(doc_id, 5)").alias("doc_id")).collect()]
    for verify in (False, True):
        out = dedup.exact_dedup_tokens(planted, verify=verify)
        # fixture itself contains 1 duplicate pair (part-0 edge rows 5/6)
        assert out.count() in (1999, 2000)
        # exactly ONE of each planted pair survives (min doc_id — which
        # side wins depends on lexicographic order, not provenance)
        survivors = out.filter(
            F.col("doc_id").startswith("dup-")
            | F.col("doc_id").isin(dup_originals)).count()
        # 15 pairs → 15 survivors, minus overlap with the fixture's own
        # internal duplicate pair (edge rows 5/6 share tokens), which can
        # merge two planted pairs into one group
        assert 13 <= survivors <= 15


def test_ngram_dedup_tokens(spark):
    from tbl_spark.datagen import generate_df
    import pyspark.sql.functions as F
    df = generate_df(spark, 1000, 2)
    near = (df.limit(10)
            .withColumn("doc_id", F.concat(F.lit("nd-"), F.col("doc_id")))
            .withColumn("tokens", F.concat(F.col("tokens"),
                                           F.array(F.lit(1), F.lit(2)))))
    planted = df.unionByName(near)
    out = dedup.ngram_dedup_tokens(planted)
    dropped = planted.count() - out.count()
    assert dropped >= 8          # ≥ one of nearly every planted pair
    assert out.count() >= 950    # corpus largely intact
