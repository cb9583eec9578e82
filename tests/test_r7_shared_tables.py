"""Shared rANS tables (VERDICT r6 #7 — the dictionary-page analog).

Per-chunk rANS side-tables cost 0.0535 B/token at bench-size 400k-token
chunks; a Laplace-smoothed dense-range table built once from the driver
audition sample and shared by every chunk removes that cost (measured
1.1167 vs 1.1682 B/token on the bench token distribution). These tests
pin the correctness surface:

1. build eligibility gates (dtype / size / sparsity / outlier range);
2. bit-exact codec roundtrip incl. out-of-range exception values;
3. corrupt-blob and unregistered-fingerprint error contracts;
4. planned-table declines: a chunk of a DIFFERENT dataset under the
   column's name falls back to its own audition, and one outlier-heavy
   chunk leaves the plan in force for the next chunk;
5. Spark end-to-end: encode -> all three decode paths, sentinel-row
   accounting, parquet-reload fallback, store sidecar + fresh-process
   decode, and the compression win itself.
"""

import numpy as np
import pytest

from tbl_spark.codecs import blob_codec, decode_array, encode_array
from tbl_spark.codecs.core import (
    _rans_shared_payload,
    _shared_tables,
    build_shared_table,
    register_shared_table,
)
from tbl_spark.codecs.format import Codec


@pytest.fixture(autouse=True)
def _clean_registry():
    _shared_tables.clear()
    yield
    _shared_tables.clear()


def _zipf_tokens(n, seed=0, vocab=50_257):
    rng = np.random.default_rng(seed)
    return ((rng.zipf(1.2, n) - 1) % vocab).astype(np.int32)


# -- 1. eligibility gates -----------------------------------------------------

def test_build_declines_non_integer():
    assert build_shared_table(np.random.default_rng(0)
                              .normal(size=100_000)) is None


def test_build_declines_small_sample():
    assert build_shared_table(_zipf_tokens(1000)) is None


def test_build_declines_sparse_alphabet():
    # 1k distinct values spread over a 10M range: dense table would be
    # >= 16x larger than the alphabet — per-chunk dict/rans wins
    rng = np.random.default_rng(1)
    vals = rng.choice(rng.integers(0, 10_000_000, 1000), 100_000)
    assert build_shared_table(vals) is None


def test_build_survives_extreme_outlier():
    # a single int32-max row must not produce a 2^31-wide table (the
    # naive [min, max] range allocates a 17 GB bincount) — the
    # quantile-anchored range excludes it and the chunk-side exception
    # list carries it
    v = _zipf_tokens(200_000, seed=2)
    v[12345] = 2**31 - 1
    blob = build_shared_table(v)
    assert blob is not None
    fp = register_shared_table(blob)
    lo, hi, freqs = _shared_tables[fp]
    assert hi < 2**31 - 1 and len(freqs) == hi - lo + 1


def test_build_keeps_dense_vocab_tail():
    # quantile cut alone would chop the top ~40 token ids of a Zipf-
    # mod-vocab stream and push EVERY chunk out of range; the gap
    # extension keeps the dense tail inside the table
    v = _zipf_tokens(300_000, seed=3)
    blob = build_shared_table(v)
    fp = register_shared_table(blob)
    _lo, hi, _f = _shared_tables[fp]
    assert hi == int(v.max())


# -- 2. codec roundtrip -------------------------------------------------------

def test_shared_roundtrip_exact_with_exceptions():
    sample = _zipf_tokens(200_000, seed=4)
    plan = {"tok": build_shared_table(sample)}
    chunk = _zipf_tokens(100_000, seed=5)
    chunk[::25_000] = 2**31 - 1          # 4 out-of-range exception values
    enc = encode_array(chunk, cache_key="tok", plan=plan)
    assert blob_codec(enc) == "rans_shared"
    dec, valid = decode_array(enc)
    assert valid is None
    np.testing.assert_array_equal(dec, chunk)


def test_shared_smaller_than_per_chunk_tables():
    sample = _zipf_tokens(1_000_000, seed=6)
    plan = {"tok": build_shared_table(sample)}
    chunk = _zipf_tokens(400_000, seed=7)
    enc_shared = encode_array(chunk, cache_key="tok", plan=plan)
    enc_solo = encode_array(chunk)        # no plan: per-chunk tables
    assert blob_codec(enc_shared) == "rans_shared"
    # the win is the per-chunk table cost (~21 KB) minus state overhead
    assert len(enc_solo) - len(enc_shared) > 10_000


# -- 3. error contracts -------------------------------------------------------

def test_corrupt_table_blob_raises():
    blob = build_shared_table(_zipf_tokens(200_000, seed=8))
    with pytest.raises(ValueError, match="corrupt"):
        register_shared_table(b"XXXX" + blob[4:])
    with pytest.raises(ValueError, match="corrupt"):
        register_shared_table(blob[:15])
    # body tampering that breaks the freq-table invariant
    with pytest.raises(ValueError, match="corrupt"):
        register_shared_table(blob[:5] + b"\x00" * 16 + blob[21:])


def test_unregistered_fingerprint_raises_helpfully():
    plan = {"tok": build_shared_table(_zipf_tokens(200_000, seed=9))}
    enc = encode_array(_zipf_tokens(50_000, seed=10), cache_key="tok",
                       plan=plan)
    assert blob_codec(enc) == "rans_shared"
    _shared_tables.clear()
    with pytest.raises(ValueError, match="not.*registered|registered"):
        decode_array(enc)


# -- 4. planned-table declines -----------------------------------------------

def test_different_dataset_same_column_falls_back():
    # the r6 staleness lesson: a column planned onto a shared table must
    # not mis-encode a chunk whose values sit outside the table range
    plan = {"tok": build_shared_table(_zipf_tokens(200_000, seed=11))}
    other = np.random.default_rng(12).integers(
        10_000_000, 20_000_000, 300_000)
    enc = encode_array(other, cache_key="tok", plan=plan)
    assert blob_codec(enc) != "rans_shared"
    dec, _ = decode_array(enc)
    np.testing.assert_array_equal(dec, other)


def test_one_outlier_chunk_does_not_evict_shared_choice():
    # ONE declined chunk leaves the planned table in force for the next
    # in-range chunk, which encodes exactly as it would have alone
    plan = {"tok": build_shared_table(_zipf_tokens(200_000, seed=13))}
    good = _zipf_tokens(50_000, seed=15)
    alone = encode_array(good, cache_key="tok", plan=plan)
    bad = np.random.default_rng(14).integers(10**9, 2 * 10**9, 50_000)
    enc_bad = encode_array(bad, cache_key="tok", plan=plan)
    assert blob_codec(enc_bad) != "rans_shared"
    enc_good = encode_array(good, cache_key="tok", plan=plan)
    assert blob_codec(enc_good) == "rans_shared" and enc_good == alone
    dec, _ = decode_array(enc_good)
    np.testing.assert_array_equal(dec, good)


def test_declined_payload_none_outside_registry():
    assert _rans_shared_payload(np.arange(10_000), fp=12345) is None


# -- 5. Spark end-to-end ------------------------------------------------------

@pytest.fixture(scope="module")
def token_df(spark):
    from tbl_spark.datagen import generate_df
    df = generate_df(spark, 2000, 8).cache()  # deterministic generator
    df.count()
    return df


def _row_hash(df):
    row = df.selectExpr(
        "sum(hash(doc_id, tokens, n_tok, source)) h", "count(*) c"
    ).collect()[0]
    return row.h, row.c


def test_audition_builds_shared_table(spark, token_df):
    from tbl_spark.encode import audition_codec_hints
    hints = audition_codec_hints(token_df)
    assert isinstance(hints.get("tokens.values"), bytes)


def test_spark_roundtrips_and_sentinel_accounting(spark, token_df):
    import pyspark.sql.functions as F

    from tbl_spark.datagen import SPARK_SCHEMA_DDL
    from tbl_spark.decode import decode_chunks_colocated
    from tbl_spark.encode import audition_codec_hints, encode_chunks
    hints = audition_codec_hints(token_df)
    chunks = encode_chunks(token_df, 8, codec_hints=hints)
    assert getattr(chunks, "tbl_shared_tables", None), \
        "encode must attach the tables to its result DataFrame"

    sent = chunks.filter(F.col("codec") == "rans_table").collect()
    assert len(sent) == 1
    s = sent[0]
    assert (s.part_id == -1 and s.column == "tokens" and s.n_rows == 0
            and s.n_values == 0 and s.logical_bytes == 0
            and s.enc_bytes == len(bytes(s.blob)) > 0), \
        "sentinel rows carry ONLY the table bytes (honest accounting)"

    want = _row_hash(token_df)
    assert _row_hash(decode_chunks_colocated(chunks,
                                             SPARK_SCHEMA_DDL)) == want
    # a cached copy takes the coalescing path; its sentinel rows come
    # along and are dropped there too
    cached = chunks.cache()
    assert _row_hash(decode_chunks_colocated(cached,
                                             SPARK_SCHEMA_DDL)) == want
    cached.unpersist()


def test_parquet_reload_decodes_via_sentinel_rows(spark, token_df,
                                                  tmp_path):
    from tbl_spark.datagen import SPARK_SCHEMA_DDL
    from tbl_spark.decode import decode_chunks_colocated
    from tbl_spark.encode import encode_chunks
    chunks = encode_chunks(token_df, 8)
    d = str(tmp_path / "chunks")
    chunks.write.parquet(d)
    back = spark.read.parquet(d)     # attribute gone: sentinel fallback
    assert not hasattr(back, "tbl_shared_tables")
    _shared_tables.clear()
    assert _row_hash(decode_chunks_colocated(
        back, SPARK_SCHEMA_DDL)) == _row_hash(token_df)


def test_store_sidecar_and_fresh_process_decode(spark, token_df,
                                                tmp_path):
    import os

    from tbl_spark.store import (ChunkStore, decode_from_store,
                                 encode_to_store)
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(token_df, store, 8, salt_cols=("doc_id",))
    assert os.path.exists(store.shared_tables_path)
    tables = store.read_shared_tables()
    assert len(tables) == 1
    _shared_tables.clear()           # fresh-process simulation
    assert _row_hash(decode_from_store(store, spark)) == \
        _row_hash(token_df)
    # resume-compat: a second run on the same store must pass the meta
    # pin (tables live in the sidecar, NOT the pinned store.json)
    encode_to_store(token_df, store, 8, salt_cols=("doc_id",))


def test_shared_tables_cut_tokens_column_size(spark, token_df):
    import pyspark.sql.functions as F

    from tbl_spark.encode import audition_codec_hints, encode_chunks

    def tokens_bytes(chunks):
        r = (chunks.filter(F.col("column") == "tokens")
             .agg(F.sum("enc_bytes").alias("e"),
                  F.sum(F.when(F.col("codec") != "rans_table",
                               F.col("n_values"))).alias("n"))
             .collect()[0])
        return r.e, r.n

    hints = audition_codec_hints(token_df)
    e_shared, n = tokens_bytes(encode_chunks(token_df, 8,
                                             codec_hints=hints))
    no_shared = {k: v for k, v in hints.items()
                 if not isinstance(v, (bytes, bytearray))}
    no_shared["tokens.values"] = int(Codec.RANS)
    e_solo, n2 = tokens_bytes(encode_chunks(token_df, 8,
                                            codec_hints=no_shared))
    assert n == n2
    # 8 chunks of per-chunk tables (~15 KB each at this 100k-token
    # chunk size) vs ONE ~24 KB shared table + per-chunk states; the
    # shared e includes the sentinel row's table bytes (measured win
    # ~47 KB = 0.058 B/token here; larger at bench chunk sizes where
    # per-chunk tables are ~21 KB)
    assert e_solo - e_shared > 30_000, (e_solo, e_shared)


def test_bench_size_bytes_per_token_gate(spark):
    """VERDICT r6 #7 bar: bench-chunk (400k-token) compressed size
    <= 1.15 B/token — the shared rANS tables amortize the per-chunk
    side-table cost that kept the bench geometry at 1.1761."""
    import pyspark.sql.functions as F

    from tbl_spark.datagen import generate_df
    from tbl_spark.encode import encode_chunks

    df = generate_df(spark, 4_000, 8).cache()
    total = df.agg(F.sum("n_tok")).collect()[0][0]
    parts = max(1, int(total) // 400_000)
    agg = (encode_chunks(df, parts)
           .agg(F.sum("enc_bytes").alias("enc"),
                F.sum(F.when(F.col("column") == "tokens",
                             F.col("n_values"))).alias("tokens"))
           .collect()[0])
    df.unpersist()
    bpt = agg["enc"] / agg["tokens"]
    assert bpt <= 1.15, f"bench bytes/token {bpt:.4f} > 1.15"


def test_side_stream_shared_tables_roundtrip_at_scale(spark):
    """The r7 side-stream audition (shared tables for list LENGTHS and
    scalar metadata like n_tok) only triggers above its 32k-row sample
    floor — below it the hint path is dormant, which is exactly why
    this test runs at 36k rows: the hints must actually ship, the
    encode must emit RANS_SHARED side streams on ~1.1k-row chunks
    (honoring a seeded shared choice below the audition size gate),
    and the decode must reproduce every column bit-exactly."""
    import pyspark.sql.functions as F

    from tbl_spark.datagen import SPARK_SCHEMA_DDL, generate_df
    from tbl_spark.decode import decode_chunks_colocated
    from tbl_spark.encode import audition_codec_hints, encode_chunks

    df = generate_df(spark, 36_000, 32).cache()
    hints = audition_codec_hints(df)
    assert isinstance(hints.get("tokens.lengths"), (bytes, bytearray)), \
        "lengths side stream did not get a shared table hint"
    assert isinstance(hints.get("n_tok"), (bytes, bytearray)), \
        "n_tok did not get a shared table hint"
    enc = encode_chunks(df, 32, codec_hints=hints).cache()
    # the sentinel rows must deliver MULTIPLE distinct tables
    n_tables = enc.where(F.col("part_id") == -1).count()
    assert n_tables >= 2, n_tables
    # and the scalar side stream must actually ride the shared table
    # on every ~1.1k-row chunk (the seeded choice below the size gate)
    ntok_codecs = {r["codec"] for r in
                   enc.where("part_id >= 0 AND column = 'n_tok'")
                   .select("codec").distinct().collect()}
    assert ntok_codecs == {"rans_shared"}, ntok_codecs
    back = decode_chunks_colocated(enc, SPARK_SCHEMA_DDL)
    mism = (df.alias("x").join(back.alias("y"), "doc_id")
            .where("x.n_tok != y.n_tok OR x.tokens != y.tokens "
                   "OR x.source != y.source").count())
    assert mism == 0
    assert back.count() == 36_000
    enc.unpersist()
    df.unpersist()
