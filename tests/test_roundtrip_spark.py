"""End-to-end Spark roundtrip (SURVEY.md §5.2, the tbl-analog):
synthesize token table → encode → decode → per-row tokens equality
(BASELINE.json per-row invariant) + compressed bytes ≤ zstd-parquet
baseline of the same rows."""

import pyspark.sql.functions as F
import pytest

from tbl_spark.datagen import SPARK_SCHEMA_DDL, generate_df, write_token_table
from tbl_spark.decode import decode_chunks_colocated
from tbl_spark.encode import encode_chunks
from tbl_spark.partitioning import with_part_id

N_DOCS = 20_000
N_GEN_PARTS = 8
N_CHUNKS = 16


@pytest.fixture(scope="module")
def token_df(spark):
    return generate_df(spark, N_DOCS, N_GEN_PARTS)


@pytest.fixture(scope="module")
def chunks(spark, token_df):
    c = encode_chunks(token_df, num_parts=N_CHUNKS)
    c.cache()
    c.count()
    return c


def test_roundtrip_bit_identical(spark, token_df, chunks):
    decoded = decode_chunks_colocated(chunks, SPARK_SCHEMA_DDL)
    src = token_df
    j = src.alias("a").join(decoded.alias("b"), "doc_id", "full_outer")
    n_total = j.count()
    n_equal = j.filter(
        (F.col("a.tokens") == F.col("b.tokens"))
        & (F.col("a.n_tok") == F.col("b.n_tok"))
        & (F.col("a.source") == F.col("b.source"))).count()
    assert n_total == N_DOCS
    assert n_equal == N_DOCS  # bit-identical per row, no lost/extra rows


def test_all_chunks_all_columns(chunks):
    # DATA chunk rows only: the shared-table sentinel row (codec
    # 'rans_table', r7) rides in the tokens column for size accounting
    rows = (chunks.filter(F.col("codec") != "rans_table")
            .groupBy("column").count().collect())
    counts = {r["column"]: r["count"] for r in rows}
    assert counts == {c: N_CHUNKS for c in
                      ("doc_id", "tokens", "n_tok", "source")}


def test_compressed_leq_zstd_parquet_baseline(spark, chunks, tmp_path):
    """North-rule gate: our encoded bytes ≤ the reference's zstd-parquet
    sink (crates/tbl-cli/src/output.rs:157-173 defaults) on the same rows."""
    baseline_bytes = write_token_table(
        str(tmp_path / "baseline"), N_DOCS, n_parts=N_GEN_PARTS)
    ours = chunks.agg(F.sum("enc_bytes").alias("enc")).collect()[0]["enc"]
    assert ours <= baseline_bytes, (
        f"encoded {ours} > zstd-parquet baseline {baseline_bytes}")


def test_partitioning_balance_under_skew(spark, token_df):
    """Salted part_id defuses the Zipf source skew: the head source owns
    ~49% of rows, yet no chunk should exceed 2× the mean row count."""
    skew = [r["count"] for r in token_df.groupBy("source").count().collect()]
    head_share = max(skew) / sum(skew)
    assert head_share > 0.35  # the fixture really is skewed
    from tbl_spark.partitioning import PART_COL
    counts = (with_part_id(token_df, N_CHUNKS)
              .groupBy(PART_COL).count().collect())
    sizes = [r["count"] for r in counts]
    assert len(sizes) == N_CHUNKS
    assert max(sizes) < 2 * (sum(sizes) / len(sizes))


def test_decode_column_pruning(spark, chunks):
    """Decoding a projection must not decode unrelated columns: filter the
    chunk table down to the needed columns first (scan-level pruning)."""
    two = chunks.filter(F.col("column").isin("doc_id", "n_tok"))
    decoded = decode_chunks_colocated(two, "doc_id string, n_tok int")
    row = decoded.agg(F.sum("n_tok").alias("s"),
                      F.count("*").alias("n")).collect()[0]
    assert row["n"] == N_DOCS and row["s"] > 0


def test_deterministic_generation(spark):
    a = generate_df(spark, 1000, 2).orderBy("doc_id").collect()
    b = generate_df(spark, 1000, 2).orderBy("doc_id").collect()
    assert a == b


def test_zstd_parquet_matches_generate_df(spark, tmp_path):
    """The parquet baseline artifact contains exactly the same rows as the
    distributed generator (same seed → same table either path)."""
    write_token_table(str(tmp_path / "tt"), 2000, n_parts=4)
    from_disk = spark.read.parquet(str(tmp_path / "tt"))
    n = from_disk.alias("a").join(
        generate_df(spark, 2000, 4).alias("b"), "doc_id").filter(
        (F.col("a.tokens") == F.col("b.tokens"))
        & (F.col("a.source") == F.col("b.source"))).count()
    assert n == 2000
