"""Encode plans: a store's bytes depend only on the input and the plan.

1. Two stores of one input under one plan hold byte-identical blobs per
   (part_id, column), even when the second input is partitioned
   differently and a different dataset with the same column names is
   encoded in between (reused Python workers see its chunks first).
2. Resume: parts removed from a store re-encode to the same bytes.
3. A failed local parquet sample is logged and falls back to a Spark
   sample job that yields the same plan.
"""

import logging
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from tbl_spark.datagen import generate_df
from tbl_spark.encode import audition_codec_hints
from tbl_spark.store import ChunkStore, encode_to_store

PARTS = 8


def _blobs(store: ChunkStore) -> dict[tuple[int, str], bytes]:
    tbl = pa.concat_tables(pq.read_table(f, columns=["part_id", "column",
                                                     "blob"])
                           for f in store.data_files())
    return {(p, c): b for p, c, b in zip(tbl.column("part_id").to_pylist(),
                                         tbl.column("column").to_pylist(),
                                         tbl.column("blob").to_pylist())}


@pytest.fixture(scope="module")
def token_df(spark):
    df = generate_df(spark, 2400, 4).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def plan(token_df):
    return audition_codec_hints(token_df)


@pytest.fixture(scope="module")
def first_store(token_df, plan, tmp_path_factory):
    store = ChunkStore(str(tmp_path_factory.mktemp("plan") / "first"))
    encode_to_store(token_df, store, PARTS, codec_hints=plan)
    return store


def test_plan_covers_string_columns(plan):
    from tbl_spark.codecs.format import Codec
    assert plan["doc_id"] == Codec.STR_TEMPLATE
    assert plan["source"] == Codec.STR_DICT


def test_store_bytes_independent_of_layout_and_worker_history(
        spark, token_df, plan, first_store, tmp_path):
    # a same-named dataset whose string columns are free text, encoded
    # under its own plan; without AQE coalescing its chunks spread over
    # every Python worker the next encode may reuse
    other = (generate_df(spark, 1600, 8, seed=7)
             .withColumn("source", F.concat_ws(
                 " ", F.lit("lorem ipsum"), F.col("doc_id"),
                 F.lit("dolor sit amet consectetur")))
             .withColumn("doc_id", F.concat(F.col("doc_id"), F.lit(" x"))))
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try:
        encode_to_store(other, ChunkStore(str(tmp_path / "other")), 16)
    finally:
        spark.conf.set(key, "true")
    second = ChunkStore(str(tmp_path / "second"))
    encode_to_store(token_df.repartition(7), second, PARTS,
                    codec_hints=plan)
    want = _blobs(first_store)
    assert len(want) == 4 * PARTS
    assert _blobs(second) == want
    assert second.read_shared_tables() == first_store.read_shared_tables()


def test_resume_reencodes_identical_bytes(token_df, plan, first_store):
    want = _blobs(first_store)
    lost = sorted(first_store.committed_parts())[::3]
    for p in lost:
        os.remove(os.path.join(first_store.chunks_dir,
                               f"part-{p:05d}.parquet"))
        os.remove(os.path.join(first_store.manifest_dir,
                               f"part-{p:05d}.json"))
    summary = encode_to_store(token_df, first_store, PARTS,
                              codec_hints=plan)
    assert summary["encoded_parts"] == len(lost)
    assert _blobs(first_store) == want


def test_local_sample_failure_is_logged(spark, tmp_path, monkeypatch,
                                        caplog):
    src = str(tmp_path / "in")
    generate_df(spark, 1500, 2).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    want = audition_codec_hints(df)

    def broken(*args, **kwargs):
        raise OSError("simulated reader failure")

    monkeypatch.setattr(pq, "ParquetFile", broken)
    with caplog.at_level(logging.WARNING, logger="tbl_spark"):
        got = audition_codec_hints(df)
    records = [r for r in caplog.records
               if "local parquet sample failed" in r.getMessage()]
    assert len(records) == 1
    assert "simulated reader failure" in records[0].getMessage()
    assert got == want
