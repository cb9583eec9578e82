"""Driver-built frames come from Arrow tables.

``spark.createDataFrame(<python list>)`` plans a PythonRDD scan
(``ExistingRDD``) whose tasks unpickle the rows in Python workers; an
Arrow table is read in the JVM and plans a ``LocalTableScan``. These
tests record every frame the store builds on the driver and check its
plan, schema and values.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from tbl_spark.datagen import generate_part
from tbl_spark.partitioning import PART_COL
from tbl_spark.store import (STATS_SCHEMA, UNIT_DDL, ChunkStore,
                             decode_from_store, encode_to_store,
                             encode_to_store_colocated, zone_prune_parts)

COLS = ["doc_id", "tokens", "n_tok", "source", "ts"]


@pytest.fixture
def built_frames(monkeypatch):
    """Every DataFrame ``SparkSession.createDataFrame`` returns."""
    from pyspark.sql import SparkSession
    frames = []
    original = SparkSession.createDataFrame

    def recording(self, *args, **kwargs):
        df = original(self, *args, **kwargs)
        frames.append(df)
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", recording)
    return frames


def _assert_local(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def _frames_of(frames, ddl):
    return [f for f in frames if f.schema.simpleString() == f"struct<{ddl}>"]


def _ddl(ddl):
    from pyspark.sql.types import StructType
    return StructType.fromDDL(ddl).simpleString()[len("struct<"):-1]


def _checksum(df):
    return df.agg(F.count(F.lit(1)),
                  F.sum(F.xxhash64(*COLS).cast("decimal(38,0)"))).first()


@pytest.fixture(scope="module")
def token_input(tmp_path_factory):
    """2,000 token docs in 4 parquet files, plus a timestamp column with
    nulls so the stats rows carry null and timestamp bounds."""
    path = str(tmp_path_factory.mktemp("arrow_frames") / "input")
    os.makedirs(path)
    for part in range(4):
        tbl = generate_part(part, 500, seed=7)
        us = [None if i % 5 == 0 else 1_700_000_000_000_000 + part * 10**9 + i
              for i in range(len(tbl))]
        tbl = tbl.append_column("ts", pa.array(us, pa.timestamp("us", "UTC")))
        pq.write_table(tbl, os.path.join(path, f"part-{part}.parquet"))
    return path


def test_colocated_compaction_and_stats_frames_are_arrow(
        spark, tmp_path, token_input, built_frames):
    df = spark.read.parquet(token_input)
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store_colocated(df, store, tokens_per_chunk=50_000)
    plans = store.plan_waves(1)
    assert len(plans) >= 3
    assert max(p for _, parts in plans for p in parts) > 2**31

    built_frames.clear()
    assert store.compact(1, spark=spark, plans=plans[:2]) == 2
    [plan_df] = _frames_of(built_frames, "seq:int,parts:array<bigint>")
    _assert_local(plan_df)
    assert sorted((r.seq, r.parts) for r in plan_df.collect()) == plans[:2]

    # waves + loose parts: stats_table() reads the stats parquets and
    # flattens the loose JSON manifests on the driver, building no frame
    built_frames.clear()
    want = store.stats_table()
    assert built_frames == []
    assert want.schema == STATS_SCHEMA
    assert {r["part_id"] for r in want.to_pylist()} == \
        store.committed_parts()
    ts = [r for r in want.to_pylist() if r["column"] == "ts"]
    assert ts and all(r["kind"] == "ts" and r["nulls"] > 0
                      and r["lo_num"] is not None for r in ts)
    assert any(r["lo_str"] is None for r in want.to_pylist())
    assert _checksum(decode_from_store(store, spark)) == _checksum(df)


def test_empty_read_chunks_frame_is_arrow(spark, tmp_path, token_input,
                                         built_frames):
    """A predicate that prunes every part decodes to an empty frame of
    the store's schema, built from Arrow: planning and collecting it
    start no job."""
    import uuid
    df = spark.read.parquet(token_input)
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(df, store, 4)
    sc = spark.sparkContext
    group = f"pruned-{uuid.uuid4().hex[:8]}"
    built_frames.clear()
    sc.setJobGroup(group, "fully pruned decode")
    try:
        none_kept = decode_from_store(store, spark, predicate="n_tok>100000")
        assert none_kept.collect() == []
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    [empty] = built_frames
    _assert_local(empty)
    ddl = _ddl(store.read_meta()["schema_ddl"])
    assert empty.schema.simpleString() == f"struct<{ddl}>"
    assert none_kept.schema.simpleString() == f"struct<{ddl}>"
    assert none_kept.count() == 0


def test_selective_decode_plans_only_surviving_row_groups(
        spark, tmp_path, token_input, built_frames):
    """The driver plans a selective decode of a compacted store as the
    surviving parts' (file, row group) units, in one Arrow-built frame,
    and the decode returns exactly the source rows the predicate keeps."""
    df = spark.read.parquet(token_input)
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(df, store, 8)
    assert store.compact(2, spark=spark) == 4
    stats = store.stats_table().to_pylist()
    highs = sorted(r["hi_num"] for r in stats if r["column"] == "n_tok")
    threshold = int(highs[2]) + 1      # at least three parts cannot match
    pred = f"n_tok>={threshold}"
    kept = zone_prune_parts(store, pred)
    assert 0 < len(kept) <= 5

    built_frames.clear()
    got = decode_from_store(store, spark, predicate=pred)
    [units] = _frames_of(built_frames, _ddl(UNIT_DDL))
    _assert_local(units)
    root = os.path.abspath(store.root)
    want = sorted((os.path.join(root, "waves", w["file"]), rg, p)
                  for w in store.waves()
                  for rg, p in enumerate(w["parts"]) if p in kept)
    assert len(want) == len(kept)
    assert sorted(tuple(r) for r in units.collect()) == want
    for path, rg, p in want:
        ids = pq.ParquetFile(path).read_row_group(rg, columns=["part_id"])
        assert set(ids["part_id"].to_pylist()) == {p}
    assert _checksum(got) == _checksum(df.filter(F.col("n_tok") >= threshold))


def test_resume_after_compaction_builds_no_done_frame(
        spark, tmp_path, token_input, built_frames):
    """A resume leaves out the committed parts, waved ones included, with
    a filter on the part id: the driver builds no frame of them."""
    from tbl_spark.encode import audition_codec_hints
    df = spark.read.parquet(token_input)
    plan = audition_codec_hints(df)
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(df, store, 8, codec_hints=plan)
    assert store.compact(2, spark=spark,
                         plans=store.plan_waves(2)[:2]) == 2
    lost = 6
    chunk = os.path.join(store.chunks_dir, f"part-{lost:05d}.parquet")
    blobs = pq.read_table(chunk, columns=["column", "blob"]).to_pylist()
    os.remove(chunk)
    os.remove(os.path.join(store.manifest_dir, f"part-{lost:05d}.json"))

    built_frames.clear()
    summary = encode_to_store(df, store, 8, codec_hints=plan)
    assert (summary["encoded_parts"], summary["skipped_parts"]) == (1, 7)
    assert _frames_of(built_frames, f"{PART_COL}:int") == []
    assert pq.read_table(chunk, columns=["column", "blob"]).to_pylist() \
        == blobs
    assert _checksum(decode_from_store(store, spark)) == _checksum(df)
    assert store.compact(2, spark=spark) == 2
    assert _checksum(decode_from_store(store, spark)) == _checksum(df)
