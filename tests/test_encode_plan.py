"""Encode plans: a store's bytes depend only on the input and the plan.

1. Two stores of one input under one plan hold byte-identical blobs per
   (part_id, column), even when the second input is partitioned
   differently and a different dataset with the same column names is
   encoded in between (reused Python workers see its chunks first).
2. Resume: parts removed from a store re-encode to the same bytes.
3. A failed local parquet sample is logged and falls back to a Spark
   sample job that yields the same plan.
4. A store pins its plan in store.json: a run without a plan reuses the
   pin (no audition), a different explicit plan raises, and an explicit
   empty plan is pinned as given.
5. A crash at any rename of the write protocol, driver- or worker-side,
   leaves a store that a rerun completes to the same bytes under the same
   pinned plan.
6. Two runs of one input under one plan write byte-identical data files:
   every file outside the JSON commit records (manifest/, snapshots/).
"""

import contextlib
import json
import logging
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

import tbl_spark.encode as encode_mod
import tbl_spark.store as store_mod
from tbl_spark.datagen import generate_df, write_token_table
from tbl_spark.encode import audition_codec_hints
from tbl_spark.inspect import store_stats
from tbl_spark.store import (ChunkStore, decode_from_store, encode_to_store,
                             encode_to_store_colocated)

PARTS = 8


def _blobs(store: ChunkStore) -> dict[tuple[int, str], bytes]:
    tbl = pa.concat_tables(pq.read_table(f, columns=["part_id", "column",
                                                     "blob"])
                           for f in store.decode_units()[0])
    return {(p, c): b for p, c, b in zip(tbl.column("part_id").to_pylist(),
                                         tbl.column("column").to_pylist(),
                                         tbl.column("blob").to_pylist())}


def _data_files(store: ChunkStore) -> dict[str, bytes]:
    """Every file of the store but its JSON commit records (manifest/,
    snapshots/) and staging leftovers, by path relative to the root."""
    out = {}
    for d, _, names in os.walk(store.root):
        rel = os.path.relpath(d, store.root)
        if rel.split(os.sep)[0] not in ("manifest", "snapshots", "_staging"):
            for name in names:
                with open(os.path.join(d, name), "rb") as f:
                    out[os.path.normpath(os.path.join(rel, name))] = f.read()
    return out


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


def test_two_runs_write_byte_identical_data_files(token_df, plan, tmp_path):
    """Two encode + compaction passes of one input under one plan, into
    two fresh stores, write the same bytes to every file outside the JSON
    commit records: loose parts, waves, stats, store.json and the shared
    tables. Data files hold no timing."""
    stores = [ChunkStore(str(tmp_path / name)) for name in ("a", "b")]
    for store in stores:
        encode_to_store(token_df, store, PARTS, codec_hints=plan)
        assert store.compact(3) == 2           # 2 waves + 2 loose parts
        assert os.listdir(store.staging_dir) == []
    first, second = map(_data_files, stores)
    assert {os.path.dirname(f) for f in first} == \
        {"", "chunks", "waves", "stats"}
    assert "shared_tables.json" in first and "store.json" in first
    assert first == second


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


# -- the plan pinned in store.json ----------------------------------------

COLS = ["doc_id", "tokens", "n_tok", "source"]


@pytest.fixture(scope="module")
def parquet_src(tmp_path_factory):
    src = str(tmp_path_factory.mktemp("plan-src") / "in")
    write_token_table(src, 1200, n_parts=2)
    return src


def _forbid_audition(monkeypatch):
    def audition(*args, **kwargs):
        raise AssertionError("audition_codec_hints was called")
    monkeypatch.setattr(store_mod, "audition_codec_hints", audition)
    monkeypatch.setattr(encode_mod, "audition_codec_hints", audition)


def _drop_parts(store: ChunkStore, parts) -> None:
    for p in parts:
        os.remove(os.path.join(store.chunks_dir, f"part-{p:05d}.parquet"))
        os.remove(os.path.join(store.manifest_dir, f"part-{p:05d}.json"))


def _checksum(df) -> tuple:
    row = df.agg(F.count(F.lit(1)),
                 F.sum(F.xxhash64(*COLS).cast("decimal(38,0)"))).first()
    return tuple(row)


def test_plan_json_round_trip():
    from tbl_spark.codecs.core import (build_shared_table, describe_plan,
                                       plan_from_json, plan_to_json,
                                       shared_table_fp)
    from tbl_spark.codecs.format import Codec
    rng = np.random.default_rng(3)
    blob = build_shared_table(rng.zipf(1.3, 1 << 17).clip(0, 4000))
    assert blob is not None
    plan = {"doc_id": Codec.STR_TEMPLATE, "n_tok": int(Codec.FOR_BITPACK),
            "tokens.values": blob,
            "text": ((200, 101, 32), (201, 116, 104), (202, 200, 201))}
    record = json.loads(json.dumps(plan_to_json(plan)))
    assert record["tokens.values"] == {
        "table": f"{shared_table_fp(blob):016x}"}
    assert record["text"] == {"fsst": [[200, 101, 32], [201, 116, 104],
                                       [202, 200, 201]]}
    assert len(json.dumps(record)) < 200      # the blob is not copied in
    assert plan_from_json(record, {shared_table_fp(blob): blob}) == plan
    assert describe_plan(record) == {
        "doc_id": "str_template", "n_tok": "for_bitpack",
        "tokens.values": f"shared table {shared_table_fp(blob):016x}",
        "text": "fsst 3 merges"}
    with pytest.raises(ValueError, match="tokens.values"):
        plan_from_json(record, {})


def test_resume_without_plan_reuses_pin(spark, parquet_src, tmp_path,
                                        monkeypatch):
    df = spark.read.parquet(parquet_src)
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(df, store, PARTS)
    assert "plan" in store.read_meta()
    want = _blobs(store)
    assert len(want) == 4 * PARTS
    lost = sorted(store.committed_parts())[::2]
    _drop_parts(store, lost)
    _forbid_audition(monkeypatch)
    summary = encode_to_store(df, store, PARTS)
    assert summary["encoded_parts"] == len(lost)
    assert _blobs(store) == want
    shown = store_stats(store)["plan"]
    assert shown["doc_id"] == "str_template"
    assert shown["tokens.values"].startswith("shared table ")


def test_explicit_plan_must_match_pin(token_df, plan, tmp_path):
    from tbl_spark.codecs.format import Codec
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(token_df, store, PARTS, codec_hints=plan)
    other = {**plan, "n_tok": int(Codec.RAW)}
    with pytest.raises(ValueError, match=r"\['n_tok'\]"):
        encode_to_store(token_df, store, PARTS, codec_hints=other)
    with pytest.raises(ValueError, match="differs") as err:
        encode_to_store(token_df, store, PARTS, codec_hints={})
    assert all(repr(k) in str(err.value) for k in plan)
    summary = encode_to_store(token_df, store, PARTS, codec_hints=plan)
    assert summary["encoded_parts"] == 0
    # an explicit empty plan is pinned as given, even on an empty frame
    empty = ChunkStore(str(tmp_path / "empty"))
    encode_to_store(token_df.limit(0), empty, PARTS, codec_hints={})
    assert empty.read_meta()["plan"] == {}


def test_racing_first_encodes_share_one_pin(tmp_path):
    """Two first encodes of one new store: the second starts while the
    first is still auditioning, with a different audition of its own.
    The read-audition-pin runs under a lock, so the second waits and
    loads the first one's pin, and both encode under the pinned plan."""
    import threading
    import time

    from tbl_spark.codecs.core import plan_from_json
    from tbl_spark.codecs.format import Codec
    store = ChunkStore(str(tmp_path / "store"))
    store.init_dirs()
    meta = {"mode": "salted", "num_parts": PARTS}
    auditioning = threading.Event()
    plans = {}

    def slow_audition():
        auditioning.set()
        time.sleep(0.5)
        return {"n_tok": int(Codec.RAW)}

    def encode(name, audition):
        plans[name] = store.check_or_init_meta(meta, None, audition)

    first = threading.Thread(target=encode, args=("first", slow_audition))
    first.start()
    assert auditioning.wait(10)
    encode("second", lambda: {"n_tok": int(Codec.FOR_BITPACK)})
    first.join(10)
    assert not first.is_alive()
    pinned = plan_from_json(store.read_meta()["plan"], {})
    assert plans == {"first": pinned, "second": pinned}
    assert pinned == {"n_tok": int(Codec.RAW)}

    # 16 racers, each with its own audition: one pin, and every racer
    # returns it
    store = ChunkStore(str(tmp_path / "crowded"))
    store.init_dirs()
    plans.clear()
    codecs = [int(c) for c in Codec]

    def audition_of(codec):
        def audition():
            time.sleep(0.01)
            return {"n_tok": codec}
        return audition

    racers = [threading.Thread(target=encode, args=(i, audition_of(c)))
              for i, c in enumerate(codecs)]
    for t in racers:
        t.start()
    for t in racers:
        t.join(30)
    assert not any(t.is_alive() for t in racers)
    pinned = plan_from_json(store.read_meta()["plan"], {})
    assert plans == {i: pinned for i in range(len(codecs))}


def test_colocated_rerun_loads_pin(spark, parquet_src, tmp_path,
                                   monkeypatch):
    from tbl_spark.codecs.core import plan_to_json
    df = spark.read.parquet(parquet_src)
    store = ChunkStore(str(tmp_path / "store"))
    first = encode_to_store_colocated(df, store, 60_000)
    assert first["encoded_parts"] >= 2
    plan = audition_codec_hints(df)
    assert store.read_meta()["plan"] == plan_to_json(plan)
    _forbid_audition(monkeypatch)
    assert encode_to_store_colocated(df, store, 60_000)["encoded_parts"] \
        == 0
    with pytest.raises(ValueError, match="differs"):
        encode_to_store_colocated(df, store, 60_000, codec_hints={})


@contextlib.contextmanager
def _job_group(sc):
    group = f"g-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "tracked")
    try:
        yield group
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_bare_parquet_first_encode_auditions_without_spark_jobs(
        spark, parquet_src, tmp_path, monkeypatch):
    sc = spark.sparkContext
    groups = []

    def audition(frame, *args, **kwargs):
        with _job_group(sc) as group:
            groups.append(group)
            return audition_codec_hints(frame, *args, **kwargs)

    monkeypatch.setattr(store_mod, "audition_codec_hints", audition)
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(spark.read.parquet(parquet_src), store, PARTS)
    assert len(groups) == 1
    assert sc.statusTracker().getJobIdsForGroup(groups[0]) == []
    assert len(store.committed_parts()) == PARTS


def test_projected_frame_logs_leaving_local_sample(spark, parquet_src,
                                                   caplog):
    df = spark.read.parquet(parquet_src).select("doc_id", "n_tok")
    with caplog.at_level(logging.INFO, logger="tbl_spark"):
        audition_codec_hints(df)
    declined = [r for r in caplog.records
                if "not a bare local parquet relation" in r.getMessage()]
    assert len(declined) == 1
    assert declined[0].levelno == logging.INFO


# -- crash points ----------------------------------------------------------

class _Crash(Exception):
    pass


def test_crash_at_each_driver_side_rename_recovers(spark, parquet_src,
                                                   tmp_path, monkeypatch):
    """Fail each os.replace the driver (or in-process compaction) makes
    in turn: shared tables, store.json with the plan, the snapshot, and
    each wave's parquet, stats and manifest. Rerunning the encode and the
    compaction must leave a store with the clean run's pinned plan, blobs
    and data-file bytes, decoding to the source."""
    df = spark.read.parquet(parquet_src)
    want_sum = _checksum(df)

    def run(store):
        encode_to_store(df, store, 4)
        store.compact(2)

    clean = ChunkStore(str(tmp_path / "clean"))
    run(clean)
    want_plan, want_blobs = clean.read_meta()["plan"], _blobs(clean)
    want_files = _data_files(clean)
    real = os.replace
    crashed_at = []
    for k in range(1, 20):
        store = ChunkStore(str(tmp_path / f"crash-{k}"))
        seen = []

        def replace(src, dst, *args, **kwargs):
            if str(dst).startswith(store.root):
                seen.append(dst)
                if len(seen) == k:
                    raise _Crash(dst)
            return real(src, dst, *args, **kwargs)

        monkeypatch.setattr(store_mod.os, "replace", replace)
        try:
            run(store)
        except _Crash as e:
            crashed_at.append(os.path.relpath(str(e), store.root))
        else:
            break
        finally:
            monkeypatch.setattr(store_mod.os, "replace", real)
        run(store)
        assert store.read_meta()["plan"] == want_plan, crashed_at[-1]
        assert _blobs(store) == want_blobs, crashed_at[-1]
        assert _data_files(store) == want_files, crashed_at[-1]
        assert _checksum(decode_from_store(store, spark)) == want_sum
    else:
        pytest.fail("every run crashed")
    names = {os.path.basename(p) for p in crashed_at}
    assert {"shared_tables.json", "store.json", "snap-000000.json",
            "wave-000000.parquet", "wave-000000.json",
            "wave-000001.json"} <= names
    assert os.path.join("stats", "wave-000000.parquet") in crashed_at


def test_crash_at_each_worker_side_rename_recovers(spark, parquet_src,
                                                   tmp_path, monkeypatch):
    """Fail each os.replace a worker makes, running the worker's module
    function in-process: the chunk parquet and part manifest of
    `encode_part` (the per-part commit of both encoders) and the wave
    parquet, stats and manifest of `_write_wave` (a distributed
    compaction's task). Rerunning the encode and a distributed compaction
    must write the clean run's data files byte for byte."""
    import shutil

    from tbl_spark.codecs.core import plan_from_json
    from tbl_spark.encode import cluster_sort_keys
    from tbl_spark.partitioning import PART_COL, with_part_id
    df = spark.read.parquet(parquet_src)

    def finish(store):
        encode_to_store(df, store, 4)
        store.compact(2, spark=spark)

    base = ChunkStore(str(tmp_path / "base"))
    encode_to_store(df, base, 4)                # committed, not compacted
    clean = ChunkStore(str(tmp_path / "clean"))
    shutil.copytree(base.root, clean.root)
    finish(clean)
    want = _data_files(clean)
    assert _checksum(decode_from_store(clean, spark)) == _checksum(df)

    # part 0's rows and encode inputs, as encode_to_store's task gets them
    meta = base.read_meta()
    salt = tuple(meta["salt_cols"])
    keyed = with_part_id(df, 4, salt)
    rows = keyed.filter(F.col(PART_COL) == 0).toArrow()
    spark_types = {f.name: f.dataType.simpleString()
                   for f in df.schema.fields}
    plan = plan_from_json(meta["plan"], base.read_shared_tables())
    sort_keys = cluster_sort_keys(keyed, salt)

    def reencode_part_0(store):
        _drop_parts(store, [0])
        store_mod.encode_part(store.root, 0, rows, spark_types, plan,
                              sort_keys)

    def compact_in_process(store):
        for seq, parts in store.plan_waves(2):
            store_mod._write_wave(store.root, seq, parts)

    real = os.replace
    crashed_at = []
    for step, clean_run in ((reencode_part_0, base),
                            (compact_in_process, clean)):
        for k in range(1, 10):
            store = ChunkStore(str(tmp_path / f"{step.__name__}-{k}"))
            shutil.copytree(base.root, store.root)
            seen = []

            def replace(src, dst, *args, **kwargs):
                if str(dst).startswith(store.root):
                    seen.append(dst)
                    if len(seen) == k:
                        raise _Crash(dst)
                return real(src, dst, *args, **kwargs)

            monkeypatch.setattr(store_mod.os, "replace", replace)
            try:
                step(store)
            except _Crash as e:
                crashed_at.append(os.path.relpath(str(e), store.root))
            else:
                # uncrashed, the in-process step writes what the workers do
                assert _data_files(store) == _data_files(clean_run)
                break
            finally:
                monkeypatch.setattr(store_mod.os, "replace", real)
            finish(store)
            assert _data_files(store) == want, crashed_at[-1]
        else:
            pytest.fail(f"every {step.__name__} run crashed")
    waves = [os.path.join(d, f"wave-{seq:06d}.{ext}")
             for seq in (0, 1) for d, ext in (("waves", "parquet"),
                                              ("stats", "parquet"),
                                              ("manifest", "json"))]
    assert crashed_at == [os.path.join("chunks", "part-00000.parquet"),
                          os.path.join("manifest", "part-00000.json"),
                          *waves]
