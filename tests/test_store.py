"""Checkpoint/resume tests (SURVEY.md §5.2 resume test): kill the encode
after k partitions (simulated by a partial manifest), re-run, assert
committed partitions are not recomputed and the final decode is identical."""

import json
import os

import pyspark.sql.functions as F
import pytest

from tbl_spark.datagen import SPARK_SCHEMA_DDL, generate_df
from tbl_spark.store import (ONE_TASK_BYTES, ChunkStore, decode_from_store,
                             encode_to_store)

N_DOCS = 4000
N_CHUNKS = 8


def test_encode_to_store_and_decode(spark, tmp_path):
    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, N_DOCS, 4)
    summary = encode_to_store(df, store, N_CHUNKS)
    assert summary["encoded_parts"] == N_CHUNKS
    assert summary["n_rows"] == N_DOCS
    assert len(store.committed_parts()) == N_CHUNKS

    decoded = decode_from_store(store, spark, SPARK_SCHEMA_DDL)
    n = decoded.alias("b").join(df.alias("a"), "doc_id").filter(
        F.col("a.tokens") == F.col("b.tokens")).count()
    assert n == N_DOCS


def test_resume_skips_committed_parts(spark, tmp_path):
    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, N_DOCS, 4)
    encode_to_store(df, store, N_CHUNKS)

    # simulate an interrupted run: drop commit markers for half the parts
    kept: dict[int, float] = {}
    for part in sorted(store.committed_parts()):
        path = os.path.join(store.manifest_dir, f"part-{part:05d}.json")
        if part % 2 == 0:
            kept[part] = os.path.getmtime(
                os.path.join(store.chunks_dir, f"part-{part:05d}.parquet"))
        else:
            os.remove(path)

    summary = encode_to_store(df, store, N_CHUNKS)
    assert summary["encoded_parts"] == N_CHUNKS // 2   # only the dropped half
    assert summary["skipped_parts"] == N_CHUNKS // 2

    for part, mtime in kept.items():  # committed chunk files untouched
        chunk = os.path.join(store.chunks_dir, f"part-{part:05d}.parquet")
        assert os.path.getmtime(chunk) == mtime

    decoded = decode_from_store(store, spark, SPARK_SCHEMA_DDL)
    n = decoded.alias("b").join(df.alias("a"), "doc_id").filter(
        F.col("a.tokens") == F.col("b.tokens")).count()
    assert n == N_DOCS


def test_crash_between_chunk_and_manifest_is_safe(spark, tmp_path):
    """Orphan chunk file without its manifest marker → re-encoded, then
    overwritten atomically; decode stays correct."""
    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, N_DOCS, 4)
    encode_to_store(df, store, N_CHUNKS)
    victim = sorted(store.committed_parts())[0]
    os.remove(os.path.join(store.manifest_dir, f"part-{victim:05d}.json"))
    # chunk parquet for the victim still exists (the orphan)
    assert os.path.exists(
        os.path.join(store.chunks_dir, f"part-{victim:05d}.parquet"))
    summary = encode_to_store(df, store, N_CHUNKS)
    assert summary["encoded_parts"] == 1
    decoded = decode_from_store(store, spark, SPARK_SCHEMA_DDL)
    assert decoded.count() == N_DOCS


def test_orphan_chunk_file_is_not_decoded(spark, tmp_path):
    """A chunk file whose manifest marker never landed is not committed:
    decode and the stats leave it out alike, until a resume commits it."""
    from tbl_spark.inspect import store_stats
    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, 1000, 2)
    encode_to_store(df, store, 4)
    victim = sorted(store.committed_parts())[0]
    os.remove(os.path.join(store.manifest_dir, f"part-{victim:05d}.json"))
    rows = store_stats(store)["rows"]
    assert 0 < rows < 1000
    assert decode_from_store(store, spark).count() == rows
    assert victim not in {p for units in store.decode_units()[0].values()
                          for _, p in units}
    encode_to_store(df, store, 4)
    assert decode_from_store(store, spark).count() == 1000


def test_manifest_lineage_content(spark, tmp_path):
    assert ChunkStore(str(tmp_path / "empty")).manifest_rows() == []
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(generate_df(spark, 1000, 2), store, 4)
    rows = store.manifest_rows()
    assert len(rows) == 4
    import json
    for r in rows:
        cols = json.loads(r["columns"])
        assert set(cols) == {"doc_id", "tokens", "n_tok", "source"}
        for c in cols.values():
            assert c["enc_bytes"] > 0 and c["codec"]
        assert r["enc_bytes"] == sum(c["enc_bytes"] for c in cols.values())


def test_concurrent_snapshot_appends_keep_every_snapshot(tmp_path,
                                                         monkeypatch):
    """Writers that overlap each other's append each keep a snapshot:
    none takes a sequence number another is about to rename onto."""
    import threading
    import time

    store = ChunkStore(str(tmp_path / "store"))
    store.init_dirs()
    dump = json.dump

    def slow_dump(obj, fh):
        time.sleep(0.2)
        dump(obj, fh)

    monkeypatch.setattr(json, "dump", slow_dump)
    writers = [threading.Thread(target=store.append_snapshot,
                                args=({"writer": i},)) for i in range(4)]
    for t in writers:
        t.start()
    for t in writers:
        t.join()
    assert sorted(s["writer"] for s in store.snapshots()) == [0, 1, 2, 3]


def test_colocated_decode_no_shuffle(spark, tmp_path):
    """decode_from_store must plan NO Exchange (zero-shuffle streaming)."""
    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, 2000, 2)
    encode_to_store(df, store, 6)
    decoded = decode_from_store(store, spark, SPARK_SCHEMA_DDL)
    plan = decoded._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    n = decoded.alias("b").join(df.alias("a"), "doc_id").filter(
        F.col("a.tokens") == F.col("b.tokens")).count()
    assert n == 2000 and decoded.count() == 2000


def test_metrics_df_and_column_pruned_decode(spark, tmp_path):
    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, 1500, 2)
    encode_to_store(df, store, 4)
    # per-part ratio and bytes/token, rolled up from the stats rows
    parts: dict[int, dict] = {}
    for r in store.stats_table().to_pylist():
        p = parts.setdefault(r["part_id"],
                             {"raw": 0, "enc": 0, "n_values": 0})
        p["raw"] += r["raw_bytes"]
        p["enc"] += r["enc_bytes"]
        p["n_values"] = max(p["n_values"], r["n_values"])
    assert len(parts) == 4
    assert all(p["raw"] / p["enc"] > 1.0
               and 0 < p["enc"] / p["n_values"] < 4 for p in parts.values())
    pruned = decode_from_store(store, spark, SPARK_SCHEMA_DDL,
                               columns=["doc_id", "n_tok"])
    assert pruned.columns == ["doc_id", "n_tok"]
    assert pruned.count() == 1500
    # the output keeps the requested order, each column once; a
    # predicate-only column is still dropped after the filter
    assert decode_from_store(store, spark, columns=["n_tok", "doc_id",
                                                    "n_tok"]).columns == \
        ["n_tok", "doc_id"]
    selected = decode_from_store(store, spark, columns=["source", "doc_id"],
                                 predicate="n_tok>=300")
    assert selected.columns == ["source", "doc_id"]
    assert selected.count() == df.filter(F.col("n_tok") >= 300).count()


def test_compaction_wave_files(spark, tmp_path):
    """Compaction coalesces chunk files into wave files (row group per
    part); decode stays zero-shuffle bit-exact; resume still skips all."""
    import pyarrow.parquet as pq

    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, 3000, 4)
    encode_to_store(df, store, 10)
    assert len(store.decode_units()[0]) == 10

    written = store.compact(wave_size=4)
    assert written == 2  # 10 parts -> 2 waves of 4 + 2 loose
    files = store.decode_units()[0]
    assert len(files) == 4  # 2 wave files + 2 loose part files
    wave = [f for f in files if "wave-" in f][0]
    assert pq.read_metadata(wave).num_row_groups == 4  # one per part

    # committed set unchanged; resume re-encodes nothing
    assert len(store.committed_parts()) == 10
    summary = encode_to_store(df, store, 10)
    assert summary["encoded_parts"] == 0 and summary["skipped_parts"] == 10

    # decode: still zero-shuffle, still bit-exact
    decoded = decode_from_store(store, spark, SPARK_SCHEMA_DDL)
    plan = decoded._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    n = decoded.alias("b").join(df.alias("a"), "doc_id").filter(
        F.col("a.tokens") == F.col("b.tokens")).count()
    assert n == 3000

    # per-part lineage survives compaction
    rows = store.manifest_rows()
    assert len(rows) == 10
    from tbl_spark.inspect import store_stats
    assert store_stats(store)["rows"] == 3000

    # compacting again is a no-op (only 2 loose parts < wave_size)
    assert store.compact(wave_size=4) == 0


def test_wave_row_groups_carry_only_part_id_stats(spark, tmp_path):
    """Wave files keep row-group min/max for part_id (the part a row
    group holds) and write none for the other columns, no
    dictionary pages and no Arrow schema; stats sidecars keep no
    statistics. Zone pruning and decode still work from these files."""
    import pyarrow.parquet as pq

    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, 600, 2)
    encode_to_store(df, store, 4)
    assert store.compact(wave_size=2) == 2
    for w in store.waves():
        md = pq.read_metadata(os.path.join(store.root, "waves", w["file"]))
        assert b"ARROW:schema" not in (md.metadata or {})
        assert md.num_row_groups == 2
        for rg, part in zip(range(md.num_row_groups), w["parts"]):
            cols = {md.row_group(rg).column(i).path_in_schema:
                    md.row_group(rg).column(i)
                    for i in range(md.row_group(rg).num_columns)}
            st = cols["part_id"].statistics
            assert st is not None and st.has_min_max
            assert st.min == st.max == part
            assert cols["blob"].statistics is None
            assert not any(c.has_dictionary_page for c in cols.values())
    for path in store.stats_files().values():
        md = pq.read_metadata(path)
        rg = md.row_group(0)
        assert all(rg.column(i).statistics is None
                   for i in range(rg.num_columns))
    decoded = decode_from_store(store, spark, SPARK_SCHEMA_DDL)
    assert decoded.count() == 600


def _job_counts(spark, action):
    """(result, jobs, stages, tasks) of `action()` run under its own job
    group, counted as perfbench counts them."""
    import uuid

    from perfbench.run import spark_counts
    sc = spark.sparkContext
    group = f"job-counts-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    stages, tasks, _ = spark_counts(spark, [group])
    return (out, len(sc.statusTracker().getJobIdsForGroup(group)), stages,
            tasks)


def test_distributed_compaction_runs_one_stage_of_one_wave_per_task(
        spark, tmp_path):
    """The plan frame is a LocalTableScan that Spark already slices into
    one wave per task, so a distributed compaction runs one job of one
    stage with no shuffle, and every wave gets its own task."""
    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, 2000, 4)
    encode_to_store(df, store, 8)
    assert _job_counts(spark, lambda: store.compact(2, spark=spark)) == \
        (4, 1, 1, 4)

    waves = store.waves()
    assert sorted(len(w["parts"]) for w in waves) == [2, 2, 2, 2]
    assert sorted(p for w in waves for p in w["parts"]) == \
        sorted(store.committed_parts())
    assert len(store.decode_units()[0]) == 4
    decoded = decode_from_store(store, spark, SPARK_SCHEMA_DDL)
    assert decoded.count() == 2000
    n = decoded.alias("b").join(df.alias("a"), "doc_id").filter(
        (F.col("a.tokens") == F.col("b.tokens"))
        & (F.col("a.n_tok") == F.col("b.n_tok"))
        & (F.col("a.source") == F.col("b.source"))).count()
    assert n == 2000


def _checksum(df, cols=("doc_id", "tokens", "n_tok", "source")):
    return df.agg(F.count(F.lit(1)),
                  F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).first()


def test_mixed_waves_and_loose_parts_decode_bit_exactly(spark, tmp_path):
    """A store of waves and loose part files decodes to the source, in
    full, projected and selective."""
    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, 2000, 4)
    encode_to_store(df, store, 10)
    assert store.compact(wave_size=3) == 3     # 3 waves + 1 loose part
    files = store.decode_units()[0]
    assert sum("chunks" in f for f in files) == 1
    assert sorted(p for units in files.values() for _, p in units) == \
        list(range(10))
    assert _checksum(decode_from_store(store, spark)) == _checksum(df)
    assert _checksum(decode_from_store(store, spark,
                                       columns=["n_tok", "source"]),
                     ["n_tok", "source"]) == \
        _checksum(df, ["n_tok", "source"])
    got = decode_from_store(store, spark, predicate=["n_tok>=300",
                                                     "n_tok<700"])
    assert _checksum(got) == _checksum(
        df.filter((F.col("n_tok") >= 300) & (F.col("n_tok") < 700)))


def test_row_group_of_another_part_raises(spark, tmp_path):
    """A wave manifest whose part order disagrees with its file's row
    groups, or a store file holding a stray sentinel row, fails the decode
    instead of returning rows under the wrong part or skipping one."""
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(generate_df(spark, 400, 2), store, 2)
    assert store.compact(wave_size=2) == 1
    path = os.path.join(store.manifest_dir, "wave-000000.json")
    with open(path) as f:
        wave = json.load(f)
    wave["parts"] = wave["parts"][::-1]
    for unit, part in zip(wave["units"], wave["parts"]):
        unit["part_id"] = part        # the records the decode plans from
    with open(path, "w") as f:
        json.dump(wave, f)
    with pytest.raises(Exception, match="planned part"):
        decode_from_store(store, spark).count()
    # a shared-table sentinel row belongs in encode_chunks frames only:
    # one in a store file fails the same check instead of being skipped
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tbl_spark.encode import RANS_TABLE_CODEC
    loose = ChunkStore(str(tmp_path / "loose"))
    encode_to_store(generate_df(spark, 400, 2), loose, 2)
    path = os.path.join(loose.chunks_dir, "part-00000.parquet")
    tbl = pq.read_table(path)
    stray = tbl.slice(0, 1)
    for name, value in (("part_id", -1), ("codec", RANS_TABLE_CODEC)):
        i = stray.schema.get_field_index(name)
        stray = stray.set_column(i, stray.schema.field(i),
                                 pa.array([value], stray.schema.field(i).type))
    pq.write_table(pa.concat_tables([tbl, stray]), path)
    with pytest.raises(Exception, match="planned part"):
        decode_from_store(loose, spark).count()


def test_small_store_decodes_in_one_task_with_no_shuffle(spark, tmp_path):
    """A perfbench-shaped store (8 parts in 4 waves, under ONE_TASK_BYTES)
    decodes in one task, and the checksum aggregate over it runs in that
    task's stage: full, projected and selective decodes are each one job
    of one stage of one task, and their checksums equal the source's."""
    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, 2000, 4)
    encode_to_store(df, store, 8)
    assert store.compact(2, spark=spark) == 4
    full = ["doc_id", "tokens", "n_tok", "source"]
    assert 0 < store.decode_units(None, full)[1] <= ONE_TASK_BYTES
    cond = F.col("n_tok") >= 500
    for kw, cols, src in (({}, full, df),
                          ({"columns": ["n_tok", "source"]},
                           ["n_tok", "source"], df),
                          ({"predicate": "n_tok>=500"}, full,
                           df.filter(cond))):
        decoded = decode_from_store(store, spark, **kw)
        got, jobs, stages, tasks = _job_counts(
            spark, lambda: _checksum(decoded, cols))
        assert (jobs, stages, tasks) == (1, 1, 1), kw
        assert got == _checksum(src, cols), kw
        plan = decoded.agg(F.count(F.lit(1)))._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan and "Coalesce 1" in plan, kw


def test_decode_units_sum_the_decoded_columns_enc_bytes(tmp_path, spark):
    """`decode_units` adds up the decoded columns' enc_bytes from the unit
    records of the wave and loose part manifests, over the listed parts
    only."""
    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, 2000, 4)
    encode_to_store(df, store, 10)
    assert store.compact(wave_size=3) == 3     # 3 waves + 1 loose part
    stats = store.stats_table().to_pylist()
    full = ["doc_id", "tokens", "n_tok", "source"]
    files, nbytes = store.decode_units(None, full)
    assert len(files) == 4
    assert nbytes == sum(r["enc_bytes"] for r in stats)
    some, n_tok_bytes = store.decode_units({0, 9}, ["n_tok"])  # wave + loose
    assert sorted(p for units in some.values() for _, p in units) == [0, 9]
    assert n_tok_bytes == sum(r["enc_bytes"] for r in stats if r["part_id"]
                              in (0, 9) and r["column"] == "n_tok")
    assert store.decode_units()[1] == 0
    assert _checksum(decode_from_store(store, spark)) == _checksum(df)


def test_decode_above_one_task_bytes_keeps_a_task_per_unit(
        spark, tmp_path, monkeypatch):
    """A decode of more than ONE_TASK_BYTES, or one asked for with
    `coalesce_small=False`, keeps the unit frame's min(units,
    defaultParallelism) tasks, so an aggregate over it shuffles; a decode
    of exactly ONE_TASK_BYTES runs in one task. Each matches the source."""
    import tbl_spark.store as store_mod
    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, 2000, 4)
    encode_to_store(df, store, 10)
    assert store.compact(wave_size=3) == 3     # 3 waves + 1 loose part
    nbytes = store.decode_units(
        None, ["doc_id", "tokens", "n_tok", "source"])[1]
    sliced = min(10, spark.sparkContext.defaultParallelism)
    assert sliced > 1
    want = _checksum(df)
    for limit, kw, tasks in ((nbytes, {}, 1),
                             (nbytes - 1, {}, sliced),
                             (nbytes, {"coalesce_small": False}, sliced)):
        monkeypatch.setattr(store_mod, "ONE_TASK_BYTES", limit)
        decoded = decode_from_store(store, spark, **kw)
        assert decoded.rdd.getNumPartitions() == tasks, (limit, kw)
        got, _, stages, _ = _job_counts(spark, lambda: _checksum(decoded))
        assert got == want, (limit, kw)
        assert (stages == 1) == (tasks == 1), (limit, kw)


@pytest.mark.parametrize("kw", [
    {"columns": ["nope"]},
    {"columns": ["n_tok", "nope"]},
    {"columns": []},
    {"predicate": "nope>=3"},
    {"columns": ["n_tok"], "predicate": ["n_tok>=1", "nope<3"]},
])
def test_unknown_or_no_columns_raise(spark, tmp_path, kw):
    """A projection or predicate naming a column the store lacks, or an
    empty projection, raises ValueError naming the unknown column and the
    output schema's columns instead of returning an empty or narrowed
    frame."""
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(generate_df(spark, 200, 2), store, 2)
    with pytest.raises(ValueError) as err:
        decode_from_store(store, spark, **kw).count()
    msg = str(err.value)
    assert ("'nope'" in msg) == (kw.get("columns") != [])
    assert "['doc_id', 'tokens', 'n_tok', 'source']" in msg


def _data_file_bytes(store: ChunkStore) -> dict[str, bytes]:
    """Every file under the store's root but its JSON commit records."""
    out = {}
    for d, _, names in os.walk(store.root):
        rel = os.path.relpath(d, store.root)
        if rel.split(os.sep)[0] not in ("manifest", "snapshots", "_staging"):
            for name in names:
                with open(os.path.join(d, name), "rb") as f:
                    out[os.path.normpath(os.path.join(rel, name))] = f.read()
    return out


def test_resume_filters_committed_parts_without_a_broadcast(
        spark, tmp_path, monkeypatch):
    """A resume drops the committed part ids with a literal IN filter:
    two jobs (the shuffle's map stage and the encode), no broadcast job
    and no BroadcastExchange in the executed plan, and the lost parts
    come back as the clean run's bytes."""
    import shutil

    df = generate_df(spark, N_DOCS, 4)
    clean = ChunkStore(str(tmp_path / "clean"))
    encode_to_store(df, clean, N_CHUNKS)
    store = ChunkStore(str(tmp_path / "resumed"))
    shutil.copytree(clean.root, store.root)
    lost = sorted(store.committed_parts())[::2]
    for p in lost:
        os.remove(os.path.join(store.chunks_dir, f"part-{p:05d}.parquet"))
        os.remove(os.path.join(store.manifest_dir, f"part-{p:05d}.json"))

    plans = []
    cls = type(df)
    collect = cls.collect

    def recording_collect(self):
        rows = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(cls, "collect", recording_collect)
    summary, jobs, _, _ = _job_counts(
        spark, lambda: encode_to_store(df, store, N_CHUNKS))
    assert summary["encoded_parts"] == len(lost)
    assert summary["skipped_parts"] == N_CHUNKS - len(lost)
    assert jobs == 2
    assert len(plans) == 1 and "BroadcastExchange" not in plans[0]
    assert _data_file_bytes(store) == _data_file_bytes(clean)


def test_stats_count_a_covered_part_once(tmp_path):
    """A crash between a wave's commit and the deletion of its parts'
    files leaves a covered part's files behind; store_stats counts that
    part once, as decode_units and manifest_rows do."""
    import shutil

    from tbl_spark.datagen import generate_part
    from tbl_spark.inspect import store_stats
    from tbl_spark.store import encode_part

    store = ChunkStore(str(tmp_path / "store"))
    tbl = generate_part(0, 200, seed=3)
    types = {"doc_id": "string", "tokens": "array<int>", "n_tok": "int",
             "source": "string"}
    for p in range(4):
        encode_part(store.root, p, tbl.slice(50 * p, 50), types, {})
    kept = tmp_path / "part-0"
    kept.mkdir()
    files = [os.path.join(store.chunks_dir, "part-00000.parquet"),
             os.path.join(store.manifest_dir, "part-00000.json")]
    for f in files:
        shutil.copy(f, kept)
    assert store.compact(2) == 2
    want = store_stats(store)
    assert want["parts"] == 4 and want["rows"] == 200

    for f in files:                 # wave 0 committed, cleanup pending
        shutil.copy(kept / os.path.basename(f), f)
    assert store_stats(store) == want
    assert store.stats_table().num_rows == 4 * 4
