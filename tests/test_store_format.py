"""One store format: the first encode pins store.json's `format`
(STORE_FORMAT), and every entry point refuses a store.json of another
format, or of none, before it opens any data file. The readers know this
one layout only: a committed wave without its stats parquet raises
instead of silently dropping out of a zone prune, and a stats row
without a `nan` flag is NaN-free, so decimal and all-null string zones
prune."""

from __future__ import annotations

import decimal
import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from tbl_spark.datagen import write_token_table
from tbl_spark.inspect import store_stats
from tbl_spark.store import (STORE_FORMAT, ChunkStore, _column_stats,
                             decode_from_store, encode_to_store,
                             encode_to_store_colocated, zone_prune_parts)


@pytest.fixture(scope="module")
def token_src(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store_format") / "src")
    write_token_table(path, 800, n_parts=2)
    return path


def test_first_encode_pins_the_format(spark, token_src, tmp_path):
    df = spark.read.parquet(token_src)
    for name, encode in (
            ("salted", lambda store: encode_to_store(df, store, 4)),
            ("colocated", lambda store: encode_to_store_colocated(df, store))):
        store = ChunkStore(str(tmp_path / name))
        encode(store)
        with open(store.meta_path) as f:
            meta = json.load(f)
        assert meta["format"] == STORE_FORMAT == 1, name
        assert meta["mode"] == name and "plan" in meta
        assert store.read_meta() == meta
        # a rerun resumes under the pin and leaves it as it was
        encode(store)
        with open(store.meta_path) as f:
            assert json.load(f) == meta


def _unpinned(meta: dict, fmt) -> dict:
    meta = {k: v for k, v in meta.items() if k != "format"}
    return meta if fmt is None else {"format": fmt, **meta}


@pytest.mark.parametrize("fmt", [None, 0])
def test_other_format_raises_before_any_data_file(spark, token_src, tmp_path,
                                                  monkeypatch, fmt):
    """A store.json without `format`, or with format 0, fails every entry
    point with one ValueError naming both formats, before a data file is
    opened on the driver and before any Spark job starts."""
    df = spark.read.parquet(token_src)
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(df, store, 4)
    assert store.compact(2, plans=store.plan_waves(2)[:1]) == 1
    meta = store.read_meta()
    with open(store.meta_path, "w") as f:
        json.dump(_unpinned(meta, fmt), f)
    found = "no format" if fmt is None else f"format {fmt}"
    message = rf"has {found} in store\.json; .* store format 1 only\. " \
              r"Re-encode the store\."

    def opened(*args, **kwargs):
        raise AssertionError(f"data file opened: {args[:1]}")
    for name in ("read_table", "ParquetFile", "read_metadata"):
        monkeypatch.setattr(pq, name, opened)

    entry_points = {
        "resume": lambda: encode_to_store(df, store, 4),
        "colocated": lambda: encode_to_store_colocated(df, store),
        "decode": lambda: decode_from_store(store, spark),
        "decode_ddl": lambda: decode_from_store(store, spark,
                                                meta["schema_ddl"]),
        "decode_predicate": lambda: decode_from_store(
            store, spark, meta["schema_ddl"], predicate="n_tok>=10"),
        "store_stats": lambda: store_stats(store),
        "compact": lambda: store.compact(2),
        "compact_spark": lambda: store.compact(2, spark=spark),
    }
    sc = spark.sparkContext
    group = f"format-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "entry points of an unpinned store")
    try:
        for name, call in entry_points.items():
            with pytest.raises(ValueError, match=message):
                call()
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    monkeypatch.undo()
    # nothing was written: the store is the one the check refused
    assert len(store.waves()) == 1
    with open(store.meta_path) as f:
        assert json.load(f) == _unpinned(meta, fmt)


def test_committed_wave_without_stats_parquet_raises(spark, token_src,
                                                     tmp_path):
    """A committed wave whose stats parquet is gone fails a predicate
    decode and store_stats by name, instead of pruning the wave's parts
    from every predicate decode."""
    df = spark.read.parquet(token_src)
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(df, store, 6)
    assert store.compact(2) == 3
    os.remove(store.stats_files()[1])
    for call in (lambda: decode_from_store(store, spark,
                                           predicate="n_tok>=10"),
                 lambda: store_stats(store)):
        with pytest.raises(ValueError,
                           match=r"committed wave 1 of store .* has no "
                                 r"stats parquet .*wave-000001\.parquet"):
            call()


def test_decimal_and_all_null_string_zones_prune(zone_keeps):
    """A stats row without a `nan` flag is NaN-free (every float column
    records one), so a decimal chunk with fractional bounds and an
    all-null string chunk prune for the ops NaN rows would satisfy."""
    D = decimal.Decimal
    tbl = pa.table({
        "x": pa.array([D("1.25"), D("2.50")], pa.decimal128(10, 2)),
        "s": pa.array([None, None], pa.string()),
    })
    st = _column_stats(tbl)
    assert (st["x"]["min"], st["x"]["max"]) == (1.25, 2.5)
    assert "nan" not in st["x"] and "nan" not in st["s"]
    for op in (">", ">=", "="):
        assert not zone_keeps(st["x"], op, "5"), op
    assert zone_keeps(st["x"], ">", "2")
    assert zone_keeps(st["x"], "=", "2.5")
    assert zone_keeps(st["x"], "<", "5")
    assert not zone_keeps(st["s"], "=", "a")
    # bounds that no double holds round onto the literal under float():
    # they are widened, so the chunk stays for the ops its rows satisfy
    for v, typ, lit in ((D("1.000000000000000001"), pa.decimal128(38, 18),
                         "1"),
                        (D("4503599627370496.25"), pa.decimal128(18, 2),
                         "4503599627370496")):
        st = _column_stats(pa.table({"x": pa.array([v, v], typ)}))["x"]
        assert st["min"] < v < st["max"], typ
        for op in (">", ">=", "!="):
            assert zone_keeps(st, op, lit), (typ, op)
        assert not zone_keeps(st, "<", lit), typ


def test_decimal_store_predicate_decode_matches_spark_filter(spark,
                                                             tmp_path):
    """Parts of a decimal(10,2) column hold disjoint fractional ranges, so
    a predicate prunes some of them, and the predicate decode returns the
    rows Spark's own filter keeps."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    per = 40
    for j in range(4):
        xs = [decimal.Decimal(j * 10) + decimal.Decimal(i) / 4
              + decimal.Decimal("0.25") for i in range(per)]
        pq.write_table(pa.table({
            "doc_id": pa.array([f"d{j}-{i:03d}" for i in range(per)]),
            "x": pa.array(xs, pa.decimal128(10, 2)),
        }), os.path.join(src, f"part-{j:05d}.parquet"))
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "262144")
    try:  # one file per scan partition: one chunk per file
        df = spark.read.parquet(src)
        store = ChunkStore(str(tmp_path / "store"))
        encode_to_store_colocated(df, store, tokens_per_chunk=per)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    df = spark.read.parquet(src)
    parts = store.committed_parts()
    assert len(parts) == 4
    # integer literals: the filter language takes no fractional literal
    # for a decimal column
    for pred, cond in (("x>=25", F.col("x") >= 25),
                       ("x>17", F.col("x") > 17),
                       ("x=21", F.col("x") == 21)):
        kept = zone_prune_parts(store, pred)
        assert 0 < len(kept) < len(parts), pred
        got = decode_from_store(store, spark, predicate=pred)
        want = df.filter(cond)
        assert sorted(got.collect()) == sorted(want.collect()), pred
        assert want.count() > 0, pred
