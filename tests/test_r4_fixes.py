"""Round-4 fixes: zone-map tz/NaN soundness (ADVICE r3), multi-predicate
pruning, columnar stats-parquet metadata (no per-manifest json.load on the
prune path), broadcast fine prune (no 10k IN-list), exact_dedup verify
default, with_columns @IDX strictness."""

from __future__ import annotations

import datetime
import json
import math

import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from tbl_spark.store import (ChunkStore, _column_stats,
                             decode_from_store, encode_to_store,
                             encode_to_store_colocated, zone_prune_parts)


# -- zone-map soundness: tz-aware timestamps (ADVICE r3 high) ----------------

def test_zone_ts_tzaware_stats_do_not_false_prune(zone_keeps):
    utc = datetime.timezone.utc
    tbl = pa.table({
        "ts": pa.array([datetime.datetime(2024, 1, 2, 12, 0, 0, tzinfo=utc),
                        datetime.datetime(2024, 1, 2, 23, 59, 59,
                                          tzinfo=utc)],
                       pa.timestamp("us", tz="UTC")),
    })
    st = _column_stats(tbl)["ts"]
    # stats are epoch micros (ints), not str(datetime) with a '+00:00'
    # suffix that lexicographically false-pruned naive predicate values
    assert isinstance(st["min"], int) and isinstance(st["max"], int)
    # the exact ADVICE failure: '=' and '<=' at the chunk min must keep
    assert zone_keeps(st, "=", "2024-01-02 12:00:00")
    assert zone_keeps(st, "<=", "2024-01-02 12:00:00")
    assert zone_keeps(st, ">=", "2024-01-02T13:00:00")
    # tz-suffixed predicate values compare as instants too
    assert zone_keeps(st, "=", "2024-01-02 12:00:00+00:00")
    assert zone_keeps(st, "=", "2024-01-02 13:00:00+01:00")
    # genuinely out-of-range still prunes
    assert not zone_keeps(st, ">", "2024-01-03 00:00:00")
    assert not zone_keeps(st, "<", "2024-01-02 12:00:00")
    # unparseable keeps
    assert zone_keeps(st, "=", "not a time")


def test_zone_ts_ns_unit_floors_soundly():
    tbl = pa.table({"ts": pa.array([1_700_000_000_123_456_789],
                                   pa.timestamp("ns"))})
    st = _column_stats(tbl)["ts"]
    # ns → us floors lo, ceils hi: the 1-ns-wide chunk still matches its
    # own truncated-to-us value in both directions
    assert st["min"] == 1_700_000_000_123_456 and \
        st["max"] == 1_700_000_000_123_457
    assert st["min"] <= st["max"]


# -- zone-map soundness: NaN (ADVICE r3 medium) ------------------------------

def test_zone_nan_keeps_chunks(zone_keeps):
    nan = float("nan")
    tbl = pa.table({
        "x": pa.array([1.0, nan, 5.0], pa.float64()),
        "y": pa.array([nan, nan, nan], pa.float64()),
        "z": pa.array([1.0, 5.0, 3.0], pa.float64()),
    })
    st = _column_stats(tbl)
    sx, sy, sz = st["x"], st["y"], st["z"]
    assert sx["nan"] is True and sz["nan"] is False
    # Spark orders NaN above every value: >, >=, =, != must keep a
    # NaN-carrying chunk regardless of its finite hi
    assert zone_keeps(sx, ">", "1e300")
    assert zone_keeps(sx, ">=", "1e300")
    assert zone_keeps(sx, "=", "1e300")
    assert not zone_keeps(sz, ">", "1e300")     # NaN-free still prunes
    # all-NaN chunk: min_max found no finite bounds, but rows exist
    assert sy["min"] is None and sy["nan"] is True
    assert zone_keeps(sy, ">", "0")
    assert zone_keeps(sy, "=", "0")
    assert not zone_keeps(sy, "<", "0")         # NaN < v is never true
    # NaN literal predicates: = / >= match only NaN rows; <, <=, != match
    # every finite row (NaN is greatest)
    assert zone_keeps(sx, "=", "NaN")
    assert not zone_keeps(sz, "=", "NaN")
    assert zone_keeps(sz, "<=", "NaN")
    assert zone_keeps(sz, "!=", "NaN")
    # stats stay strict-JSON serializable (no NaN tokens)
    for s in (sx, sy, sz):
        parsed = json.loads(json.dumps(s, allow_nan=False))
        assert parsed["kind"] == "num"


def test_zone_nan_decode_roundtrip(spark, tmp_path):
    rows = [(f"d{i:03d}", float(i)) for i in range(64)]
    rows += [(f"n{i:03d}", float("nan")) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id string, val double")
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(df, store, 8, salt_cols=("doc_id",))
    # Spark semantics: NaN > 50 is TRUE — the NaN rows must survive the
    # zone-pruned decode
    got = decode_from_store(store, spark, predicate="val>50")
    expected = df.filter(F.col("val") > 50)
    assert got.count() == expected.count()
    assert {r["doc_id"] for r in got.collect()} == \
        {r["doc_id"] for r in expected.collect()}


# -- multi-predicate zone pruning (VERDICT r3 #3) ----------------------------

def _sorted_store(spark, tmp_path, n_docs=4000, n_files=16):
    from tbl_spark.datagen import write_token_table
    path = str(tmp_path / "tt")
    write_token_table(path, n_docs, n_parts=n_files)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "262144")
    try:
        df = spark.read.parquet(path)
        store = ChunkStore(str(tmp_path / "store"))
        encode_to_store_colocated(df, store, tokens_per_chunk=100_000)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    return store, df


def _range_clustered_store(spark, tmp_path, n_docs=4000, n_files=16):
    """Store whose chunks partition a GLOBALLY sorted key range: file j
    holds vals [j*250, (j+1)*250) → one chunk per file → zone maps on
    'val' are disjoint intervals and both range ends prune."""
    import os

    import pyarrow.parquet as pq
    src = str(tmp_path / "sorted_src")
    os.makedirs(src)
    per = n_docs // n_files
    for j in range(n_files):
        lo = j * per
        tbl = pa.table({
            "doc_id": pa.array([f"d{i:06d}" for i in range(lo, lo + per)]),
            "val": pa.array(list(range(lo, lo + per)), pa.int64()),
        })
        pq.write_table(tbl, os.path.join(src, f"part-{j:05d}.parquet"))
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "262144")
    try:  # one file per scan partition → chunk boundaries align to files
        df = spark.read.parquet(src)
        store = ChunkStore(str(tmp_path / "sorted_store"))
        encode_to_store_colocated(df, store, tokens_per_chunk=per)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    df = spark.read.parquet(src)
    return store, df


def test_multi_predicate_prune_intersects(spark, tmp_path):
    store, df = _range_clustered_store(spark, tmp_path)
    p1, p2 = "val>=1500", "val<2500"
    k1 = zone_prune_parts(store, p1)
    k2 = zone_prune_parts(store, p2)
    both = zone_prune_parts(store, [p1, p2])
    # two predicates together prune chunks neither prunes alone
    assert both == (k1 & k2)
    assert len(both) < len(k1) and len(both) < len(k2)
    assert len(both) == 4                   # vals 1500..2499 = 4 chunks
    got = decode_from_store(store, spark, "doc_id string, val bigint",
                            predicate=[p1, p2])
    expected = df.filter((F.col("val") >= 1500) & (F.col("val") < 2500))
    assert got.count() == expected.count() == 1000
    assert {r["doc_id"] for r in got.select("doc_id").collect()} == \
        {r["doc_id"] for r in expected.select("doc_id").collect()}


def test_cli_decode_where_repeatable(spark, tmp_path, capsys):
    from tbl_spark.cli import main
    from tbl_spark.datagen import write_token_table
    src = str(tmp_path / "src")
    write_token_table(src, 400, n_parts=2)
    store = str(tmp_path / "store")
    assert main(["encode", src, "--store", store, "--num-parts", "4"]) == 0
    capsys.readouterr()
    out = str(tmp_path / "out")
    assert main(["decode", "--store", store, "--columns", "doc_id,n_tok",
                 "--where", "n_tok>=100", "--where", "n_tok<1000",
                 "--output", out]) == 0
    got = spark.read.parquet(out)
    assert got.columns == ["doc_id", "n_tok"]
    expected = (spark.read.parquet(src)
                .filter((F.col("n_tok") >= 100) & (F.col("n_tok") < 1000)))
    assert got.count() == expected.count() > 0


# -- columnar stats metadata (VERDICT r3 #1) ---------------------------------

class _CountingJson:
    """json proxy that counts load() calls (delegates everything)."""

    def __init__(self, real):
        self._real = real
        self.loads_seen = 0

    def load(self, *a, **kw):
        self.loads_seen += 1
        return self._real.load(*a, **kw)

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_prune_path_reads_no_per_manifest_json(spark, tmp_path, monkeypatch):
    import tbl_spark.store as store_mod
    store, df = _range_clustered_store(spark, tmp_path, n_docs=6000,
                                       n_files=24)
    n_parts = len(store.committed_parts())
    assert n_parts >= 20
    store.compact(wave_size=4, spark=spark)   # all parts waved
    n_waves = len(store.waves())
    assert store.stats_files() and len(store.stats_files()) == n_waves
    assert {p for w in store.waves() for p in w["parts"]} \
        == store.committed_parts()
    pred = "val>=5000"
    counter = _CountingJson(json)
    monkeypatch.setattr(store_mod, "json", counter)
    kept_arrow = zone_prune_parts(store, pred)
    # every wave has a stats parquet: the prune path json.loads no
    # manifest at all, per-part or per-wave
    assert counter.loads_seen == 0
    monkeypatch.undo()
    # parity: the stats parquets hold the rows the part manifests embedded
    # in the wave JSON flatten to
    from tbl_spark.store import _manifest_stats_rows

    def key(r):
        return r["part_id"], r["column"]
    assert sorted(store.stats_table().to_pylist(), key=key) == sorted(
        (r for m in store.manifest_rows() for r in _manifest_stats_rows(m)),
        key=key)
    assert 0 < len(kept_arrow) < n_parts


def test_plan_waves_loads_each_wave_manifest_once(spark, tmp_path,
                                                  monkeypatch):
    """Each wave manifest embeds all its part manifests, so planning
    compaction json.loads each one once and no loose part manifest."""
    import tbl_spark.store as store_mod
    from tbl_spark.datagen import generate_df
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(generate_df(spark, 1200, 2), store, 10)
    assert store.compact(wave_size=3) == 3
    counter = _CountingJson(json)
    monkeypatch.setattr(store_mod, "json", counter)
    assert store.plan_waves(1) == [(3, [9])]
    assert counter.loads_seen == 3


def test_store_stats_and_manifest_parity_after_compaction(spark, tmp_path):
    from tbl_spark.inspect import store_stats
    store, _ = _sorted_store(spark, tmp_path)
    before = store_stats(store)
    m_before = {m["part_id"]: m for m in store.manifest_rows()}
    store.compact(wave_size=4, spark=spark)
    after = store_stats(store)
    assert before == after           # rollup identical from stats parquet
    assert store.stats_files()
    m_after = {m["part_id"]: m for m in store.manifest_rows()}
    assert set(m_before) == set(m_after)
    # the stats rows (wave parquets + loose manifests) fold back to each
    # part's manifest totals
    by_part: dict[int, list[dict]] = {}
    for r in store.stats_table().to_pylist():
        by_part.setdefault(r["part_id"], []).append(r)
    assert set(by_part) == set(m_before)
    for pid, r in m_before.items():
        a = m_after[pid]
        for f in ("n_rows", "n_values", "raw_bytes", "enc_bytes"):
            assert r[f] == a[f]
        assert json.loads(r["columns"]).keys() == \
            json.loads(a["columns"]).keys() == \
            {s["column"] for s in by_part[pid]}
        assert {s["n_rows"] for s in by_part[pid]} == {r["n_rows"]}
        assert max(s["n_values"] for s in by_part[pid]) == r["n_values"]
        for f in ("raw_bytes", "enc_bytes"):
            assert sum(s[f] for s in by_part[pid]) == r[f]


# -- fine prune: surviving parts are unit-frame rows, no IN-list (VERDICT r3)

def test_fine_prune_plan_has_no_giant_inlist(spark, tmp_path):
    from tbl_spark.datagen import SPARK_SCHEMA_DDL
    # 140 colocated chunks → 140 scattered 63-bit hashed ids
    store, df = _sorted_store(spark, tmp_path, n_docs=2800, n_files=140)
    assert len(store.committed_parts()) >= 130
    got = decode_from_store(store, spark, SPARK_SCHEMA_DDL,
                            predicate="n_tok>=1")
    plan = got._jdf.queryExecution().executedPlan().toString()
    # no 10k-literal IN expression tree: the plan never enumerates ids
    assert plan.count("part_id#") < 1000
    assert got.count() == df.filter(F.col("n_tok") >= 1).count()


def test_fine_prune_contiguous_ids_use_between(spark, tmp_path):
    from tbl_spark.datagen import generate_df
    df = generate_df(spark, 3000, 4)
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(df, store, 24)          # salted: part ids 0..23
    got = decode_from_store(store, spark, predicate="n_tok>=1")
    assert got.count() == df.filter(F.col("n_tok") >= 1).count()


# -- real (non-fake) image decode via pure-numpy PPM (VERDICT r3 #7) ---------

def _make_ppm(w: int, h: int, seed: int) -> bytes:
    import numpy as np
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    header = f"P6\n# synthetic\n{w} {h}\n255\n".encode()
    return header + px.tobytes(), px


def test_decode_ppm_pure_numpy():
    import numpy as np
    from tbl_spark.pipelines.multimodal import decode_image
    payload, px = _make_ppm(20, 12, seed=7)
    got = decode_image(payload, 20, 12, fake_decode=False)
    assert (got == px).all()
    # metadata dims differ → nearest-neighbor resize, still pure numpy
    small = decode_image(payload, 10, 6, fake_decode=False)
    assert small.shape == (6, 10, 3)
    assert (small == px[::2, ::2]).all()
    # non-PPM payload without PIL → explicit stub error (gate unchanged)
    from tbl_spark.pipelines import multimodal
    if not multimodal.HAVE_PIL:
        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG...", 4, 4, fake_decode=False)


def test_extract_features_real_path_end_to_end(spark):
    import numpy as np
    from tbl_spark.pipelines.multimodal import extract_features
    rows, ref = [], {}
    for i in range(40):
        w, h = 8 + i % 5, 6 + i % 4
        payload, px = _make_ppm(w, h, seed=100 + i)
        rows.append((i, "image", w, h, 1, bytearray(payload)))
        ref[i] = px
    df = spark.createDataFrame(
        rows, "media_id bigint, kind string, width int, height int, "
              "n_frames int, payload binary")
    feats = {r["media_id"]: np.asarray(r["feature"], dtype=np.float32)
             for r in extract_features(df, dim=16,
                                       fake_decode=False).collect()}
    assert len(feats) == 40
    for i, px in ref.items():
        pooled = px.reshape(-1, 3).mean(axis=0)
        mixed = np.concatenate([
            pooled, px.std(axis=(0, 1)),
            px.reshape(-1)[:10].astype(np.float32) / 255.0])[:16]
        expected = np.pad(mixed, (0, max(0, 16 - len(mixed)))
                          ).astype(np.float32)
        assert np.allclose(feats[i], expected, atol=1e-5), i


# -- with_columns @IDX on an existing column raises (ADVICE r3 low) ----------

def test_with_columns_at_idx_existing_raises(spark):
    from tbl_spark.transforms import TransformSpec, apply_transforms
    df = spark.createDataFrame([(1, "a")], "x int, s string")
    with pytest.raises(ValueError, match="already exists"):
        apply_transforms(df, TransformSpec(with_columns=["x:i32@0=1"]))
    # plain overwrite without @IDX still works
    out = apply_transforms(df, TransformSpec(with_columns=["x:i32=9"]))
    assert out.collect()[0]["x"] == 9


# -- rANS side-tables are entropy-coded; lanes scale with n (VERDICT r3 #4) --

def test_rans_tables_entropy_coded_close_bench_gap():
    """At bench-size 400k-token chunks the rANS freq/uniques tables were
    ~52 KB of fixed cost (0.13 B/token); entropy-coding them (nested rANS
    for freqs, delta+rANS for the sorted alphabet) plus n-scaled lane
    counts must bring the whole blob under 1.20 B/token on the bench
    distribution — the VERDICT r3 #4 'done' bar."""
    import numpy as np
    from tbl_spark.codecs import decode_array, encode_array
    from tbl_spark.datagen import generate_part

    tbl = generate_part(0, 8000)
    toks = tbl.column("tokens").combine_chunks().flatten() \
        .to_numpy(zero_copy_only=False).astype(np.int32)
    v = toks[:400_000]
    blob = encode_array(v)
    out, _ = decode_array(blob)
    assert (out == v).all()
    assert len(blob) / len(v) < 1.20, len(blob) / len(v)


def test_rans_lane_count_scales_with_n():
    import struct

    import numpy as np
    from tbl_spark.codecs import rans

    rng = np.random.default_rng(3)
    for n, expect_max in ((5_000, 64), (100_000, 256), (400_000, 1024),
                          (4_000_000, 4096)):
        codes = rng.integers(0, 500, n, dtype=np.int64)
        core, freqs = rans.encode(codes, 500)
        L, _k, _sb = struct.unpack_from("<IIQ", core, 0)
        assert L <= expect_max, (n, L)
        assert (rans.decode(core, n, freqs) == codes).all()


# -- tty styling (reference styles.rs parity; plain when piped) --------------

def test_cli_styling_tty_only(monkeypatch):
    from tbl_spark import styles
    from tbl_spark.cli import _tabulate

    monkeypatch.setenv("TBL_SPARK_COLOR", "1")
    colored = _tabulate([(1, "a")], ["x", "s"])
    assert "\x1b[" in colored and "\x1b[0m" in colored
    assert styles.enabled()

    monkeypatch.setenv("TBL_SPARK_COLOR", "0")
    plain = _tabulate([(1, "a")], ["x", "s"])
    assert "\x1b[" not in plain
    # alignment identical with and without styling
    import re
    assert re.sub(r"\x1b\[[0-9;]*m", "", colored) == plain

    # NO_COLOR respected when not forced
    monkeypatch.delenv("TBL_SPARK_COLOR", raising=False)
    monkeypatch.setenv("NO_COLOR", "1")
    assert not styles.enabled()


# -- review fixes: bool/binary zone soundness, orphan stats, ts widening ----

def _zone_mask_keep(chunk_tbl, col, op, raw, expect_any_match):
    """Run the prune mask over ONE chunk's flattened stats and assert the
    soundness contract: a chunk with >=1 matching row is NEVER pruned."""
    import pyarrow as pa
    from tbl_spark.store import (STATS_SCHEMA, _column_stats,
                                 _manifest_stats_rows,
                                 _zone_cannot_match_mask)
    stats = _column_stats(chunk_tbl)
    manifest = {"part_id": 7, "n_rows": len(chunk_tbl), "encode_ms": 0.0,
                "columns": json.dumps({
                    n: {"codec": "raw", "n_values": len(chunk_tbl),
                        "raw_bytes": 1, "enc_bytes": 1,
                        "stats": stats.get(n)}
                    for n in chunk_tbl.column_names})}
    rows = [r for r in _manifest_stats_rows(manifest) if r["column"] == col]
    t = pa.Table.from_pydict(
        {f.name: [r[f.name] for r in rows] for f in STATS_SCHEMA},
        schema=STATS_SCHEMA)
    mask = _zone_cannot_match_mask(t, op, raw, utc_session=True)
    keep = not mask.to_pylist()[0]
    if expect_any_match:   # matching rows exist -> the mask may not prune
        assert keep, (col, op, raw)
    return keep


def test_zone_bool_and_binary_columns_never_false_prune():
    import pyarrow as pa
    tbl = pa.table({
        "flag": pa.array([True, False, True]),
        "blob": pa.array([b"a", b"bb", None], type=pa.binary()),
    })
    for op in ("=", "!=", "<", "<=", ">", ">="):
        # bool column with data: rows matching flag=true exist etc.
        _zone_mask_keep(tbl, "flag", op, "true",
                        expect_any_match=op not in ())
        # binary column: zone layer must keep (exact filter decides)
        _zone_mask_keep(tbl, "blob", op, "0x61", expect_any_match=True)


def test_zone_all_null_and_all_nan_chunks():
    import numpy as np
    import pyarrow as pa
    all_null_int = pa.table({"x": pa.array([None, None], type=pa.int64())})
    all_nan = pa.table({"x": pa.array([float("nan"), float("nan")])})
    for op, raw in (("=", "5"), (">", "1"), ("<", "9"), ("!=", "3")):
        # all-null: no rows match anything -> pruning allowed everywhere,
        # but never REQUIRED; just assert the mask does not crash and
        # prunes soundly (no matching rows exist)
        _zone_mask_keep(all_null_int, "x", op, raw, expect_any_match=False)
        # all-NaN: rows DO match >, >=, =NaN-ish ops?  In Spark NaN > 1
        # is true and NaN != 3 is true -> those must keep
        _zone_mask_keep(all_nan, "x", op, raw,
                        expect_any_match=op in (">", "!="))


def test_zone_ts_beyond_2p53_micros_not_false_pruned():
    import datetime
    import pyarrow as pa
    # epoch micros ~ year 2400 >> 2^53; float() rounding must not prune
    t = datetime.datetime(2400, 1, 1, 0, 0, 0, 1)
    tbl = pa.table({"ts": pa.array([t], type=pa.timestamp("us"))})
    _zone_mask_keep(tbl, "ts", "=", "2400-01-01 00:00:00.000001",
                    expect_any_match=True)
    _zone_mask_keep(tbl, "ts", "<=", "2400-01-01 00:00:00.000001",
                    expect_any_match=True)


def test_orphan_stats_parquet_invisible_until_wave_commits(tmp_path):
    import shutil

    from tbl_spark.store import ChunkStore
    store = ChunkStore(str(tmp_path / "s"))
    store.init_dirs()
    import os
    os.makedirs(store.stats_dir, exist_ok=True)
    # orphan: stats parquet exists, wave manifest does not (crash window)
    import pyarrow.parquet as pq
    from tbl_spark.store import STATS_SCHEMA
    pq.write_table(STATS_SCHEMA.empty_table(),
                   os.path.join(store.stats_dir, "wave-000042.parquet"))
    assert store.stats_files() == {}
    # once the wave manifest commits, the stats file becomes visible
    with open(os.path.join(store.manifest_dir, "wave-000042.json"),
              "w") as f:
        f.write('{"wave": 42, "parts": [], "file": "x", "manifests": []}')
    assert list(store.stats_files()) == [42]


def test_tail_cap_is_schema_aware(spark):
    from tbl_spark.transforms import (TransformSpec, _tail_collect_cap,
                                      apply_transforms)
    fixed = spark.createDataFrame([(1, 2.0)], "a bigint, b double")
    wide = spark.createDataFrame([(1, "x")], "a bigint, s string")
    assert _tail_collect_cap(fixed.schema) == 100_000
    assert _tail_collect_cap(wide.schema) == 1_000
    # a huge tail over a variable-width schema stays distributed (the
    # plan keeps the source scan; no LocalTableScan of collected rows)
    df = spark.range(10).selectExpr("id", "repeat('x', 10) AS s")
    out = apply_transforms(df, TransformSpec(tail=5_000))
    assert "LocalTableScan" not in out._jdf.queryExecution().executedPlan() \
        .toString()
    assert out.count() == 10


def test_decode_ppm_returns_writable_array():
    from tbl_spark.pipelines.multimodal import decode_image
    payload, _px = _make_ppm(6, 4, seed=1)
    got = decode_image(payload, 6, 4, fake_decode=False)
    got[0, 0, 0] = 99   # must not raise read-only


# -- driver-side codec audition hints (fleet-wide audition once) -------------

def test_pick_int_codec_and_seed_cache():
    import numpy as np
    from tbl_spark.codecs import core
    from tbl_spark.codecs.format import Codec

    rng = np.random.default_rng(5)
    v = rng.integers(0, 50_000, 400_000, dtype=np.int32)
    codec = core.pick_int_codec(v)
    assert codec is not None and Codec(codec) in (Codec.RANS,
                                                  Codec.BYTE_PLANES)
    # too-small arrays decline (the analytic per-chunk path covers them)
    assert core.pick_int_codec(v[:1000]) is None

    # the pick is a plan entry: a chunk under it encodes with that codec
    from tbl_spark.codecs.format import unpack_header
    blob = core.encode_array(v[:100_000], cache_key="hinted_col",
                             plan={"hinted_col": codec})
    assert unpack_header(blob)[0] == Codec(codec)


def test_audition_hints_end_to_end(spark):
    import pyspark.sql.functions as F
    from tbl_spark.datagen import generate_df
    from tbl_spark.decode import decode_chunks_colocated
    from tbl_spark.encode import audition_codec_hints, encode_chunks

    df = generate_df(spark, 30_000, 4)
    hints = audition_codec_hints(df)
    assert "tokens.values" in hints        # the big int column is hinted
    chunks = encode_chunks(df, 8, codec_hints=hints)
    from tbl_spark.datagen import SPARK_SCHEMA_DDL
    back = decode_chunks_colocated(chunks, SPARK_SCHEMA_DDL)
    a = df.agg(F.sum(F.expr("aggregate(tokens, 0L, (a, x) -> a + x)")),
               F.count("*")).collect()[0]
    b = back.agg(F.sum(F.expr("aggregate(tokens, 0L, (a, x) -> a + x)")),
                 F.count("*")).collect()[0]
    assert tuple(a) == tuple(b)
