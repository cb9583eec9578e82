"""Round-3 scale-shape fixes (VERDICT r2 'Next round' + ADVICE r2).

Covers: bounded candidate pairs for verified dedups (hot buckets stay
linear WITHOUT losing the dupA-dupB pair behind a noise bucket-min),
hash-keyed exact_dedup, distributed wave compaction (byte-identical
decode + interruption resume), persisted IVF index (probe has no Python
re-assignment), insert-at-index with_columns, size-suffix parsing, and
the legacy-store meta guard."""

import json
import os

import numpy as np
import pyspark.sql.functions as F
import pytest

from tbl_spark.pipelines import dedup, similarity


# -- bounded candidate pairs ------------------------------------------------

def _one_bucket_df(spark, ids):
    rows = [(str(i), 0, 0) for i in ids]
    return spark.createDataFrame(rows, "doc_id string, band int, "
                                       "band_hash bigint")


def test_candidate_pairs_small_bucket_is_exact(spark):
    ex = _one_bucket_df(spark, range(8))
    pairs = dedup._candidate_pairs(ex, "doc_id").collect()
    assert len(pairs) == 8 * 7 // 2          # all pairs, bucket ≤ cap


def test_candidate_pairs_hot_bucket_stays_linear(spark):
    n = 5000
    ex = _one_bucket_df(spark, range(n))
    cnt = dedup._candidate_pairs(ex, "doc_id").count()
    # min edges (n-1) + chain edges (n-1), minus the shared (min, second)
    assert cnt <= 2 * n                      # O(n), NOT n²/2 ≈ 12.5M
    assert cnt >= n - 1


def test_candidate_pairs_chain_covers_non_min_dup_pair(spark):
    # ADVICE r2: bucket {noise-min, dupA, dupB} — pure min edges never
    # test dupA-dupB; the chain edge must. Force the hot-bucket path by
    # exceeding the cap.
    ids = [f"{i:03d}" for i in range(20)]    # 000 is the bucket min
    ex = _one_bucket_df(spark, ids)
    pairs = {(r["a_id"], r["b_id"]) for r in dedup._candidate_pairs(
        ex, "doc_id", small_bucket_cap=4).collect()}
    for i in range(1, 20):                   # every adjacent pair present
        assert (f"{i - 1:03d}", f"{i:03d}") in pairs


def test_verified_minhash_dense_cluster_keeps_one(spark):
    # a dense near-duplicate cluster (the boilerplate-web-corpus shape
    # that made pair_mode='all' quadratic) must still collapse to its
    # min id under the bounded default, via chain-edge verification
    base = " ".join(f"boiler{j} plate{j}" for j in range(20))  # 40 words
    rows = []
    for i in range(300):                     # shared body + unique tail
        rows.append((f"c{i:04d}", f"{base} unique{i}"))        # J ≈ 0.76
    for i in range(40):                      # unrelated noise docs
        rows.append((f"n{i:04d}",
                     " ".join(f"word{i}_{j} item{j}q" for j in range(20))))
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = dedup.minhash_lsh_dedup(df, verify_threshold=0.5)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert "c0000" in kept
    # pairwise recall is probabilistic (0.76^4-per-band LSH) — the point
    # is the cluster COLLAPSES (no quadratic blowup, near-total dedup),
    # not a recall=1 guarantee
    assert len([k for k in kept if k.startswith("c")]) <= 15
    assert len([k for k in kept if k.startswith("n")]) == 40


# -- hash-keyed exact dedup -------------------------------------------------

def test_exact_dedup_hash_key_parity_and_plan(spark):
    rows = [(f"d{i:03d}", f"text number {i % 40}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    for verify in (False, True):
        out = dedup.exact_dedup(df, verify=verify)
        got = {(r["doc_id"], r["text"]) for r in out.collect()}
        # keep-min-id-per-distinct-text semantics
        assert len(got) == 40
        assert ("d000", "text number 0") in got
        assert ("d039", "text number 39") in got
    # with verify=False the dedup-decision exchange hashes the 8-byte
    # xxhash64 key, never the text column (VERDICT r2 #1)
    plan = (dedup.exact_dedup(df, verify=False)._jdf.queryExecution()
            .executedPlan().toString())
    keys = [seg.split(")")[0]                # partitioning key expressions
            for seg in plan.split("hashpartitioning")[1:]]
    assert keys
    assert any("_h" in k for k in keys)      # dedup decision: 8-byte hash
    assert not any("text" in k for k in keys)  # corpus never a shuffle key
    # the DEFAULT is verify=True (ADVICE r3: birthday bound makes a
    # 64-bit collision expected at ~5e9 distinct texts): the decision
    # window re-compares the text inside each hash bucket
    vplan = (dedup.exact_dedup(df)._jdf.queryExecution()
             .executedPlan().toString())
    vkeys = [seg.split(")")[0]
             for seg in vplan.split("hashpartitioning")[1:]]
    assert any("_h" in k and "text" in k for k in vkeys)


# -- distributed compaction -------------------------------------------------

def _make_store(spark, tmp_path, n_docs=3000, n_parts=12):
    from tbl_spark.datagen import generate_df
    from tbl_spark.store import ChunkStore, encode_to_store
    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, n_docs, 4)
    encode_to_store(df, store, n_parts)
    return store, df


def test_distributed_compact_decode_identical(spark, tmp_path):
    from tbl_spark.datagen import SPARK_SCHEMA_DDL
    from tbl_spark.store import decode_from_store
    store, df = _make_store(spark, tmp_path)
    before = sorted(decode_from_store(store, spark, SPARK_SCHEMA_DDL)
                    .select("doc_id", "tokens").collect())
    n_waves = store.compact(wave_size=4, spark=spark)
    assert n_waves == 3
    assert len(store.waves()) == 3
    assert not os.listdir(store.chunks_dir)  # all parts covered + cleaned
    after = sorted(decode_from_store(store, spark, SPARK_SCHEMA_DDL)
                   .select("doc_id", "tokens").collect())
    assert before == after


def test_distributed_compact_resumes_after_interruption(spark, tmp_path):
    from tbl_spark.datagen import SPARK_SCHEMA_DDL
    from tbl_spark.store import _write_wave, decode_from_store
    store, df = _make_store(spark, tmp_path)
    plans = store.plan_waves(wave_size=4)
    assert len(plans) == 3
    # interruption: wave 0 fully committed, wave 1 died mid-write
    # (staging garbage, no manifest), wave 2 never started
    _write_wave(store.root, *plans[0])
    with open(os.path.join(store.staging_dir,
                           "wave-000001.parquet.dead"), "wb") as f:
        f.write(b"torn")
    assert store.compact(wave_size=4, spark=spark) == 2  # only 1 and 2
    assert len(store.waves()) == 3
    decoded = decode_from_store(store, spark, SPARK_SCHEMA_DDL)
    n = (decoded.alias("b").join(df.alias("a"), "doc_id")
         .filter(F.col("a.tokens") == F.col("b.tokens")).count())
    assert n == 3000
    # out of order: wave 1 committed, wave 0's task died before its
    # manifest rename. The rerun must number the loose parts' wave 2;
    # reusing wave 1's number would delete those parts as "covered".
    store, df = _make_store(spark, tmp_path / "out_of_order",
                            n_docs=1000, n_parts=8)
    plans = store.plan_waves(wave_size=4)
    assert plans == [(0, [0, 1, 2, 3]), (1, [4, 5, 6, 7])]
    _write_wave(store.root, *plans[1])
    with pytest.raises(ValueError, match="wave-000001"):
        _write_wave(store.root, 1, [0, 1, 2, 3])
    assert store.committed_parts() == set(range(8))  # nothing deleted
    assert store.plan_waves(wave_size=4) == [(2, [0, 1, 2, 3])]
    assert store.compact(wave_size=4, spark=spark) == 1
    assert store.committed_parts() == set(range(8))
    assert not os.listdir(store.chunks_dir)
    decoded = decode_from_store(store, spark, SPARK_SCHEMA_DDL)
    n = (decoded.alias("b").join(df.alias("a"), "doc_id")
         .filter(F.col("a.tokens") == F.col("b.tokens")).count())
    assert n == 1000


def test_write_wave_idempotent_on_retry(spark, tmp_path):
    from tbl_spark.store import _write_wave
    store, _ = _make_store(spark, tmp_path, n_docs=1000, n_parts=4)
    seq, parts = store.plan_waves(wave_size=4)[0]
    _write_wave(store.root, seq, parts)
    stamp = os.path.getmtime(os.path.join(store.root, "waves",
                                          f"wave-{seq:06d}.parquet"))
    _write_wave(store.root, seq, parts)  # task retry: must not rebuild
    assert os.path.getmtime(os.path.join(
        store.root, "waves", f"wave-{seq:06d}.parquet")) == stamp


# -- persisted IVF index ----------------------------------------------------

def test_ivf_persisted_index_probe_has_no_python(spark, tmp_path, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id = 1").select("embedding").first()[0]
    expected = similarity.ivf_topk(emb, q, k=10, nlist=8, nprobe=4).collect()

    path = str(tmp_path / "ivf_index")
    index = similarity.build_ivf_index(emb, nlist=8, path=path)
    got = similarity.ivf_probe(index, q, k=10, nprobe=4)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the probe plan scans the stored assignment: no Arrow/pandas UDF
    # re-assignment anywhere (VERDICT r2 #4)
    assert "ArrowEvalPython" not in plan and "EvalPython" not in plan
    assert got.collect() == expected
    # partition-pruned layout on disk: one directory per cluster
    assert any(d.startswith("cluster=") for d in os.listdir(path))

    reloaded = similarity.load_ivf_index(spark, path)
    assert np.allclose(reloaded.centroids, index.centroids)
    assert similarity.ivf_probe(reloaded, q, k=10, nprobe=4).collect() \
        == expected


# -- insert-at-index with_columns ------------------------------------------

def test_with_columns_insert_at_index(spark):
    from tbl_spark.transforms import TransformSpec, apply_transforms
    df = spark.createDataFrame([(1, "a", 2.0)], "x int, y string, z double")
    out = apply_transforms(df, TransformSpec(
        with_columns=["mid:i32@1=7"]))
    assert out.columns == ["x", "mid", "y", "z"]
    assert out.first()["mid"] == 7
    # 3-segment reference form with @IDX, typed-null value
    out2 = apply_transforms(df, TransformSpec(
        with_columns=["head:str@0"]))
    assert out2.columns == ["head", "x", "y", "z"]
    assert out2.first()["head"] is None
    # append (no @) unchanged
    out3 = apply_transforms(df, TransformSpec(with_columns=["tail:i64=1"]))
    assert out3.columns == ["x", "y", "z", "tail"]
    with pytest.raises(ValueError, match="out of range"):
        apply_transforms(df, TransformSpec(with_columns=["bad:i32@9=1"]))


# -- size parsing + partition sink -----------------------------------------

def test_parse_size_suffixes():
    from tbl_spark.partitioning import parse_size
    assert parse_size(4096) == 4096
    assert parse_size("64KB") == 64 * 1024
    assert parse_size("1.5m") == int(1.5 * (1 << 20))
    assert parse_size("2GiB") == 2 << 30
    assert parse_size(" 10 ") == 10
    with pytest.raises(ValueError, match="cannot parse size"):
        parse_size("64 elephants")
    with pytest.raises(ValueError, match="cannot parse size"):
        parse_size("MB")


def test_write_partitioned_by_bytes_suffix(spark, tmp_path):
    from tbl_spark.partitioning import write_partitioned
    df = spark.range(5000).withColumn("pad", F.expr("repeat('x', 100)")) \
        .withColumn("grp", (F.col("id") % 2).cast("int"))
    out = str(tmp_path / "parted")
    n = write_partitioned(df, out, "grp", by_bytes="64KB")
    assert n >= 4                    # the cap split each group's file
    sizes = [os.path.getsize(os.path.join(r, f))
             for r, _d, fs in os.walk(out) for f in fs
             if f.endswith(".parquet")]
    assert max(sizes) < 4 * 64 * 1024


# -- store meta guard -------------------------------------------------------

def test_meta_guard_rejects_committed_store_without_meta(spark, tmp_path):
    from tbl_spark.store import ChunkStore, encode_to_store
    from tbl_spark.datagen import generate_df
    store, _ = _make_store(spark, tmp_path, n_docs=500, n_parts=2)
    os.remove(store.meta_path)       # torn store.json
    with pytest.raises(ValueError, match="no store.json"):
        encode_to_store(generate_df(spark, 500, 2), store, 2)


# -- parallel footer reads --------------------------------------------------

def test_parallel_footers_match_sequential(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from tbl_spark import inspect as tins
    files = []
    for i in range(37):              # > pool width, odd remainder
        p = str(tmp_path / f"f{i:02d}.parquet")
        pq.write_table(pa.table({"a": list(range(i + 1))}), p)
        files.append(p)
    got = tins.ls([str(tmp_path)])
    assert got["files"] == 37
    assert got["rows"] == sum(range(1, 38))
    summary = tins.schema_summary([str(tmp_path)], examples=True)
    assert summary[0]["rows"] == sum(range(1, 38))
    # order-preserving: examples come from the sorted head of the listing
    assert summary[0]["example_paths"] == ["f00.parquet", "f01.parquet",
                                           "f02.parquet"]


def test_cli_compact_distributes_multiwave(spark, tmp_path, capsys):
    from tbl_spark.cli import main
    store, _ = _make_store(spark, tmp_path, n_docs=2000, n_parts=8)
    rc = main(["compact", "--store", store.root, "--wave-size", "4"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["waves_written"] == 2
    assert len(store.waves()) == 2


def test_auto_pair_mode_matches_all_pairs_on_random_corpora(spark):
    """Randomized equivalence: for corpora whose duplicate pairs are
    well-separated from noise (the regime every verified dedup query
    targets), the bounded 'auto' candidate mode must produce EXACTLY the
    drop set of the exhaustive 'all' mode — the verification step makes
    extra candidates harmless, so only missed candidates could differ."""
    rng = np.random.default_rng(20260816)
    vocab = [f"w{i:03d}" for i in range(300)]
    for trial in range(3):
        rows = []
        for i in range(120):                  # noise docs: random words
            words = rng.choice(vocab, size=30, replace=True)
            rows.append((f"t{trial}n{i:04d}", " ".join(words)))
        for i in range(25):                   # planted near-dup pairs
            words = list(rng.choice(vocab, size=30, replace=True))
            mutated = list(words)
            mutated[rng.integers(0, 30)] = "zz" + str(i)
            rows.append((f"t{trial}pa{i:04d}", " ".join(words)))
            rows.append((f"t{trial}pb{i:04d}", " ".join(mutated)))
        df = spark.createDataFrame(rows, "doc_id string, text string")
        kept = {}
        for mode in ("auto", "all"):
            out = dedup.minhash_lsh_dedup(df, verify_threshold=0.5,
                                          pair_mode=mode)
            kept[mode] = {r["doc_id"] for r in out.select("doc_id").collect()}
        assert kept["auto"] == kept["all"], (
            f"trial {trial}: auto≠all diff="
            f"{kept['auto'] ^ kept['all']}")


# -- zone maps (manifest min/max stats + predicate-pruned decode) ----------

def _sorted_token_store(spark, tmp_path):
    """Colocated store over an input whose files are doc_id-ordered, so
    chunks are value-clustered and zone maps can actually prune."""
    from tbl_spark.datagen import write_token_table
    from tbl_spark.store import ChunkStore, encode_to_store_colocated
    path = str(tmp_path / "tt")
    write_token_table(path, 4000, n_parts=16)  # 16 files → ≥16 chunks
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "262144")
    try:
        df = spark.read.parquet(path)
        store = ChunkStore(str(tmp_path / "store"))
        encode_to_store_colocated(df, store, tokens_per_chunk=100_000)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    return store, df


def test_manifests_carry_zone_stats(spark, tmp_path):
    store, _ = _sorted_token_store(spark, tmp_path)
    m = store.manifest_rows()[0]
    cols = json.loads(m["columns"])
    st = cols["doc_id"]["stats"]
    assert st["min"] <= st["max"] and st["nulls"] == 0
    assert cols["n_tok"]["stats"]["min"] >= 0
    assert "stats" not in cols["tokens"]     # list column: no zone


def test_zone_pruned_decode_exact_and_skips_chunks(spark, tmp_path):
    from tbl_spark.datagen import SPARK_SCHEMA_DDL
    from tbl_spark.store import decode_from_store, zone_prune_parts
    store, df = _sorted_token_store(spark, tmp_path)
    n_parts = len(store.committed_parts())
    assert n_parts >= 6
    hi = sorted(r["doc_id"] for r in df.select("doc_id").collect())[-200]
    pred = f"doc_id>={hi}"
    kept = zone_prune_parts(store, pred)
    assert 0 < len(kept) < n_parts           # pruning really skipped chunks
    got = decode_from_store(store, spark, SPARK_SCHEMA_DDL, predicate=pred)
    expected = df.filter(F.col("doc_id") >= hi)
    assert got.count() == expected.count() == 200
    joined = (got.alias("b").join(expected.alias("a"), "doc_id")
              .filter(F.col("a.tokens") == F.col("b.tokens")).count())
    assert joined == 200


def test_zone_prune_numeric_and_all_pruned(spark, tmp_path):
    from tbl_spark.datagen import SPARK_SCHEMA_DDL
    from tbl_spark.store import decode_from_store, zone_prune_parts
    store, _ = _sorted_token_store(spark, tmp_path)
    # impossible numeric predicate → every chunk pruned, empty result of
    # the right schema
    assert zone_prune_parts(store, "n_tok>=100000") == set()
    out = decode_from_store(store, spark, SPARK_SCHEMA_DDL,
                            predicate="n_tok>=100000")
    assert out.count() == 0
    assert out.columns == [f.split()[0] for f in SPARK_SCHEMA_DDL.split(", ")]


def test_zone_pruned_projection_adds_filter_column(spark, tmp_path):
    from tbl_spark.datagen import SPARK_SCHEMA_DDL
    from tbl_spark.store import decode_from_store
    store, df = _sorted_token_store(spark, tmp_path)
    lo = sorted(r["doc_id"] for r in df.select("doc_id").collect())[100]
    out = decode_from_store(store, spark, SPARK_SCHEMA_DDL,
                            columns=["n_tok"], predicate=f"doc_id<{lo}")
    assert out.columns == ["n_tok"]          # filter column dropped again
    assert out.count() == 100


def test_zone_survives_wave_compaction(spark, tmp_path):
    from tbl_spark.datagen import SPARK_SCHEMA_DDL
    from tbl_spark.store import decode_from_store
    store, df = _sorted_token_store(spark, tmp_path)
    hi = sorted(r["doc_id"] for r in df.select("doc_id").collect())[-150]
    pred = f"doc_id>={hi}"
    before = {r["doc_id"] for r in decode_from_store(
        store, spark, SPARK_SCHEMA_DDL, predicate=pred).collect()}
    store.compact(wave_size=2, spark=spark)  # stats move into wave manifests
    after = {r["doc_id"] for r in decode_from_store(
        store, spark, SPARK_SCHEMA_DDL, predicate=pred).collect()}
    assert before == after and len(after) == 150


# -- k-means IVF trainer ----------------------------------------------------

def test_kmeans_trainer_tightens_clusters_and_probes(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def mean_best_cos(centroids):
        c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
        vecs = np.stack([np.asarray(r[0], dtype=np.float32)
                         for r in emb.select("embedding").collect()])
        v = vecs / np.maximum(
            np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
        return float((v @ c.T).max(axis=1).mean())

    strided = similarity.train_centroids(emb, 8)
    kmeans = similarity.train_centroids_kmeans(emb, 8, iters=4)
    # Lloyd refinement must tighten the clustering objective (mean cosine
    # of each vector to its best centroid)
    assert mean_best_cos(kmeans) > mean_best_cos(strided)

    # the refined index works end-to-end and finds the exact neighbor
    q = emb.filter("vec_id = 7").select("embedding").first()[0]
    index = similarity.build_ivf_index(emb, nlist=8, trainer="kmeans",
                                       kmeans_iters=3, persist=False)
    top = similarity.ivf_probe(index, q, k=5, nprobe=4).collect()
    assert top[0]["vec_id"] == 7 and top[0]["cos"] == 1.0


# -- zone-map soundness (code-review regressions) ---------------------------

def test_zone_stats_and_match_are_type_sound(zone_keeps):
    import datetime
    import decimal
    import pyarrow as pa
    from tbl_spark.store import _column_stats

    tbl = pa.table({
        "big": pa.array([9223372036854775807, 9223372036854775806]),
        "dec": pa.array([decimal.Decimal(20), decimal.Decimal(30)],
                        pa.decimal128(20, 0)),
        "flag": pa.array([True, True]),
        "ts": pa.array([datetime.datetime(2024, 1, 2, 12, 0, 0),
                        datetime.datetime(2024, 1, 2, 23, 59, 59)]),
        "s": pa.array(["a", "b"]),
    })
    st = _column_stats(tbl)
    # bigint above 2^53: exact-match predicate must NOT be pruned
    assert zone_keeps(st["big"], "=", "9223372036854775807")
    # decimal stats are numeric, not strings: '30' >= '5' lexicographic
    # false-prune is gone
    assert isinstance(st["dec"]["min"], int)
    assert zone_keeps(st["dec"], ">=", "5")
    assert not zone_keeps(st["dec"], ">", "30")
    # bool columns never prune (predicate form is engine-ambiguous)
    assert zone_keeps(st["flag"], "=", "true")
    assert zone_keeps(st["flag"], "=", "false")
    # ISO 'T' timestamp form compares against str(datetime) stats
    assert zone_keeps(st["ts"], ">=", "2024-01-02T13:00:00")
    assert not zone_keeps(st["ts"], ">", "2024-01-03T00:00:00")
    # plain strings still prune
    assert not zone_keeps(st["s"], ">=", "c")
    assert zone_keeps(st["s"], ">=", "b")
    # unparseable numeric predicate keeps the chunk
    assert zone_keeps(st["big"], ">=", "not-a-number")


def test_kmeans_small_corpus_does_not_crash(spark):
    rows = [(i, [float(i), 1.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c = similarity.train_centroids_kmeans(df, nlist=16, iters=2)
    assert 1 <= c.shape[0] <= 5 and c.shape[1] == 2
