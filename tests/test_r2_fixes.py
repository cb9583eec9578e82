"""Round-2 regression tests: ADVICE items (reserved part column, store
metadata fail-fast, movable stores, codec type whitelist, reference
with_columns form), the CLI confirm/dry-run gate, csv/json/hex sinks,
streaming single-file writes, verified-LSH dedup semantics, and the
hot-bucket-safe embedding LSH."""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from tbl_spark.datagen import generate_df
from tbl_spark.store import ChunkStore, decode_from_store, encode_to_store


# -- ADVICE: reserved internal part column -----------------------------------

def test_reserved_part_col_rejected(spark):
    from tbl_spark.partitioning import PART_COL, with_part_id
    df = generate_df(spark, 100, 2).withColumn(PART_COL, F.lit(1))
    with pytest.raises(ValueError, match="reserved"):
        with_part_id(df, 4)


def test_user_part_id_column_roundtrips(spark):
    """A source table that legitimately contains a part_id column must be
    encoded and decoded like any other column (r1 silently dropped it)."""
    from tbl_spark.decode import decode_chunks_colocated
    from tbl_spark.encode import encode_chunks
    df = generate_df(spark, 200, 2).withColumn(
        "part_id", F.pmod(F.xxhash64("doc_id"), F.lit(7)).cast("int"))
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in df.schema.fields)
    decoded = decode_chunks_colocated(encode_chunks(df, 4), ddl)
    assert "part_id" in decoded.columns
    n = (decoded.alias("b").join(df.alias("a"), "doc_id")
         .filter((F.col("a.part_id") == F.col("b.part_id"))
                 & (F.col("a.tokens") == F.col("b.tokens"))).count())
    assert n == 200


# -- ADVICE: store metadata pins partitioning --------------------------------

def test_store_meta_mismatch_fails_fast(spark, tmp_path):
    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, 400, 2)
    encode_to_store(df, store, 4)
    with pytest.raises(ValueError, match="num_parts"):
        encode_to_store(df, store, 8)          # different num_parts
    with pytest.raises(ValueError, match="salt_cols"):
        encode_to_store(df, store, 4, salt_cols=("doc_id",))
    # matching parameters still resume cleanly
    summary = encode_to_store(df, store, 4)
    assert summary["skipped_parts"] == 4 and summary["encoded_parts"] == 0


def test_store_decode_uses_pinned_schema(spark, tmp_path):
    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, 300, 2)
    encode_to_store(df, store, 4)
    decoded = decode_from_store(store, spark)   # no DDL passed
    assert decoded.count() == 300
    assert set(decoded.columns) == set(df.columns)


# -- ADVICE: wave manifests survive a store move -----------------------------

def test_moved_store_resolves_wave_files(spark, tmp_path):
    store = ChunkStore(str(tmp_path / "store"))
    df = generate_df(spark, 800, 2)
    encode_to_store(df, store, 8)
    assert store.compact(wave_size=4) == 2
    moved = str(tmp_path / "relocated")
    shutil.move(store.root, moved)
    store2 = ChunkStore(moved)
    for f in store2.decode_units()[0]:
        assert os.path.exists(f)
    assert decode_from_store(store2, spark).count() == 800


# -- ADVICE: codec whitelist (no infinite recursion) --------------------------

def test_unsupported_arrow_type_raises():
    """Genuinely unsupported types (struct, map, decimal256) fail fast
    instead of recursing (decimal128 became supported in r2)."""
    from tbl_spark.codecs import encode_array
    arr = pa.array([{"a": 1}, {"a": 2}],
                   type=pa.struct([("a", pa.int32())]))
    with pytest.raises(ValueError, match="unsupported"):
        encode_array(arr)
    big = pa.array([1, 2], type=pa.decimal256(50, 0))
    with pytest.raises(ValueError, match="unsupported"):
        encode_array(big)


# -- ADVICE: reference with_columns form --------------------------------------

def test_with_columns_reference_three_segment_form(spark, sf_dir):
    from tbl_spark.transforms import TransformSpec, apply_transforms
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(5)
    out = apply_transforms(df, TransformSpec(
        with_columns=["a:i32:x=7", "b:i64", "c:str:x=hi", "d:i32=3"]))
    row = out.select("a", "b", "c", "d").first()
    assert (row["a"], row["b"], row["c"], row["d"]) == (7, None, "hi", 3)


# -- CLI confirm / dry-run gate ------------------------------------------------

@pytest.fixture
def small_parquet(tmp_path, spark):
    p = str(tmp_path / "in.parquet")
    pq.write_table(pa.table({"x": list(range(10)),
                             "b": [bytes([i]) for i in range(10)]}), p)
    return p


def test_cli_inplace_refuses_without_yes(small_parquet, capsys):
    from tbl_spark.cli import main
    before = open(small_parquet, "rb").read()
    rc = main(["data", small_parquet, "--inplace", "--set", "x=0"])
    assert rc == 3                      # non-interactive, no --yes → refuse
    assert open(small_parquet, "rb").read() == before
    assert "refusing" in capsys.readouterr().err


def test_cli_dry_run_writes_nothing(small_parquet, capsys):
    from tbl_spark.cli import main
    before = open(small_parquet, "rb").read()
    rc = main(["data", small_parquet, "--inplace", "--dry-run"])
    assert rc == 0
    assert open(small_parquet, "rb").read() == before
    out = capsys.readouterr().out
    assert "dry run" in out and "(inplace)" in out


def test_cli_inplace_with_yes_writes(small_parquet, spark):
    from tbl_spark.cli import main
    rc = main(["data", small_parquet, "--inplace", "--set", "x=0", "--yes"])
    assert rc == 0
    vals = {r["x"] for r in spark.read.parquet(small_parquet).collect()}
    assert vals == {0}


# -- csv / json sinks + hex stdout rendering -----------------------------------

def test_cli_csv_sink(small_parquet, tmp_path, spark):
    from tbl_spark.cli import main
    out = str(tmp_path / "out_csv")
    rc = main(["data", small_parquet, "--select", "x",
               "--output", out, "--csv", "--yes"])
    assert rc == 0
    got = sorted(int(r["_c0"]) for r in spark.read.csv(out).collect())
    assert got == list(range(10))


def test_cli_json_sink(small_parquet, tmp_path):
    from tbl_spark.cli import main
    out = str(tmp_path / "out_json")
    rc = main(["data", small_parquet, "--select", "x",
               "--output", out, "--json", "--yes"])
    assert rc == 0
    rows = []
    for name in os.listdir(out):
        if name.endswith(".json"):
            with open(os.path.join(out, name)) as f:
                rows += [json.loads(line) for line in f if line.strip()]
    assert sorted(r["x"] for r in rows) == list(range(10))


def test_cli_hex_stdout(small_parquet, capsys):
    from tbl_spark.cli import main
    rc = main(["data", small_parquet, "--select", "b", "--hex",
               "--sort", "b"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "0x00" in out and "0x09" in out


# -- streaming single-file writes ----------------------------------------------

def test_write_single_file_streams_and_is_exact(spark, tmp_path):
    from tbl_spark.filejobs import write_single_file
    df = generate_df(spark, 1000, 4)
    dst = str(tmp_path / "one.parquet")
    n = write_single_file(df, dst)
    assert n == 1000
    back = spark.read.parquet(dst)
    assert back.count() == 1000
    assert back.join(df, "doc_id").count() == 1000
    assert not os.path.exists(dst + ".tmp")    # no staging leftovers


def test_write_single_file_empty_input(spark, tmp_path):
    from tbl_spark.filejobs import write_single_file
    df = generate_df(spark, 100, 2).filter("n_tok < 0")
    dst = str(tmp_path / "empty.parquet")
    assert write_single_file(df, dst) == 0
    assert spark.read.parquet(dst).count() == 0


def test_filejobs_no_driver_materialization():
    """The 100 TB guard: per-file surgery must never pull a whole file
    onto the driver (r1 used df.toArrow())."""
    import inspect
    import tbl_spark.filejobs as fj
    src = inspect.getsource(fj)
    assert "toArrow" not in src and "toPandas" not in src


# -- verified-LSH dedup semantics ------------------------------------------------

def test_simhash_hamming_verified_keeps_distinct(spark, sf_dir):
    """hd_max verification stops the correlated-text over-dropping: on the
    500-doc corpus (24 true near-dup pairs) the unverified chunk-LSH drops
    hundreds; verified must drop only genuinely close simhashes."""
    from tbl_spark.pipelines import dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = dedup.simhash_dedup(docs, hd_max=3, hash_fn="md5_60").count()
    assert kept >= 470                      # only true near-dups dropped
    unverified = dedup.simhash_dedup(docs).count()
    assert unverified < kept                # the r1 behavior over-drops


def test_minhash_verified_matches_exact_jaccard(spark, sf_dir):
    """verify_threshold must eliminate every band-collision false positive:
    the kept set equals the exact all-pairs answer (the corpus is bimodal,
    so 0.5 sits in a wide margin)."""
    from tbl_spark.pipelines import dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = dedup.minhash_lsh_dedup(docs, verify_threshold=0.5)
    assert kept.count() == 476              # matches the DuckDB oracle


def test_md5_60_hash_matches_python(spark):
    """The cross-engine hash contract: Spark's md5_60 expression equals
    the top-60-bit md5 integer computed by any other implementation."""
    from tbl_spark.pipelines.dedup import _word_hash_expr
    expected = int(hashlib.md5(b"abc").hexdigest()[:15], 16)
    got = spark.range(1).select(
        F.expr(_word_hash_expr("'abc'", "md5_60")).alias("h")).first()["h"]
    assert got == expected


def test_embedding_dedup_hot_bucket_stays_linear(spark):
    """1,000 near-identical vectors — the r1 single-sketch design made one
    quadratic bucket out of these; banded min-edge LSH must both finish
    (O(n·bands) edges) and keep exactly the smallest id of the cluster."""
    from tbl_spark.pipelines import dedup
    rng = np.random.default_rng(7)
    base = rng.normal(size=16).astype(np.float32)
    rows = [(i, (base + rng.normal(scale=1e-4, size=16)
                 .astype(np.float32)).tolist()) for i in range(1000)]
    rows += [(10_000 + i, rng.normal(size=16).astype(np.float32).tolist())
             for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dedup.embedding_cosine_dedup(df, threshold=0.99)
    kept = {r["vec_id"] for r in out.select("vec_id").collect()}
    assert 0 in kept and len(kept & set(range(1000))) == 1
    assert len(kept) == 51                  # cluster min + the 50 randoms


# -- zero-shuffle colocated encode ----------------------------------------------

def test_colocated_encode_roundtrip_and_no_shuffle(spark, tmp_path):
    from tbl_spark.datagen import SPARK_SCHEMA_DDL, write_token_table
    from tbl_spark.decode import decode_chunks_colocated
    from tbl_spark.encode import encode_chunks_colocated
    path = str(tmp_path / "tt")
    write_token_table(path, 2000, n_parts=4)
    df = spark.read.parquet(path)
    chunks = encode_chunks_colocated(df, tokens_per_chunk=100_000)
    plan = chunks._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan            # the whole point: no shuffle
    decoded = decode_chunks_colocated(chunks, SPARK_SCHEMA_DDL)
    n = (decoded.alias("b").join(df.alias("a"), "doc_id")
         .filter(F.col("a.tokens") == F.col("b.tokens")).count())
    assert n == 2000


def test_colocated_encode_deterministic_part_ids(spark, tmp_path):
    from tbl_spark.datagen import write_token_table
    from tbl_spark.encode import encode_chunks_colocated
    path = str(tmp_path / "tt")
    write_token_table(path, 1500, n_parts=3)
    df = spark.read.parquet(path)

    def ids():
        return sorted(r["part_id"] for r in encode_chunks_colocated(
            df, tokens_per_chunk=50_000).select("part_id")
            .distinct().collect())

    a, b = ids(), ids()
    assert a == b and len(a) == len(set(a))  # stable AND unique


def test_colocated_store_encode_resume(spark, tmp_path):
    from tbl_spark.datagen import write_token_table
    from tbl_spark.store import encode_to_store_colocated
    path = str(tmp_path / "tt")
    write_token_table(path, 2000, n_parts=4)
    df = spark.read.parquet(path)
    store = ChunkStore(str(tmp_path / "store"))
    s1 = encode_to_store_colocated(df, store, tokens_per_chunk=50_000)
    assert s1["encoded_parts"] > 1 and s1["n_rows"] == 2000
    # both encoders sum the same per-part rows into their summaries
    salted = encode_to_store(df, ChunkStore(str(tmp_path / "salted")), 4)
    assert set(s1) == set(salted) | {"mode"}
    assert (s1["n_rows"], s1["n_values"]) == \
        (salted["n_rows"], salted["n_values"])
    assert s1["raw_bytes"] > s1["enc_bytes"] > 0
    # rerun: every chunk already committed → zero re-encodes
    s2 = encode_to_store_colocated(df, store, tokens_per_chunk=50_000)
    assert s2["encoded_parts"] == 0
    # different chunking on the same store must fail fast, not corrupt
    with pytest.raises(ValueError, match="tokens_per_chunk"):
        encode_to_store_colocated(df, store, tokens_per_chunk=99_999)
    # a salted encode into a colocated store must also fail fast
    with pytest.raises(ValueError, match="mode"):
        encode_to_store(df, store, 4)
    decoded = decode_from_store(store, spark)
    n = (decoded.alias("b").join(df.alias("a"), "doc_id")
         .filter(F.col("a.tokens") == F.col("b.tokens")).count())
    assert n == 2000


def test_cli_python_handoff(small_parquet, monkeypatch):
    """`cli python` preloads spark + df and hands off to code.interact
    (python.rs:5-68 analog) — stub the REPL and check the namespace."""
    import code
    from tbl_spark.cli import main
    captured = {}
    monkeypatch.setattr(
        code, "interact",
        lambda banner=None, local=None: captured.update(local or {}))
    rc = main(["python", small_parquet])
    assert rc == 0
    assert "spark" in captured and "df" in captured
    assert captured["df"].count() == 10


def test_colocated_cutter_handles_empty_batches():
    from tbl_spark.encode import BLOCK_HELPER, FILE_HELPER, \
        cut_colocated_chunks
    empty = pa.RecordBatch.from_pydict({
        "x": pa.array([], type=pa.int64()),
        FILE_HELPER: pa.array([], type=pa.string()),
        BLOCK_HELPER: pa.array([], type=pa.int64())})
    assert list(cut_colocated_chunks([empty], 100, False, "tokens")) == []
    assert list(cut_colocated_chunks([], 100, False, "tokens")) == []


def test_cli_stdout_csv_and_jsonl(small_parquet, capsys):
    from tbl_spark.cli import main
    rc = main(["data", small_parquet, "--select", "x", "b",
               "--sort", "x", "--csv", "-n", "3"])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert lines[0] == "x,b"                    # header (CsvWriter default)
    assert lines[1] == "0,0x00" and len(lines) == 4
    rc = main(["data", small_parquet, "--select", "x",
               "--sort", "x", "--jsonl", "-n", "2"])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert [json.loads(l) for l in lines] == [{"x": 0}, {"x": 1}]


def test_cli_stdout_json_array_and_n_all(small_parquet, capsys):
    from tbl_spark.cli import main
    rc = main(["data", small_parquet, "--select", "x",
               "--sort", "x", "--json", "-n", "all"])
    assert rc == 0
    arr = json.loads(capsys.readouterr().out)
    assert [r["x"] for r in arr] == list(range(10))


def test_cli_single_file_csv_sink(small_parquet, tmp_path, spark):
    from tbl_spark.cli import main
    out = str(tmp_path / "export.csv")
    rc = main(["data", small_parquet, "--select", "x",
               "--sort", "x", "--output", out, "--yes"])
    assert rc == 0 and os.path.isfile(out)      # ONE file, not a directory
    with open(out) as f:
        lines = f.read().strip().splitlines()
    assert lines[0] == "x" and lines[1:] == [str(i) for i in range(10)]


def test_cli_single_file_parquet_sink(small_parquet, tmp_path, spark):
    from tbl_spark.cli import main
    out = str(tmp_path / "export.parquet")
    rc = main(["data", small_parquet, "--select", "x", "--output", out,
               "--yes"])
    assert rc == 0 and os.path.isfile(out)
    assert pq.read_table(out).num_rows == 10


# -- partition output mode (reference stub, finished) ---------------------------

def test_cli_partition_by_column(small_parquet, tmp_path, spark):
    from tbl_spark.cli import main
    out = str(tmp_path / "parted")
    rc = main(["data", small_parquet,
               "--with-columns", "grp:i32:x=1",
               "--replace", "grp.1=1",  # no-op, keeps chain exercised
               "--partition", "grp", "--output", out, "--yes"])
    assert rc == 0
    assert os.path.isdir(os.path.join(out, "grp=1"))
    back = spark.read.parquet(out)
    assert back.count() == 10


def test_partition_by_value_and_rows(spark, tmp_path):
    from tbl_spark.partitioning import write_partitioned
    df = generate_df(spark, 300, 2).withColumn(
        "v", F.pmod(F.xxhash64("doc_id"), F.lit(100)).cast("int"))
    out = str(tmp_path / "ranged")
    n_files = write_partitioned(df, out, "v", by_value="25", by_rows=40)
    dirs = {d for d in os.listdir(out) if d.startswith("v_range=")}
    assert dirs == {"v_range=0", "v_range=25", "v_range=50", "v_range=75"}
    back = spark.read.parquet(out)
    assert back.count() == 300
    # max rows per file respected
    for root, _d, names in os.walk(out):
        for name in names:
            if name.endswith(".parquet"):
                assert pq.read_metadata(
                    os.path.join(root, name)).num_rows <= 40
    assert n_files >= 4


# -- inspect display parity (ls listing, schema sort/examples, schemas) --------

def test_cli_ls_listing_and_summary(sf_dir, capsys):
    from tbl_spark.cli import main
    assert main(["ls", sf_dir, "-n", "2"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0].endswith(".parquet") and out[1].endswith(".parquet")
    assert "files not shown" in out[2]
    assert "rows stored in" in out[-1] and "tabular files" in out[-1]


def test_cli_schema_sort_and_examples(sf_dir, capsys):
    from tbl_spark.cli import main
    assert main(["schema", sf_dir, "--sort", "rows", "-n", "1",
                 "--examples"]) == 0
    out = capsys.readouterr().out
    assert "example:" in out
    assert "6,000 rows" in out          # lineitem is the biggest by rows


def test_cli_schemas_summary(sf_dir, capsys):
    from tbl_spark.cli import main
    assert main(["schemas", sf_dir]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 10             # one line per distinct schema
    assert all("rows" in l for l in lines)


def test_format_bytes_matches_reference():
    from tbl_spark.inspect import format_bytes
    assert format_bytes(0) == "0.00 B"
    assert format_bytes(1023) == "1023.00 B"
    assert format_bytes(1024) == "1.00 KB"
    assert format_bytes(1536) == "1.50 KB"
    assert format_bytes(1024 ** 3 * 5) == "5.00 GB"


def test_cli_data_df_interactive_gets_transformed_frame(small_parquet,
                                                        monkeypatch):
    import code
    from tbl_spark.cli import main
    captured = {}
    monkeypatch.setattr(
        code, "interact",
        lambda banner=None, local=None: captured.update(local or {}))
    rc = main(["data", small_parquet, "--filter", "x>=5", "--df"])
    assert rc == 0
    assert captured["df"].count() == 5      # transforms applied pre-handoff


def test_cli_data_is_default_subcommand(small_parquet, capsys):
    """`tbl PATHS [transforms]` without naming `data` (args.rs:90-92)."""
    from tbl_spark.cli import main
    rc = main([small_parquet, "--select", "x", "--sort", "x",
               "--csv", "-n", "2"])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert lines[0] == "x" and lines[1] == "0"


def test_cli_rows_omitted_hint(small_parquet, capsys):
    from tbl_spark.cli import main
    rc = main(["data", small_parquet, "-n", "4"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "rows omitted, use -n all to show all rows" in out


def test_cli_ls_empty_dir(tmp_path, capsys):
    from tbl_spark.cli import main
    assert main(["ls", str(tmp_path)]) == 0
    assert "[no tabular paths]" in capsys.readouterr().out


# -- decimal128 codec (the u64-widening target type) ----------------------------

def test_decimal128_codec_roundtrip():
    import decimal
    from tbl_spark.codecs import decode_array, encode_array
    vals = [0, 1, -1, 2**64, -(2**70), 2**64 - 1, None,
            12345678901234567890]
    arr = pa.array([decimal.Decimal(v) if v is not None else None
                    for v in vals], type=pa.decimal128(38, 0))
    out, valid = decode_array(encode_array(arr))
    assert out.type == arr.type
    assert list(valid) == [v is not None for v in vals]
    got = out.to_pylist()
    for i, v in enumerate(vals):
        if v is not None:
            assert got[i] == decimal.Decimal(v)


def test_u64_cast_column_roundtrips_through_store(spark, tmp_path):
    """cast COL=u64 widens to decimal(20,0) (transforms.py) — that column
    must now survive encode->decode bit-exactly instead of erroring."""
    from tbl_spark.decode import decode_chunks_colocated
    from tbl_spark.encode import encode_chunks
    from tbl_spark.transforms import TransformSpec, apply_transforms
    df = generate_df(spark, 300, 2)
    wide = apply_transforms(df, TransformSpec(cast=["n_tok=u64"]))
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in wide.schema.fields)
    decoded = decode_chunks_colocated(encode_chunks(wide, 4), ddl)
    n = (decoded.alias("b").join(wide.alias("a"), "doc_id")
         .filter(F.col("a.n_tok") == F.col("b.n_tok")).count())
    assert n == 300


# -- review-pass regressions ----------------------------------------------------

def test_colocated_resume_respects_wave_compaction(spark, tmp_path):
    """compact() deletes loose markers; a resume must still skip parts
    folded into waves instead of re-encoding the whole store."""
    from tbl_spark.datagen import write_token_table
    from tbl_spark.store import encode_to_store_colocated
    path = str(tmp_path / "tt")
    write_token_table(path, 2000, n_parts=6)
    df = spark.read.parquet(path)
    store = ChunkStore(str(tmp_path / "store"))
    s1 = encode_to_store_colocated(df, store, tokens_per_chunk=50_000)
    assert store.compact(wave_size=2) >= 1
    s2 = encode_to_store_colocated(df, store, tokens_per_chunk=50_000)
    assert s2["encoded_parts"] == 0             # nothing re-encoded
    assert len(store.manifest_rows()) == s1["encoded_parts"]  # no dupes
    assert decode_from_store(store, spark).count() == 2000


def test_colocated_resume_pins_split_config(spark, tmp_path):
    """Changing a chunk-membership-affecting config between runs must
    fail fast, not silently drop rows."""
    from tbl_spark.datagen import write_token_table
    from tbl_spark.store import encode_to_store_colocated
    path = str(tmp_path / "tt")
    write_token_table(path, 1000, n_parts=4)
    df = spark.read.parquet(path)
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store_colocated(df, store, tokens_per_chunk=50_000)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
        with pytest.raises(ValueError, match="max_partition_bytes"):
            encode_to_store_colocated(df, store, tokens_per_chunk=50_000)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    # an added input file changes chunk membership → fail fast too
    import pyarrow.parquet as _pq
    from tbl_spark.datagen import generate_part
    _pq.write_table(generate_part(9, 100, rows_per_part=100),
                    f"{path}/late.parquet", compression="zstd")
    with pytest.raises(ValueError, match="input_files_digest"):
        encode_to_store_colocated(spark.read.parquet(path), store,
                                  tokens_per_chunk=50_000)


def test_with_columns_value_containing_colon(spark, sf_dir):
    from tbl_spark.transforms import TransformSpec, apply_transforms
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(2)
    out = apply_transforms(df, TransformSpec(
        with_columns=["url:str=http://example.com:8080/x",
                      "ref:str:x=a:b:c"]))
    row = out.select("url", "ref").first()
    assert row["url"] == "http://example.com:8080/x"
    assert row["ref"] == "a:b:c"


def test_cli_single_file_jsonl_sink(small_parquet, tmp_path):
    from tbl_spark.cli import main
    out = str(tmp_path / "export.jsonl")
    rc = main(["data", small_parquet, "--select", "x", "--jsonl",
               "--output", out, "--yes"])
    assert rc == 0 and os.path.isfile(out)
    with open(out) as f:
        xs = sorted(json.loads(l)["x"] for l in f if l.strip())
    assert xs == list(range(10))


def test_partition_by_bytes_caps_file_sizes(spark, tmp_path):
    from tbl_spark.partitioning import write_partitioned
    df = generate_df(spark, 400, 2).withColumn(
        "g", F.pmod(F.xxhash64("doc_id"), F.lit(2)).cast("int"))
    out = str(tmp_path / "bybytes")
    n_files = write_partitioned(df, out, "g", by_bytes="20000")
    assert n_files >= 2
    sizes = []
    for root, _d, names in os.walk(out):
        sizes += [os.path.getsize(os.path.join(root, f))
                  for f in names if f.endswith(".parquet")]
    # sampled row-size estimate keeps files in the right ballpark
    # (parquet framing overhead means small files can overshoot a bit)
    assert max(sizes) < 20000 * 4
    back = spark.read.parquet(out)
    assert back.count() == 400


def test_colocated_resume_reencodes_only_missing_chunks(spark, tmp_path):
    """Kill-simulation for the zero-shuffle path: drop k commit markers
    (and their chunk files) → the rerun re-encodes exactly k chunks and
    the decode is complete again."""
    from tbl_spark.datagen import write_token_table
    from tbl_spark.store import encode_to_store_colocated
    path = str(tmp_path / "tt")
    write_token_table(path, 2000, n_parts=4)
    df = spark.read.parquet(path)
    store = ChunkStore(str(tmp_path / "store"))
    s1 = encode_to_store_colocated(df, store, tokens_per_chunk=50_000)
    parts = sorted(store.committed_parts())
    assert len(parts) == s1["encoded_parts"] >= 3
    for p in parts[:2]:  # simulate a crash that lost two chunks
        os.remove(os.path.join(store.manifest_dir, f"part-{p:05d}.json"))
        os.remove(os.path.join(store.chunks_dir, f"part-{p:05d}.parquet"))
    s2 = encode_to_store_colocated(df, store, tokens_per_chunk=50_000)
    assert s2["encoded_parts"] == 2
    decoded = decode_from_store(store, spark)
    n = (decoded.alias("b").join(df.alias("a"), "doc_id")
         .filter(F.col("a.tokens") == F.col("b.tokens")).count())
    assert n == 2000
