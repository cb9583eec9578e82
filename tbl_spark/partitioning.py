"""Explicit partitioning with skew defusal (north rule).

The token table's `source` column is Zipf-skewed (head source ≈ half the
rows). Chunk assignment is a salted hash of (source, doc_id): because
doc_id is part of the hash, rows of the hot source spread uniformly over
all chunks — the explicit analog of AQE skew-join splitting, and the
finished version of the reference's unimplemented `--partition-by` flags
(crates/tbl-cli/src/cli/args.rs:385-419, output.rs:181-189)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# Reserved INTERNAL column name for chunk assignment. A user table that
# legitimately contains a `part_id` column must survive encode→decode
# unchanged, so the engine's own key uses a name no sane schema carries and
# with_part_id refuses to run if the input already has it (ADVICE r1).
PART_COL = "__ts_part__"
DEFAULT_SALT_COLS = ("source", "doc_id")
DEFAULT_TOKENS_PER_CHUNK = 4_000_000  # ≈16 MB of int32 tokens per chunk


def plan_num_parts(total_tokens: int,
                   tokens_per_chunk: int = DEFAULT_TOKENS_PER_CHUNK,
                   min_parts: int = 4) -> int:
    return max(min_parts, -(-total_tokens // tokens_per_chunk))


def resolve_salt_cols(df: DataFrame,
                      salt_cols: tuple[str, ...] | None) -> tuple[str, ...]:
    """Pick the hash key: explicit > (source, doc_id) if present > all
    columns (still deterministic — full-row hash)."""
    if salt_cols:
        missing = [c for c in salt_cols if c not in df.columns]
        if missing:
            raise ValueError(f"salt columns not in schema: {missing}")
        return tuple(salt_cols)
    if all(c in df.columns for c in DEFAULT_SALT_COLS):
        return DEFAULT_SALT_COLS
    return tuple(df.columns)


_SIZE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "kib": 1 << 10,
               "m": 1 << 20, "mb": 1 << 20, "mib": 1 << 20,
               "g": 1 << 30, "gb": 1 << 30, "gib": 1 << 30,
               "t": 1 << 40, "tb": 1 << 40, "tib": 1 << 40}


def parse_size(size: str | int) -> int:
    """'64MB' / '1.5g' / 1048576 → bytes (ADVICE r2: a bare int() raised
    an unexplained ValueError on human-readable sizes)."""
    if isinstance(size, int):
        return size
    s = str(size).strip().lower()
    num = s.rstrip("kmgtib ")
    unit = s[len(num):].strip()
    if unit not in _SIZE_UNITS or not num:
        raise ValueError(
            f"cannot parse size {size!r}; expected e.g. 67108864, '64MB', "
            f"'1.5g'")
    try:
        return int(float(num) * _SIZE_UNITS[unit])
    except ValueError:
        raise ValueError(f"cannot parse size {size!r}") from None


def _spread_sample(df: DataFrame, rows: int) -> DataFrame:
    """~`rows` rows drawn from the FIRST ARROW BATCH OF EVERY PARTITION
    (not limit(n), which reads only the head partition — sorted or
    heterogeneous data would bias the per-row size estimate badly,
    ADVICE r2). One batch per partition is cheap and needs no count()."""
    def head_batch(batches):
        for b in batches:
            yield b
            break
    return df.mapInArrow(head_batch, df.schema).limit(rows)


def write_partitioned(df: DataFrame, output_dir: str, partition_col: str,
                      by_value: str | None = None,
                      by_rows: int | None = None,
                      by_bytes: str | None = None) -> int:
    """The FINISHED version of the reference's partition output mode
    (declared flags at crates/tbl-cli/src/cli/args.rs:385-419; stub at
    output.rs:180-189), Spark-first: a Hive-style partitioned parquet
    sink.

    - by_value=W: numeric range partitioning — each directory covers W
      values of the column (dir key = floor(col/W)*W).
    - by_rows=N: at most N rows per output file (maxRecordsPerFile).
    - by_bytes=B: approximate byte cap ('64MB'-style suffixes accepted) —
      the average encoded row size of a partition-spread sample converts
      B into a maxRecordsPerFile.
    Returns the number of data files written."""
    import os
    pcol = partition_col
    if by_value is not None:
        width = float(by_value)
        bucket = (F.floor(F.col(pcol) / F.lit(width)) * F.lit(width))
        if width == int(width):
            bucket = bucket.cast("bigint")
        df = df.withColumn(f"{pcol}_range", bucket)
        pcol = f"{pcol}_range"
    writer = df.write.mode("overwrite").partitionBy(pcol)
    if by_bytes is not None and by_rows is None:
        sample = _spread_sample(df, 2000)
        import tempfile

        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as tmp:
            sample.write.mode("overwrite").parquet(tmp)
            data = [os.path.join(tmp, f) for f in os.listdir(tmp)
                    if f.endswith(".parquet")]
            # row count from the written footers: a second sample.count()
            # job would re-run the sampling pass (and could see different
            # batches than the bytes it is divided by)
            n_rows = max(1, sum(pq.read_metadata(f).num_rows
                                for f in data))
            per_row = max(1, sum(os.path.getsize(f) for f in data) // n_rows)
        by_rows = max(1, parse_size(by_bytes) // per_row)
    if by_rows is not None:
        writer = writer.option("maxRecordsPerFile", by_rows)
    writer.parquet(output_dir)
    n_files = 0
    for root, _dirs, names in os.walk(output_dir):
        n_files += sum(1 for n in names if n.endswith(".parquet"))
    return n_files


def with_part_id(df: DataFrame, num_parts: int,
                 salt_cols: tuple[str, ...] | None = None) -> DataFrame:
    """Deterministic chunk id: pmod(xxhash64(*salt_cols), num_parts).

    Raises if the reserved internal column already exists instead of
    silently reusing arbitrary values as chunk ids."""
    if PART_COL in df.columns:
        raise ValueError(
            f"input schema already contains the reserved internal column "
            f"{PART_COL!r}; drop or rename it before encoding")
    salt_cols = resolve_salt_cols(df, salt_cols)
    return df.withColumn(
        PART_COL,
        F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]),
               F.lit(num_parts)).cast("int"))
