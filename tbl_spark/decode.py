"""Distributed decode job: chunk DataFrame → original table.

Inverse of encode.py; grouped Arrow UDF per part_id. Row order within a
chunk is preserved column-to-column (all columns of a chunk were encoded
from one aligned Arrow table), so positional zip reconstructs rows exactly
— the per-row token-array equality invariant is checked by tests joining
on doc_id."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from .arrowtypes import arrow_type_of_ddl, from_codec_output
from .codecs import decode_array

# chunk DataFrames carry their part id in the CHUNK_SCHEMA_DDL column
# `part_id` (encode.py) — distinct from the reserved input-side key column.
CHUNK_PART_COL = "part_id"


def _resolve_shared_tables(chunk_df: DataFrame,
                           shared_tables: dict | None) -> dict[int, bytes]:
    """Shared rANS tables for a decode, in priority order: the explicit
    param (store metadata path), the `tbl_shared_tables` attribute the
    encode functions attach to their result DataFrame (the in-flight
    roundtrip path — free), else a collect of the sentinel chunk rows
    (cross-session readers of persisted chunk parquet; a tiny pushed-
    filter scan there, but on an UN-materialized in-flight chunk DF it
    recomputes the encode — pass the tables explicitly in that case)."""
    if shared_tables is not None:
        return dict(shared_tables)
    attr = getattr(chunk_df, "tbl_shared_tables", None)
    if attr is not None:
        return dict(attr)
    from pyspark.sql import functions as F
    from .codecs.core import shared_table_fp
    from .encode import RANS_TABLE_CODEC
    rows = (chunk_df.filter(F.col("codec") == RANS_TABLE_CODEC)
            .select("blob").collect())
    out: dict[int, bytes] = {}
    for r in rows:
        b = bytes(r[0])
        out[shared_table_fp(b)] = b
    return out


def _register_tables(tables: dict[int, bytes]) -> None:
    if tables:
        from .codecs.core import register_shared_table
        for b in tables.values():
            register_shared_table(b)


def _drop_sentinel_rows(tbl: pa.Table) -> pa.Table:
    """Remove shared-table sentinel rows (codec='rans_table') before
    decoding — they carry no data rows."""
    import pyarrow.compute as pc
    from .encode import RANS_TABLE_CODEC
    mask = pc.not_equal(tbl.column("codec"), RANS_TABLE_CODEC)
    if bool(pc.all(mask).as_py()):
        return tbl
    return tbl.filter(mask)


def _apply_mask(arr: pa.Array, valid: np.ndarray | None) -> pa.Array:
    if valid is None or valid.all():
        return arr
    mask = pa.array(~valid)
    if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
        flat = arr.flatten()
        offsets = arr.offsets if hasattr(arr, "offsets") else None
        if offsets is None:
            lengths = np.asarray(arr.value_lengths(), dtype=np.int64)
            off = np.zeros(len(arr) + 1, dtype=np.int64)
            np.cumsum(lengths, out=off[1:])
            offsets = pa.array(off)
        cls = (pa.LargeListArray
               if pa.types.is_large_list(arr.type) else pa.ListArray)
        return cls.from_arrays(offsets, flat, mask=mask)
    import pyarrow.compute as pc
    return pc.if_else(pa.array(valid), arr, pa.scalar(None, arr.type))


def decode_table(chunk_tbl: pa.Table,
                 column_order: list[str]) -> pa.Table:
    """All chunk rows of ONE part_id → the decoded Arrow table."""
    by_col = {}
    blobs = chunk_tbl.column("blob").to_pylist()
    names = chunk_tbl.column("column").to_pylist()
    types = chunk_tbl.column("spark_type").to_pylist()
    for name, blob, ddl in zip(names, blobs, types):
        target = arrow_type_of_ddl(ddl)
        values, valid = decode_array(blob)
        arr = from_codec_output(values, target)
        by_col[name] = _apply_mask(arr, valid)
    cols = [by_col[c] for c in column_order]
    return pa.Table.from_arrays(cols, names=column_order)


def decode_chunks_colocated(chunk_df: DataFrame, output_ddl: str,
                            target_partitions: int | None = None,
                            shared_tables: dict[int, bytes] | None = None
                            ) -> DataFrame:
    """Zero-shuffle decode for chunk stores: when every input file holds
    exactly one part's rows (ChunkStore's layout), rows of a part are
    contiguous within each scan partition, so the decode streams with
    mapInArrow — no Exchange in the plan. Falls back to nothing: callers
    with arbitrarily-ordered chunk rows must use decode_chunks().

    `target_partitions` coalesces first (no shuffle; concatenation keeps
    every part contiguous, since a part never spans two input
    partitions). Many tiny chunk partitions each pay a Python task's
    fixed cost — on 4 cores, coalescing a 128-part store (2k docs) to 4
    partitions cut a full decode from 3.5 s to 1.2 s wall and from 13.5
    to 3.6 JVM + Python-worker CPU-s. Only set it when the upstream is a
    cheap scan or cache: coalesce also narrows the parallelism of
    whatever computes the chunks (e.g. an in-flight encode stage)."""
    from pyspark.sql.types import StructType
    tables = _resolve_shared_tables(chunk_df, shared_tables)
    if target_partitions is None and chunk_df.is_cached:
        # r8 auto-coalesce: a CACHED chunk frame often carries the
        # encode's full shuffle-partition count (hundreds of partitions
        # holding a handful of chunk rows each), and every mapInArrow
        # partition is one Python task with its fixed cost — a 513-row
        # chunk table cached in 160 partitions ran 160 tasks for work
        # that fits in one task per core.
        # The upstream is already materialized, so coalescing cannot
        # narrow any producer's parallelism (the docstring's caveat
        # below applies only to in-flight producers, which are never
        # `is_cached`); concatenation keeps every part contiguous.
        sc = chunk_df.sparkSession.sparkContext
        if chunk_df.rdd.getNumPartitions() > sc.defaultParallelism:
            target_partitions = sc.defaultParallelism
    if target_partitions is not None:
        chunk_df = chunk_df.coalesce(target_partitions)
    schema = StructType.fromDDL(output_ddl) if isinstance(output_ddl, str) \
        else output_ddl
    column_order = [f.name for f in schema.fields]

    def run(batches):
        _register_tables(tables)
        pending: pa.Table | None = None
        for batch in batches:
            tbl = _drop_sentinel_rows(pa.Table.from_batches([batch]))
            if pending is not None:
                tbl = pa.concat_tables([pending, tbl])
                pending = None
            pids = tbl.column("part_id").to_numpy()
            if len(pids) == 0:
                continue
            change = np.flatnonzero(np.diff(pids)) + 1
            starts = np.concatenate([[0], change])
            ends = np.concatenate([change, [len(pids)]])
            # the last run may continue in the next batch → hold it back
            for s, e in zip(starts[:-1], ends[:-1]):
                yield from decode_table(
                    tbl.slice(s, e - s), column_order).to_batches()
            pending = tbl.slice(starts[-1], ends[-1] - starts[-1])
        if pending is not None and len(pending):
            yield from decode_table(pending, column_order).to_batches()

    return chunk_df.mapInArrow(run, schema)


def decode_chunks(chunk_df: DataFrame, output_ddl: str,
                  shared_tables: dict[int, bytes] | None = None
                  ) -> DataFrame:
    """chunk DataFrame → reconstructed DataFrame with schema output_ddl."""
    from pyspark.sql.types import StructType
    spark = chunk_df.sparkSession
    tables = _resolve_shared_tables(chunk_df, shared_tables)
    schema = StructType.fromDDL(output_ddl) if isinstance(output_ddl, str) \
        else output_ddl
    column_order = [f.name for f in schema.fields]
    empty = pa.schema([
        (f.name, arrow_type_of_ddl(f.dataType.simpleString()))
        for f in schema.fields]).empty_table()

    def decode_group(key: tuple, tbl: pa.Table) -> pa.Table:
        _register_tables(tables)
        tbl = _drop_sentinel_rows(tbl)
        if tbl.num_rows == 0:  # a group of only sentinel rows (part -1)
            return empty
        return decode_table(tbl, column_order)

    _ = spark
    return chunk_df.groupBy(CHUNK_PART_COL).applyInArrow(decode_group, schema)
