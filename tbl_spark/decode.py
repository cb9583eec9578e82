"""Distributed decode jobs: chunk rows → original table.

Inverse of encode.py. `decode_table` turns all chunk rows of one part into
its Arrow table; two zero-shuffle mapInArrow decodes feed it.
`decode_row_groups` is the store read: each task opens the (file, row
group) units the driver planned (store.decode_from_store), one part per
row group. `decode_chunks_colocated` decodes an in-flight or cached chunk
DataFrame whose parts are contiguous.
Row order within a chunk is preserved column-to-column (all columns of a
chunk were encoded from one aligned Arrow table), so positional zip
reconstructs rows exactly — the per-row token-array equality invariant is
checked by tests joining on doc_id."""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from .arrowtypes import arrow_type_of_ddl, from_codec_output
from .codecs import decode_array


def _resolve_shared_tables(chunk_df: DataFrame) -> dict[int, bytes]:
    """Shared rANS tables for a chunk-frame decode: the
    `tbl_shared_tables` attribute the encode functions attach to their
    result DataFrame (the in-flight roundtrip path — free), else a
    collect of the sentinel chunk rows (cross-session readers of
    persisted chunk parquet; a tiny pushed-filter scan there, but on an
    UN-materialized in-flight chunk DF without the attribute it
    recomputes the encode — cache the frame first)."""
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


def arrow_schema_of(schema) -> pa.Schema:
    """The Arrow schema decode_table produces for a Spark StructType."""
    return pa.schema([(f.name, arrow_type_of_ddl(f.dataType.simpleString()))
                      for f in schema.fields])


# chunk columns a decode reads; the size and timing columns are not needed
_READ_COLUMNS = ["part_id", "column", "codec", "blob", "spark_type"]


def decode_row_groups(unit_df: DataFrame, schema,
                      shared_tables: dict[int, bytes]) -> DataFrame:
    """Decode the (file, row group, part id) units of `unit_df`
    (store.unit_frame, in one task when its blob bytes are few) with one
    mapInArrow and no shuffle. Each task opens each of its files once and
    reads its row groups, each holding one part's chunk rows. Only the
    chunk rows of `schema`'s columns are decoded. A row group that holds
    rows of another part than the one planned raises: the wave manifest
    and its file disagree. Store files hold no shared-table sentinel rows
    (the tables live in shared_tables.json), so a stray one raises too."""
    import pyarrow.compute as pc
    column_order = [f.name for f in schema.fields]
    wanted = pa.array(column_order, pa.string())

    def run(batches):
        _register_tables(shared_tables)
        units = [u for b in batches for u in b.to_pylist()]
        for path, file_units in itertools.groupby(units,
                                                  key=lambda u: u["file"]):
            with pq.ParquetFile(path) as f:
                for u in file_units:
                    tbl = f.read_row_group(u["row_group"],
                                           columns=_READ_COLUMNS)
                    pids = tbl.column("part_id").to_numpy()
                    if (pids != u["part_id"]).any():
                        raise ValueError(
                            f"{path} row group {u['row_group']} holds parts "
                            f"{sorted(set(pids.tolist()))}, planned part "
                            f"{u['part_id']}")
                    tbl = tbl.filter(pc.is_in(tbl.column("column"),
                                              value_set=wanted))
                    if tbl.num_rows:
                        yield from decode_table(
                            tbl, column_order).to_batches()

    return unit_df.mapInArrow(run, schema)


def decode_chunks_colocated(chunk_df: DataFrame, output_ddl: str) -> DataFrame:
    """Zero-shuffle decode of a chunk DataFrame whose parts are each
    contiguous within one partition: an in-flight `encode_chunks` frame
    (applyInArrow emits a part's chunk rows together), a filter of one,
    or a cache of one. mapInArrow streams the decode, stitching a part
    whose rows cross an Arrow batch boundary, so the plan has no
    Exchange.

    A cached frame with more partitions than the session's parallelism
    is coalesced first: every mapInArrow partition is one Python task
    with its fixed cost, and concatenating partitions keeps every part
    contiguous. An in-flight frame is left as it is, since coalescing it
    would also narrow the encode stage that computes it."""
    from pyspark.sql.types import StructType
    tables = _resolve_shared_tables(chunk_df)
    if chunk_df.is_cached:
        # r8 auto-coalesce: a CACHED chunk frame often carries the
        # encode's full shuffle-partition count (hundreds of partitions
        # holding a handful of chunk rows each) — a 513-row chunk table
        # cached in 160 partitions ran 160 tasks for work that fits in
        # one task per core.
        sc = chunk_df.sparkSession.sparkContext
        if chunk_df.rdd.getNumPartitions() > sc.defaultParallelism:
            chunk_df = chunk_df.coalesce(sc.defaultParallelism)
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
