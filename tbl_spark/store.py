"""Checkpointed chunk store: per-part atomic commit, resume, compaction.

Layout (root/):
    store.json, shared_tables.json  pinned store `format`, contract,
                                schema and encode plan; the plan's
                                shared rANS tables
    chunks/part-NNNNN.parquet   a loose part's chunk rows, one row group
    manifest/part-NNNNN.json    its commit marker: per-column codec, sizes,
                                zone stats, encode timing, unit record
    waves/wave-NNNNNN.parquet   a compacted wave, one row group per part
    stats/wave-NNNNNN.parquet   the wave's STATS_SCHEMA rows
    manifest/wave-NNNNNN.json   its commit marker: parts, their manifests,
                                unit records
    snapshots/snap-NNNNNN.json  one summary per encode run
    _staging/                   in-flight files (ignored by readers)

A unit is one row group of a data file, holding one part's chunk rows;
a decode task reads units. `write_data_file` writes every data file and
returns one record per unit, which the manifest committing the file
carries and `ChunkStore.decode_units` plans from alone:

    {"file": "waves/wave-000000.parquet", "row_group": 1, "part_id": 3,
     "rows": 250, "columns": {"tokens": 198671, ...}}   # enc_bytes

Data files hold no timing, so their bytes depend only on the input and
the plan; timings live in the JSON records (manifest/, snapshots/).

store.json's `format` is STORE_FORMAT, pinned by the first encode, like
Iceberg's `format-version`. Every reader knows this one layout only: a
store whose store.json has another format, or none, is refused by
`ChunkStore.read_meta` and must be re-encoded.

Write protocol per part, executed ON THE EXECUTOR inside the encode
UDF (`encode_part`) — the Spark version of the reference's tmp+rename
crash-safe outputs (crates/tbl-cli/src/output.rs:141-176,
parquet_drop.rs:14-28):

    1. write chunk parquet  → _staging/part-N.parquet.<token>
    2. os.replace           → chunks/part-N.parquet        (atomic)
    3. write manifest json  → _staging/part-N.json.<token>
    4. os.replace           → manifest/part-N.json         (atomic commit)

The manifest file is the commit marker: a crash between 2 and 4 leaves an
orphan chunk file that the retry simply overwrites. Resume filters the
computed part id against the committed part ids with a literal `isin`, so
interrupted runs never re-encode committed partitions (north rule
resumability).

On a real cluster this store sits on a shared filesystem where rename is
atomic (HDFS/NFS); on S3-style object stores the same protocol maps onto
Iceberg snapshot commits — the interface here is the storage adapter
SURVEY.md §7.3 calls for.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from decimal import Decimal
from typing import Callable, Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .codecs.core import Plan, plan_from_json, plan_to_json
from .encode import (audition_codec_hints, cluster_sort_keys,
                     encode_table)
from .partitioning import PART_COL, with_part_id
from .transforms import _FILTER_RE

# The layout this module writes and reads (see the module docstring).
STORE_FORMAT = 1


def _load_json(path: str):
    with open(path) as f:
        return json.load(f)


def _publish(root: str, path: str, write: Callable[[str], object]):
    """Write `path` through the store's staging directory: `write(tmp)`
    writes the staged file, which is then renamed onto `path` in one
    atomic step. Returns what `write` returns."""
    tmp = os.path.join(root, "_staging",
                       f"{os.path.basename(path)}.{uuid.uuid4().hex[:8]}")
    out = write(tmp)
    os.replace(tmp, path)
    return out


def _write_json(root: str, path: str, obj) -> None:
    def write(tmp):
        with open(tmp, "w") as f:
            json.dump(obj, f)
    _publish(root, path, write)


@contextlib.contextmanager
def _exclusive(lock_path: str):
    """Hold an exclusive flock on `lock_path` for the block. When the
    lock file cannot be opened (read-only directory, permissions) or the
    filesystem has no flock support, the block runs unlocked. The lock
    file is left in place on purpose: deleting it would let a new writer
    lock a fresh inode while another still holds the old."""
    lock = None
    try:
        try:
            import fcntl
            lock = open(lock_path, "w")
            fcntl.flock(lock, fcntl.LOCK_EX)
        except (ImportError, OSError):
            pass  # best-effort: run unlocked
        yield
    finally:
        if lock is not None:
            lock.close()  # releases the flock


# What an encode task returns per part it commits; a run's summary sums
# these columns.
PART_ROW_SCHEMA = pa.schema([(name, pa.int64()) for name in (
    "part_id", "n_rows", "n_values", "raw_bytes", "enc_bytes")])
PART_ROW_DDL = ", ".join(f"{name} bigint" for name in PART_ROW_SCHEMA.names)

# Columnar zone/stats sidecar written per wave at compaction time
# (VERDICT r3 #1): one row per (part_id, column), so pruning (a pyarrow
# pass on the driver) and stats rollups scan parquet instead of a
# json.load of every manifest — the metadata-plane analog of what wave
# files did for the data plane. Numeric/ts bounds are SOUND-WIDENED
# doubles (lo rounded down, hi rounded up when the exact value is not
# double-representable), so a filter over them can false-keep but never
# false-prune; str/date bounds stay strings.
STATS_SCHEMA = pa.schema([
    ("part_id", pa.int64()), ("column", pa.string()),
    ("codec", pa.string()), ("n_rows", pa.int64()),
    ("n_values", pa.int64()), ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()), ("kind", pa.string()),
    ("nulls", pa.int64()), ("has_nan", pa.bool_()),
    ("lo_num", pa.float64()), ("hi_num", pa.float64()),
    ("lo_str", pa.string()), ("hi_str", pa.string()),
])

# Parquet writer settings. Only part_id keeps statistics (they name the
# part a row group holds; decode tasks read row groups by index);
# unique blobs gain nothing from dictionary pages; every reader passes its
# own schema, so no Arrow schema goes in the footer.
CHUNK_PARQUET = {"compression": "none", "write_statistics": ["part_id"],
                 "use_dictionary": False, "store_schema": False}
STATS_PARQUET = {"compression": "zstd", "write_statistics": False,
                 "use_dictionary": False, "store_schema": False}


def _widen_num(v: int | float | Decimal, up: bool) -> float:
    """Nearest double NOT tighter than v (down for lo, up for hi) — keeps
    double-typed zone bounds sound for int values beyond 2^53 and for
    decimals that no double holds (Python compares both exactly with a
    float)."""
    d = float(v)
    if d == v:
        return d
    import math
    return math.nextafter(d, math.inf if up else -math.inf) \
        if (d < v) == up else d


def _manifest_stats_rows(manifest: dict) -> list[dict]:
    """Flatten one part manifest (its `columns` held as a JSON string)
    into STATS_SCHEMA rows. `_column_stats` records `nan` for every float
    column, so a column without the flag is NaN-free."""
    rows = []
    for name, c in json.loads(manifest["columns"]).items():
        st = c.get("stats") or {}
        kind = st.get("kind")
        lo, hi = st.get("min"), st.get("max")
        lo_num = hi_num = lo_str = hi_str = None
        if kind in ("num", "ts") and lo is not None:
            # ts bounds are int epoch micros
            lo_num, hi_num = _widen_num(lo, up=False), _widen_num(hi, up=True)
        elif kind in ("str", "date") and lo is not None:
            lo_str, hi_str = str(lo), str(hi)
        rows.append({
            "part_id": manifest["part_id"], "column": name,
            "codec": c.get("codec"), "n_rows": manifest["n_rows"],
            "n_values": c.get("n_values"),
            "raw_bytes": c.get("raw_bytes"), "enc_bytes": c.get("enc_bytes"),
            "kind": kind, "nulls": st.get("nulls"),
            "has_nan": st.get("nan", False),
            "lo_num": lo_num, "hi_num": hi_num,
            "lo_str": lo_str, "hi_str": hi_str,
        })
    return rows


def write_data_file(root: str, file: str,
                    parts: Iterable[tuple[int, pa.Table]]) -> list[dict]:
    """Write the data file `file` (relative to the store `root`) through
    staging, one row group per (part id, chunk rows) pair in order, and
    return its unit records (see the module docstring). Chunk rows lose
    their `encode_ms` column here, so the file's bytes depend only on
    its parts' rows and the encode plan."""
    def write(tmp: str) -> list[dict]:
        units, writer = [], None
        try:
            for row_group, (part_id, tbl) in enumerate(parts):
                if "encode_ms" in tbl.column_names:
                    tbl = tbl.drop_columns(["encode_ms"])
                if writer is None:
                    writer = pq.ParquetWriter(tmp, tbl.schema,
                                              **CHUNK_PARQUET)
                writer.write_table(tbl)
                units.append({
                    "file": file, "row_group": row_group, "part_id": part_id,
                    "rows": tbl["n_rows"][0].as_py() if len(tbl) else 0,
                    "columns": dict(zip(tbl["column"].to_pylist(),
                                        tbl["enc_bytes"].to_pylist()))})
        finally:
            if writer is not None:
                writer.close()
        return units
    return _publish(root, os.path.join(root, file), write)


class ChunkStore:
    def __init__(self, root: str):
        self.root = root
        self.chunks_dir = os.path.join(root, "chunks")
        self.manifest_dir = os.path.join(root, "manifest")
        self.snapshots_dir = os.path.join(root, "snapshots")
        self.stats_dir = os.path.join(root, "stats")
        self.staging_dir = os.path.join(root, "_staging")

    def init_dirs(self) -> None:
        for d in (self.chunks_dir, self.manifest_dir, self.snapshots_dir,
                  self.staging_dir):
            os.makedirs(d, exist_ok=True)

    # -- store-level metadata (partitioning contract) ------------------------
    # num_parts and the salt columns are part of the store's identity: a
    # resume that recomputes part ids with different parameters would hash
    # rows into already-committed part ids and silently drop them (ADVICE
    # r1). First encode persists them; later runs fail fast on mismatch.

    @property
    def meta_path(self) -> str:
        return os.path.join(self.root, "store.json")

    def read_meta(self) -> dict | None:
        """store.json, or None while no encode has pinned one. Every entry
        point reads it before any data file, so a store.json whose
        `format` is not STORE_FORMAT raises ValueError here."""
        if not os.path.exists(self.meta_path):
            return None
        meta = _load_json(self.meta_path)
        if meta.get("format") != STORE_FORMAT:
            found = f"format {meta['format']!r}" if "format" in meta \
                else "no format"
            raise ValueError(
                f"store {self.root} has {found} in store.json; this "
                f"version reads store format {STORE_FORMAT} only. "
                f"Re-encode the store.")
        return meta

    def write_meta(self, meta: dict) -> None:
        _write_json(self.root, self.meta_path, meta)

    # -- shared rANS tables sidecar (r7) ------------------------------------
    # Kept OUT of store.json: the pinned plan there names each table by
    # content fingerprint, and the blobs live here once. A store's runs
    # share its pinned plan, so the sidecar holds the tables of that one
    # plan; each blob names its table by fingerprint all the same.

    @property
    def shared_tables_path(self) -> str:
        return os.path.join(self.root, "shared_tables.json")

    def write_shared_tables(self, blobs) -> None:
        """Merge table blobs into the sidecar (atomic tmp+rename).

        The read-merge-rename runs under an exclusive lock on
        ``shared_tables.json.lock`` (ADVICE r7): without it, two
        concurrent encode runs against the same store could each read
        the old sidecar and the LAST rename would drop the other run's
        tables — leaving that run's persisted chunks undecodable. Each
        writer re-reads under the lock, so every merge lands; without
        flock the merge is best-effort and the rename stays atomic."""
        import base64

        from .codecs.core import shared_table_fp
        with _exclusive(self.shared_tables_path + ".lock"):
            cur = self._read_shared_tables_raw()
            for b in blobs:
                b = bytes(b)
                cur[f"{shared_table_fp(b):016x}"] = \
                    base64.b64encode(b).decode("ascii")
            _write_json(self.root, self.shared_tables_path, cur)

    def _read_shared_tables_raw(self) -> dict:
        return _load_json(self.shared_tables_path) \
            if os.path.exists(self.shared_tables_path) else {}

    def read_shared_tables(self) -> dict[int, bytes]:
        import base64
        return {int(fp, 16): base64.b64decode(b64)
                for fp, b64 in self._read_shared_tables_raw().items()}

    def check_or_init_meta(self, meta: dict, codec_hints: Plan | None,
                           audition: Callable[[], Plan]) -> Plan:
        """Pin the store's format, chunk-assignment contract and encode
        plan on first encode; fail fast if ANY pinned key differs on a
        later run (each key is something that changes chunk membership —
        resuming with it altered would silently drop or duplicate rows).
        Returns the run's plan.

        The plan is pinned as store.json's ``plan`` key, like a table's
        write properties in its metadata, so a chunk's bytes depend on
        (input, pinned plan) across runs. `codec_hints` None loads the
        pinned plan; on a new store `audition()` runs once and its result
        is pinned. An explicit plan must equal the pin. Shared tables are
        written to their sidecar before the pin that names them.

        The whole read-audition-pin runs under an exclusive lock on
        ``store.json.lock``, so of two first encodes racing on one new
        store, the second waits and then loads the first one's pin."""
        with _exclusive(self.meta_path + ".lock"):
            existing = self.read_meta()
            if existing is None:
                if self.committed_parts():
                    # a store with committed chunks but no store.json
                    # (torn) must NOT silently adopt this run's
                    # parameters — that is exactly the row-misassignment
                    # the pin prevents (ADVICE r2).
                    raise ValueError(
                        f"store {self.root} has committed chunks but no "
                        f"store.json — cannot verify this run uses the same "
                        f"partitioning parameters. Recreate the store or "
                        f"restore its store.json before resuming.")
            else:
                if existing["mode"] != meta["mode"]:
                    raise ValueError(
                        f"store {self.root} was created by a "
                        f"{existing['mode']!r}-mode encode; this run uses "
                        f"{meta['mode']!r} — the two assign chunks "
                        f"differently. Use a new store.")
                for key in sorted((set(meta) | set(existing))
                                  - {"format", "plan"}):
                    if existing.get(key) != meta.get(key):
                        raise ValueError(
                            f"store {self.root} was created with "
                            f"{key}={existing.get(key)!r}; this run would use "
                            f"{meta.get(key)!r} — resuming would silently "
                            f"misassign rows. Use a new store or rerun with "
                            f"the original parameters/configuration.")
                pinned = existing["plan"]
                if codec_hints is None:
                    return plan_from_json(pinned, self.read_shared_tables())
                wanted = plan_to_json(codec_hints)
                differ = sorted(k for k in set(pinned) | set(wanted)
                                if pinned.get(k) != wanted.get(k))
                if differ:
                    raise ValueError(
                        f"store {self.root} pins an encode plan that "
                        f"differs from this run's in {differ} — resumed "
                        f"parts would not match the committed ones. Pass "
                        f"codec_hints=None to reuse the pinned plan, or "
                        f"use a new store.")
                return codec_hints
            if codec_hints is None:
                codec_hints = audition()
            blobs = [v for v in codec_hints.values()
                     if isinstance(v, (bytes, bytearray))]
            if blobs:  # persist shared tables BEFORE anything references them
                self.write_shared_tables(blobs)
            self.write_meta({"format": STORE_FORMAT, **meta,
                             "plan": plan_to_json(codec_hints)})
            return codec_hints

    # -- snapshot log (run-level lineage, Iceberg-snapshot analog) ----------

    def append_snapshot(self, summary: dict) -> None:
        """Write `summary` as the next `snap-NNNNNN.json`. The sequence
        number is taken and the file written into place under one lock,
        so concurrent writers never take the same number."""
        with _exclusive(self.snapshots_dir + ".lock"):
            seq = sum(1 for name in os.listdir(self.snapshots_dir)
                      if name.startswith("snap-") and name.endswith(".json"))
            _write_json(self.root, os.path.join(
                self.snapshots_dir, f"snap-{seq:06d}.json"), summary)

    def snapshots(self) -> list[dict]:
        if not os.path.isdir(self.snapshots_dir):
            return []
        return [_load_json(os.path.join(self.snapshots_dir, name))
                for name in sorted(os.listdir(self.snapshots_dir))
                if name.endswith(".json")]

    # -- commit state -------------------------------------------------------

    def _manifest_paths(self) -> tuple[dict[int, str], dict[int, str]]:
        """({wave seq: path}, {part id: path}) of the commit markers in
        manifest/, from one listing of file names (no json.load)."""
        waves: dict[int, str] = {}
        parts: dict[int, str] = {}
        if os.path.isdir(self.manifest_dir):
            for name in os.listdir(self.manifest_dir):
                kind, _, num = name.partition("-")
                if kind in ("wave", "part") and name.endswith(".json"):
                    (waves if kind == "wave" else parts)[int(num[:-5])] = \
                        os.path.join(self.manifest_dir, name)
        return waves, parts

    def committed_parts(self) -> set[int]:
        waves, parts = self._manifest_paths()
        return set(parts).union(*(_load_json(p)["parts"]
                                  for p in waves.values()))

    def commit_chunk(self, part_id: int, chunk_tbl: pa.Table,
                     manifest: dict) -> None:
        """Executor-side atomic commit (steps 1-4 above); the manifest
        gains the part file's unit record."""
        name = f"part-{part_id:05d}"
        units = write_data_file(self.root, f"chunks/{name}.parquet",
                                [(part_id, chunk_tbl)])
        _write_json(self.root, os.path.join(self.manifest_dir, f"{name}.json"),
                    {**manifest, "units": units})

    # -- compaction (wave files) ---------------------------------------------
    # At 10¹²-sequence scale one file per chunk is ~62M files; compaction
    # coalesces committed chunk files into WAVE files — one parquet row
    # group per part, written in the order the wave manifest lists its
    # parts, because a (file, row group) is the unit a decode task reads
    # (decode_units plans them from the manifest alone). Commit protocol
    # mirrors Iceberg compaction: the wave manifest rename is the commit
    # point; covered per-part files are deleted only after it, and readers
    # always exclude covered part files, so a crash at any step leaves a
    # consistent (at worst duplicated-on-disk) store.

    def waves(self) -> list[dict]:
        paths, _ = self._manifest_paths()
        return [_load_json(paths[seq]) for seq in sorted(paths)]

    def plan_waves(self, wave_size: int = 64) -> list[tuple[int, list[int]]]:
        """(wave_seq, part_ids) groups for committed, not-yet-waved chunk
        files — the driver-side planning half of compaction (tiny: one
        dir listing, no data reads). Partial tail groups are left
        uncompacted. New waves are numbered after the highest committed
        one, so a run whose waves committed out of order never reuses a
        committed wave's number."""
        waves, parts = self._manifest_paths()
        covered = {p for path in waves.values()
                   for p in _load_json(path)["parts"]}
        loose = sorted(parts.keys() - covered)
        first = max(waves, default=-1) + 1
        return [(first + j, loose[i:i + wave_size])
                for j, i in enumerate(
                    range(0, len(loose) - wave_size + 1, wave_size))]

    def compact(self, wave_size: int = 64, spark=None,
                plans: list[tuple[int, list[int]]] | None = None) -> int:
        """Coalesce committed chunk files into wave files of `wave_size`
        parts each (one row group per part). Returns waves written.

        Execution is split driver/executor (VERDICT r2 #3): the driver
        only PLANS wave groups (an O(parts) dir listing); the per-wave
        read+write+commit runs on EXECUTORS via mapInArrow when a
        SparkSession is passed — at the 10¹²-sequence design point
        (~62M chunk files, SCALE.md) a sequential driver loop is days of
        single-threaded IO, while executor waves are embarrassingly
        parallel against the shared store filesystem. Without `spark` the
        plan executes in-process (small stores, tests). Each wave's
        manifest rename remains the commit point, and _write_wave skips
        waves whose manifest already exists, so task retries and
        interrupted runs are idempotent."""
        self.read_meta()  # refuses a store of another format
        if plans is None:
            plans = self.plan_waves(wave_size)
        if not plans:
            return 0
        if spark is None or len(plans) == 1:
            for seq, parts in plans:
                _write_wave(self.root, seq, parts)
            return len(plans)
        root = self.root
        # parts are bigint: colocated stores hash 63-bit chunk ids. Every
        # driver-built frame here comes from an Arrow table, which Spark
        # reads in the JVM (LocalTableScan); a Python list would cost a
        # PythonRDD stage whose tasks only unpickle its rows. The scan
        # already slices its rows into min(waves, defaultParallelism)
        # partitions, so the waves spread over tasks without a shuffle.
        plan_df = spark.createDataFrame(pa.table({
            "seq": pa.array([seq for seq, _ in plans], pa.int32()),
            "parts": pa.array([[int(p) for p in parts] for _, parts in plans],
                              pa.list_(pa.int64()))}),
            "seq int, parts array<bigint>")

        def run(batches):
            for batch in batches:
                for row in batch.to_pylist():
                    yield pa.RecordBatch.from_pylist(
                        [_write_wave(root, row["seq"], row["parts"])])

        done = plan_df.mapInArrow(run, "wave bigint, n_parts bigint") \
            .collect()
        assert len(done) == len(plans)
        return len(plans)

    # -- readers ------------------------------------------------------------

    def decode_units(self, parts: set[int] | None = None,
                     columns: list[str] | tuple[str, ...] = ()
                     ) -> tuple[dict[str, list[tuple[int, int]]], int]:
        """Committed data files, each with its (row group, part id) decode
        units, and the `enc_bytes` of `columns` summed over those units:
        the blob bytes a decode of those columns decodes. Both come from
        the unit records of the committed manifests alone
        (`_commit_records`). With `parts` (zone pruning) only the listed
        parts' units are kept, and a file none of whose parts survive is
        left out."""
        wanted = set(columns)
        files: dict[str, list[tuple[int, int]]] = {}
        total = 0
        for manifest in self._commit_records():
            for u in manifest["units"]:
                if parts is None or u["part_id"] in parts:
                    files.setdefault(os.path.join(self.root, u["file"]),
                                     []).append((u["row_group"], u["part_id"]))
                    total += sum(n for name, n in u["columns"].items()
                                 if name in wanted)
        return files, total

    def _commit_records(self) -> list[dict]:
        """The committed manifests: every wave's, then each loose part's
        that no wave covers. A part file without its marker (a crash
        between the two renames) is not committed; a covered part's
        files may linger mid-cleanup and are left out."""
        waves, parts = self._manifest_paths()
        records = [_load_json(waves[seq]) for seq in sorted(waves)]
        covered = {p for w in records for p in w["parts"]}
        return records + [_load_json(parts[p])
                          for p in sorted(parts.keys() - covered)]

    def manifest_rows(self) -> list[dict]:
        """Per-part manifests of the committed parts, loose or in a wave."""
        return sorted((m for r in self._commit_records()
                       for m in (r["manifests"] if "wave" in r else [r])),
                      key=lambda m: m["part_id"])

    # -- columnar zone/stats metadata (VERDICT r3 #1) -------------------------
    # Per-wave stats parquets replace the driver-side json.load of every
    # manifest on the prune/stats/metrics paths. Loose (not-yet-compacted)
    # parts — a bounded set once compaction runs — still come from their
    # JSON manifests.

    def stats_files(self) -> dict[int, str]:
        """{wave_seq: stats parquet path} of the COMMITTED waves. The
        stats sidecar is renamed into place before the wave manifest (the
        commit point), so a crash in between leaves an orphan stats
        parquet while the wave's parts are still loose — reading it would
        double-count those parts. Naming only the stats of waves with a
        manifest (names, no json.load) makes the orphan invisible until
        the rebuilt wave commits over it."""
        waves, _ = self._manifest_paths()
        return {seq: os.path.join(self.stats_dir, f"wave-{seq:06d}.parquet")
                for seq in sorted(waves)}

    def _loose_stats_table(self) -> pa.Table:
        """STATS_SCHEMA rows of the loose parts no committed wave covers,
        flattened from their JSON manifests. The wave manifests are opened
        only while loose parts remain, to leave out the parts they
        cover."""
        waves, parts = self._manifest_paths()
        manifests = []
        if parts:
            # a committed wave covers its parts even while their loose
            # files await cleanup; counting them again double-counts
            covered = set().union(*(_load_json(path)["parts"]
                                    for path in waves.values()))
            manifests = [_load_json(parts[p])
                         for p in sorted(parts.keys() - covered)]
        return pa.Table.from_pylist(
            [r for m in manifests for r in _manifest_stats_rows(m)],
            schema=STATS_SCHEMA)

    def stats_table(self) -> pa.Table:
        """All STATS_SCHEMA rows — every committed wave's stats parquet
        scanned columnar, loose manifests flattened from JSON. The
        driver-side cost is O(waves) file opens + O(loose) JSON parses,
        never O(parts). A committed wave without its stats parquet raises
        ValueError: leaving its parts out would prune them from every
        predicate decode. Reads no store.json."""
        tables = []
        for seq, path in self.stats_files().items():
            try:
                tables.append(pq.read_table(path))
            except FileNotFoundError:
                raise ValueError(
                    f"committed wave {seq} of store {self.root} has no "
                    f"stats parquet {path}") from None
        tables.append(self._loose_stats_table())
        return pa.concat_tables(tables)


_TS_UNIT_TO_US = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": None}


def _column_stats(tbl: pa.Table) -> dict[str, dict]:
    """Per-column zone-map stats (min/max/null_count) for one chunk's
    Arrow table — the manifest-level analog of parquet row-group
    statistics and Iceberg partition/file stats. Scalar types only
    (numeric, string, date, timestamp, bool); list/binary columns carry
    no zone. Values are JSON-native: numbers for num, epoch MICROSECONDS
    (int) for ts — str(datetime) stats of tz-aware arrays carried a
    '+00:00' suffix that lexicographically false-pruned naive predicate
    values equal to a chunk min (ADVICE r3) — ISO str for dates/strings.
    Float columns additionally record 'nan' (chunk contains a NaN):
    pyarrow min_max SKIPS NaN while Spark orders NaN above every value
    and NaN = NaN is true, so a finite hi would otherwise falsely prune
    '>', '>=', '=' predicates whose rows are NaN (ADVICE r3)."""
    import pyarrow.compute as pc
    from .partitioning import PART_COL
    out: dict[str, dict] = {}
    for name in tbl.column_names:
        if name == PART_COL:
            continue
        arr = tbl.column(name)
        t = arr.type
        is_float = pa.types.is_floating(t)
        if pa.types.is_integer(t) or is_float or pa.types.is_decimal(t):
            kind = "num"
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            kind = "str"
        elif pa.types.is_date(t):
            kind = "date"
        elif pa.types.is_timestamp(t):
            kind = "ts"
        elif pa.types.is_boolean(t):
            kind = "bool"
        else:
            continue
        nulls = arr.null_count
        has_nan = False
        if is_float:
            has_nan = bool(pc.any(pc.is_nan(arr), min_count=0).as_py())
        if nulls == len(arr):
            # boundless, but no NaN: readers prune it for every op
            out[name] = {"kind": kind, "min": None, "max": None,
                         "nulls": nulls,
                         **({"nan": False} if is_float else {})}
            continue
        mm = pc.min_max(arr)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if lo is None or hi is None \
                or (is_float and lo > hi):
            # min_max skips NaN: an all-NaN chunk has no real bounds —
            # null scalars or the inverted (+inf, -inf) fold identities,
            # depending on the pyarrow version. Record no bounds (the
            # 'nan' flag below still keeps the chunk for >/>=/=/!=).
            out[name] = {"kind": kind, "min": None, "max": None,
                         "nulls": nulls, **({"nan": True} if is_float
                                            else {})}
            continue
        if kind == "ts":
            # epoch micros as plain ints: tz-independent, exactly
            # comparable, JSON-native. scalar .value is in the array's
            # unit; ns floors to us (a 1-us widening cannot false-prune:
            # floor can only widen [lo, hi] downward at lo).
            mult = _TS_UNIT_TO_US[t.unit]
            lo_t, hi_t = mm["min"].value, mm["max"].value
            if mult is None:  # ns
                lo, hi = lo_t // 1000, -(-hi_t // 1000)
            else:
                lo, hi = lo_t * mult, hi_t * mult
        elif isinstance(lo, Decimal):
            # JSON-native AND numerically comparable (str() would make
            # '30'>='5' lexicographically False — silent false pruning).
            # A fractional bound is widened, not rounded: float() of
            # 1.000000000000000001 is 1.0, which would prune 'x>1'
            lo = int(lo) if lo == int(lo) else _widen_num(lo, up=False)
            hi = int(hi) if hi == int(hi) else _widen_num(hi, up=True)
        elif not isinstance(lo, (int, float, bool)):
            lo, hi = str(lo), str(hi)   # date → ISO str
        st = {"kind": kind, "min": lo, "max": hi, "nulls": nulls}
        if is_float:
            st["nan"] = has_nan
        out[name] = st
    return out


def parse_zone_predicate(predicate: str) -> tuple[str, str, str]:
    """'col>=value' → (col, op, raw_value) in the CLI filters'
    mini-language."""
    m = _FILTER_RE.match(predicate)
    if not m:
        raise ValueError(f"cannot parse predicate {predicate!r}")
    return m.group(1).strip(), m.group(2), m.group(3).strip()


def _ts_micros(value: str) -> int | None:
    """Epoch microseconds of a timestamp predicate value (ts stats are
    already int micros), or None when it is not an ISO timestamp.

    tz-aware values convert to UTC, NAIVE values are interpreted as UTC —
    exactly what Spark's exact post-decode filter does in a UTC session
    (which tbl_spark.session pins); decode_from_store skips ts pruning
    entirely for non-UTC sessions so the two sides can never disagree."""
    import datetime as _dt
    try:
        d = _dt.datetime.fromisoformat(value.strip())
    except ValueError:
        return None
    if d.tzinfo is None:
        d = d.replace(tzinfo=_dt.timezone.utc)
    epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    return (d - epoch) // _dt.timedelta(microseconds=1)


def _zone_cannot_match_mask(t: pa.Table, op: str, raw: str,
                            utc_session: bool):
    """Boolean mask over STATS_SCHEMA rows, true only where the chunk
    PROVABLY cannot match the predicate. Sound by construction: pruning
    fires only when the stat kind and predicate value are unambiguously
    comparable; anything else keeps the chunk and lets the exact
    post-decode filter decide (nulls fold to keep, bool/binary/list
    columns never prune, unknown NaN state keeps for the ops NaN rows
    satisfy in Spark, bounds are sound-widened doubles, non-UTC sessions
    never prune on timestamp bounds). A false keep costs one decoded
    chunk; a false prune silently drops rows. A handful of vectorized
    kernel calls, never a per-row Python loop."""
    import pyarrow.compute as pc
    lo_n, hi_n = t["lo_num"], t["hi_num"]
    lo_s, hi_s = t["lo_str"], t["hi_str"]
    kind = t["kind"]

    def B(x):                              # null (unknown) → False (keep)
        return pc.fill_null(x, False)

    false = pa.array([False] * len(t))
    nan_free = B(pc.equal(t["has_nan"], pa.scalar(False)))
    # bounds-bearing kinds only: bool (and binary/list → kind null) never
    # record bounds, so their null bounds read as "no zone", not as an
    # all-null chunk — else a data-bearing bool column would be pruned
    known = B(pc.is_in(kind, value_set=pa.array(
        ["num", "ts", "str", "date"])))
    no_bounds = pc.and_(pc.and_(pc.is_null(lo_n), pc.is_null(lo_s)), known)
    # an all-null chunk matches nothing, but an all-NaN float chunk is
    # boundless too (pyarrow min_max skips NaN) and its rows satisfy >,
    # >=, = and != in Spark (NaN sorts greatest, NaN = NaN is true): for
    # those ops prune only when the nan flag says False
    nan_ops = op in (">", ">=", "=", "!=")
    cannot = pc.and_(no_bounds, nan_free) if nan_ops else no_bounds

    def rng(lo_c, hi_c, v_lo, v_hi):
        if op == ">":
            return B(pc.less_equal(hi_c, v_lo))
        if op == ">=":
            return B(pc.less(hi_c, v_lo))
        if op == "<":
            return B(pc.greater_equal(lo_c, v_hi))
        if op == "<=":
            return B(pc.greater(lo_c, v_hi))
        if op == "=":
            return B(pc.or_(pc.less(hi_c, v_lo), pc.greater(lo_c, v_hi)))
        if v_lo != v_hi:                   # != with widened (inexact) value
            return false
        return B(pc.and_(pc.equal(lo_c, hi_c), pc.equal(lo_c, v_lo)))

    v_num: int | float | None
    try:
        # int first: float(raw) rounds above 2^53 and could falsely
        # prune an exact-match bigint chunk
        v_num = int(raw)
    except ValueError:
        try:
            v_num = float(raw)
        except ValueError:
            v_num = None
    if v_num is not None:
        if isinstance(v_num, float) and v_num != v_num:
            # NaN literal: =, >, >= match only NaN rows; <, <=, != match
            # every finite row (NaN sorts greatest)
            num_cannot = nan_free if op in ("=", ">", ">=") else false
        else:
            num_cannot = rng(lo_n, hi_n, _widen_num(v_num, up=False),
                             _widen_num(v_num, up=True))
            if nan_ops:
                num_cannot = pc.and_(num_cannot, nan_free)
        cannot = pc.or_(cannot,
                        pc.and_(B(pc.equal(kind, "num")), num_cannot))
    v_ts = _ts_micros(raw)
    if v_ts is not None and utc_session:
        # _widen_num, not float(): epoch micros beyond 2^53 (~year 2255)
        # round under float() and could falsely prune
        cannot = pc.or_(cannot, pc.and_(
            B(pc.equal(kind, "ts")),
            rng(lo_n, hi_n, _widen_num(v_ts, up=False),
                _widen_num(v_ts, up=True))))
    cannot = pc.or_(cannot, pc.and_(B(pc.equal(kind, "str")),
                                    rng(lo_s, hi_s, raw, raw)))
    d = raw.strip()
    if len(d) == 10:
        cannot = pc.or_(cannot, pc.and_(B(pc.equal(kind, "date")),
                                        rng(lo_s, hi_s, d, d)))
    return cannot


def zone_prune_parts(store: ChunkStore,
                     predicates: str | list[str],
                     spark: SparkSession | None = None,
                     utc_session: bool = True) -> set[int]:
    """Part ids whose zone maps might satisfy EVERY predicate (AND chain,
    mirroring the reference's conjunctive --filter, transform.rs:146-155)
    — a metadata-only pass on the driver, the chunk-store analog of
    parquet row-group pruning / Iceberg file skipping.

    One vectorized pyarrow pass over `store.stats_table()`: the stats
    parquets of the committed waves plus the flattened manifests of
    loose parts. A part survives unless, for some predicate, the mask
    proves its zone cannot match; parts with no stats row for a
    predicate's column are kept. The stats table holds one row per
    (part, column), so it fits the driver at 10^5 parts and the pass
    starts no Spark job and reads no store.json (its callers check the
    format). `spark` is accepted for compatibility and ignored.
    `utc_session=False` disables timestamp pruning: naive predicate
    values are interpreted as UTC, so a non-UTC session's exact filter
    could disagree with the zone decision."""
    import pyarrow.compute as pc
    preds = [predicates] if isinstance(predicates, str) else list(predicates)
    parsed = [parse_zone_predicate(p) for p in preds]
    t = store.stats_table()
    dropped: set[int] = set()
    for col, op, raw in parsed:
        sub = t.filter(pc.equal(t["column"], col))
        mask = _zone_cannot_match_mask(sub, op, raw, utc_session)
        dropped.update(pc.unique(sub.filter(mask)["part_id"]).to_pylist())
    return set(pc.unique(t["part_id"]).to_pylist()) - dropped


def _write_wave(store_root: str, seq: int, parts: list[int]) -> dict:
    """Build + atomically commit ONE wave file (executor-safe: plain
    module function, touches only the shared store filesystem).

    Protocol (mirrors Iceberg compaction): write the wave parquet and
    then its stats parquet through staging → stage wave manifest →
    rename (COMMIT) → delete covered part files. Idempotent: if the wave
    manifest already exists (task retry, resumed run) the build is
    skipped and only the cleanup re-runs; a crash before the manifest
    rename leaves staging garbage and intact part files, so a re-plan
    simply rebuilds the wave. A committed wave that lists other parts
    raises ValueError before anything is deleted."""
    store = ChunkStore(store_root)
    name = f"wave-{seq:06d}"
    manifest_path = os.path.join(store.manifest_dir, f"{name}.json")
    if os.path.exists(manifest_path):
        committed = _load_json(manifest_path)["parts"]
        if committed != [int(p) for p in parts]:
            raise ValueError(f"{name} is committed over parts {committed}, "
                             f"not {list(parts)}")
    else:
        manifests = [_load_json(os.path.join(store.manifest_dir,
                                             f"part-{p:05d}.json"))
                     for p in parts]
        for m in manifests:
            del m["units"]  # the wave's own records replace them
        os.makedirs(os.path.join(store_root, "waves"), exist_ok=True)
        # paths relative to the root: a store moved/renamed (or opened
        # from a different cwd with a relative root) must still resolve
        # its wave files (ADVICE r1). Parts are read one at a time.
        units = write_data_file(store_root, f"waves/{name}.parquet", (
            (p, pq.read_table(os.path.join(store.chunks_dir,
                                           f"part-{p:05d}.parquet")))
            for p in parts))
        # columnar zone/stats sidecar BEFORE the commit point, so a
        # committed wave always has one (a crash in between leaves an
        # orphan stats file the rebuilt wave simply overwrites)
        os.makedirs(store.stats_dir, exist_ok=True)
        stats = pa.Table.from_pylist(
            [r for m in manifests for r in _manifest_stats_rows(m)],
            schema=STATS_SCHEMA)
        _publish(store_root, os.path.join(store.stats_dir, f"{name}.parquet"),
                 lambda tmp: pq.write_table(stats, tmp, **STATS_PARQUET))
        _write_json(store_root, manifest_path,  # commit point
                    {"wave": seq, "parts": list(parts),
                     "file": f"{name}.parquet", "units": units,
                     "manifests": manifests})
    for p in parts:  # cleanup, idempotent
        for path in (
                os.path.join(store.chunks_dir, f"part-{p:05d}.parquet"),
                os.path.join(store.manifest_dir, f"part-{p:05d}.json")):
            if os.path.exists(path):
                os.remove(path)
    return {"wave": seq, "n_parts": len(parts)}


def _part_manifest(part_id: int, tbl: pa.Table, chunk_tbl: pa.Table,
                   encode_ms: float) -> dict:
    """The commit manifest of one part: per-column codec, sizes and zone
    stats (of the source rows `tbl`), and the part's totals."""
    cols = {
        name: {"codec": codec, "raw_bytes": rb, "enc_bytes": eb,
               "n_values": nv}
        for name, codec, rb, eb, nv in zip(
            chunk_tbl.column("column").to_pylist(),
            chunk_tbl.column("codec").to_pylist(),
            chunk_tbl.column("raw_bytes").to_pylist(),
            chunk_tbl.column("enc_bytes").to_pylist(),
            chunk_tbl.column("n_values").to_pylist())
    }
    for cname, st in _column_stats(tbl).items():  # zone maps (r3)
        if cname in cols:
            cols[cname]["stats"] = st
    return {
        "part_id": part_id,
        "n_rows": int(chunk_tbl.column("n_rows")[0].as_py())
                  if len(chunk_tbl) else 0,
        "n_values": max((c["n_values"] for c in cols.values()), default=0),
        "raw_bytes": sum(c["raw_bytes"] for c in cols.values()),
        "enc_bytes": sum(c["enc_bytes"] for c in cols.values()),
        "encode_ms": encode_ms,
        "columns": json.dumps(cols),
    }


def encode_part(root: str, part_id: int, tbl: pa.Table,
                spark_types: dict[str, str], plan: Plan,
                sort_keys: list | None = None) -> dict:
    """Encode one part's rows under `plan` and commit it to the store at
    `root`; returns the part's PART_ROW_SCHEMA row. `sort_keys` sorts the
    rows first (a clustered encode). Each task of both encoders runs
    this per part; it touches only the store's filesystem."""
    t0 = time.perf_counter()
    if sort_keys:
        tbl = tbl.sort_by(sort_keys)
    chunk_tbl = encode_table(part_id, tbl, spark_types, plan)
    manifest = _part_manifest(part_id, tbl, chunk_tbl,
                              (time.perf_counter() - t0) * 1000.0)
    store = ChunkStore(root)
    store.init_dirs()
    store.commit_chunk(part_id, chunk_tbl, manifest)
    return {name: manifest[name] for name in PART_ROW_SCHEMA.names}


def _begin_run(df: DataFrame, store: ChunkStore, meta: dict,
               codec_hints: Plan | None) -> tuple[Plan, dict[str, str]]:
    """The encoders' shared prologue: pin `meta` and `df`'s schema in
    store.json (`check_or_init_meta`, which auditions the caller's
    frame when no plan is given or pinned; a bare parquet relation takes
    the local pyarrow sample). Returns the run's plan and each column's
    Spark type."""
    store.init_dirs()
    spark_types = {f.name: f.dataType.simpleString()
                   for f in df.schema.fields}
    ddl = ", ".join(f"{name} {t}" for name, t in spark_types.items())
    plan = store.check_or_init_meta({**meta, "schema_ddl": ddl}, codec_hints,
                                    lambda: audition_codec_hints(df))
    return plan, spark_types


def _end_run(store: ChunkStore, rows: list, skipped: int, t_run: float,
             **extra) -> dict:
    """The encoders' shared epilogue: the run summary, from the parts'
    PART_ROW_SCHEMA rows, appended to the store's snapshot log."""
    summary = {"encoded_parts": len(rows), "skipped_parts": skipped,
               **{name: sum(r[name] for r in rows)
                  for name in PART_ROW_SCHEMA.names[1:]},
               "wall_sec": round(time.perf_counter() - t_run, 3),
               "committed_at": time.time(), **extra}
    store.append_snapshot(summary)  # run-level lineage log
    return summary


def encode_to_store(df: DataFrame, store: ChunkStore, num_parts: int,
                    resume: bool = True,
                    salt_cols: tuple[str, ...] | None = None,
                    codec_hints: Plan | None = None,
                    cluster: bool = True) -> dict:
    """Run the resumable encode job; returns run summary.

    The encode UDF writes + commits each chunk on the executor, then emits
    one PART_ROW_SCHEMA row; the driver only collects those (tiny) rows.
    The store pins (num_parts, salt_cols, schema) and the encode plan on
    first encode, and every later run fails fast on mismatch — resuming
    with different partitioning parameters would silently drop rows that
    hash into committed part ids.

    `codec_hints` is the encode plan. None reuses the plan pinned in the
    store's store.json; a new store auditions one on `df` and pins it,
    with STORE_FORMAT. An explicit plan is pinned on first encode and
    must equal the pin on later runs. A store.json of another format
    raises ValueError before any data is read. Committed chunk
    bytes depend only on the input rows of each part and the plan, so a
    resume re-encodes a lost part to the same bytes, and no resume pays
    the audition.
    """
    from .partitioning import resolve_salt_cols
    salt_cols = resolve_salt_cols(df, salt_cols)
    plan, spark_types = _begin_run(
        df, store, {"mode": "salted", "num_parts": num_parts,
                    "salt_cols": list(salt_cols)}, codec_hints)
    df = with_part_id(df, num_parts, salt_cols)
    committed = store.committed_parts() if resume else set()
    pending_df = df
    if committed:
        # never re-encode committed partitions: a literal IN filter on
        # the computed part id, no broadcast job and no join
        import pyspark.sql.functions as F
        pending_df = df.filter(~F.col(PART_COL).isin(sorted(committed)))

    # clustered encode (r6, mirrors encode_chunks' cluster=True): chunk-
    # internal row order is shuffle residue, so sorting by the salt key
    # is free correctness-wise and makes id/source columns run/delta-
    # compressible. Committed chunk bytes become deterministic when the
    # salt key is unique per row (the default (source, doc_id) is) —
    # rows TYING on the key keep their nondeterministic arrival order.
    sort_keys = cluster_sort_keys(df, salt_cols) if cluster else None
    root = store.root

    def encode_commit(key: tuple, tbl: pa.Table) -> pa.Table:
        row = encode_part(root, key[0].as_py(), tbl, spark_types, plan,
                          sort_keys)
        return pa.Table.from_pylist([row], schema=PART_ROW_SCHEMA)

    t_run = time.perf_counter()
    rows = (pending_df.groupBy(PART_COL)
            .applyInArrow(encode_commit, PART_ROW_DDL)
            .collect())
    return _end_run(store, rows, len(committed), t_run)


def encode_to_store_colocated(df: DataFrame, store: ChunkStore,
                              tokens_per_chunk: int | None = None,
                              resume: bool = True,
                              token_col: str = "tokens",
                              codec_hints: Plan | None = None
                              ) -> dict:
    """ZERO-shuffle resumable encode: chunks are cut inside each scan task
    (encode.cut_colocated_chunks — no Exchange), committed with the same
    atomic protocol, and a rerun skips already-committed chunk ids.

    Chunk membership depends on the input FILE SET and on Spark's split
    and Arrow-batch planning, so store.json pins all of them — the
    sorted-input-files digest, maxPartitionBytes, openCostInBytes,
    maxRecordsPerBatch, and defaultParallelism — and any mismatch on a
    resume fails fast instead of silently dropping/duplicating the rows
    whose chunk boundaries moved. (In-memory sources have no file list;
    their pinning is correspondingly weaker and resume relies on the
    stable task partition ids within one configuration.)

    `codec_hints` is the encode plan, pinned like encode_to_store's: None
    reuses the store's pinned plan, or auditions one on `df` and pins it
    with STORE_FORMAT on a new store; an explicit plan must equal the
    pin. A store.json of another format raises ValueError before any
    data is read."""
    import hashlib

    import pyspark.sql.functions as F
    from .encode import BLOCK_HELPER, FILE_HELPER, cut_colocated_chunks

    if tokens_per_chunk is None:
        from .partitioning import DEFAULT_TOKENS_PER_CHUNK
        tokens_per_chunk = DEFAULT_TOKENS_PER_CHUNK
    spark = df.sparkSession
    files_digest = hashlib.blake2b(
        "\n".join(sorted(df.inputFiles())).encode(),
        digest_size=8).hexdigest()
    plan, spark_types = _begin_run(df, store, {
        "mode": "colocated",
        "tokens_per_chunk": tokens_per_chunk,
        "input_files_digest": files_digest,
        "max_partition_bytes":
            spark.conf.get("spark.sql.files.maxPartitionBytes"),
        "open_cost_bytes":
            spark.conf.get("spark.sql.files.openCostInBytes"),
        "arrow_batch_rows":
            spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }, codec_hints)
    has_tok = spark_types.get(token_col, "").startswith("array")
    src = df.select("*", F.input_file_name().alias(FILE_HELPER),
                    F.input_file_block_start().alias(BLOCK_HELPER))
    root = store.root
    # the committed set INCLUDES wave-compacted parts (whose loose
    # markers were deleted by compact()) — resume must not re-encode them
    committed = frozenset(store.committed_parts()) if resume else frozenset()

    def run(batches):
        for pid, tbl in cut_colocated_chunks(batches, tokens_per_chunk,
                                             has_tok, token_col):
            marker = os.path.join(root, "manifest", f"part-{pid:05d}.json")
            # marker re-check covers chunks committed by a task retry
            # within THIS run; `committed` covers prior runs + waves
            if resume and (pid in committed or os.path.exists(marker)):
                continue  # committed by a previous run — skip re-encode
            row = encode_part(root, pid, tbl, spark_types, plan)
            yield pa.RecordBatch.from_pylist([row], schema=PART_ROW_SCHEMA)

    t_run = time.perf_counter()
    rows = src.mapInArrow(run, PART_ROW_DDL).collect()
    return _end_run(store, rows, len(committed), t_run, mode="colocated")


_UTC_NAMES = frozenset(["UTC", "Etc/UTC", "GMT", "Z", "+00:00", "UTC+00:00"])


def decode_from_store(store: ChunkStore, spark: SparkSession,
                      output_ddl: str | None = None,
                      columns: list[str] | None = None,
                      predicate: str | list[str] | None = None, *,
                      coalesce_small: bool = True) -> DataFrame:
    """The store's table, decoded by tasks that read their own row groups.

    The driver plans the read. `predicate` — one or more 'col>=value'
    comparisons, AND'd like the reference's chained --filter
    (transform.rs:146-155) — prunes whole parts via the zone-map stats
    (predicate pushdown to the store's metadata layer; effective when the
    data is value-clustered across parts), and `ChunkStore.decode_units`
    lists the surviving parts' (file, row group) units with the blob
    bytes they hold for the decoded columns. Units of at most
    ONE_TASK_BYTES decode in one task, so an aggregate over them needs no
    shuffle; larger decodes run in min(units, defaultParallelism) tasks
    (`unit_frame`). Spark plans what the caller adds after a one-task
    decode in that task too, joins and windows included, so a caller
    whose own work outweighs the decode passes `coalesce_small=False` to
    keep the decode's min(units, defaultParallelism) tasks. One
    mapInArrow over the unit frame then decodes the units
    (`decode.decode_row_groups`): `columns` keeps only the requested
    columns' chunk rows, so the other blobs are never decoded, and orders
    the output as listed, each column once. The exact
    filters run on the decoded rows. An unknown column in `columns` or
    in a predicate, or an empty `columns`, raises ValueError, as does a
    store without a store.json of STORE_FORMAT, before any data file is
    read. Nothing here runs a Spark job: the first one is the caller's
    action.
    Executors must see the store's filesystem, as the write protocol
    already assumes."""
    from pyspark.sql.types import StructType

    from .decode import arrow_schema_of, decode_row_groups
    meta = store.read_meta()
    if meta is None:
        raise ValueError(f"{store.root} has no store.json")
    if output_ddl is None:  # schema was pinned at first encode
        output_ddl = meta["schema_ddl"]
    schema = StructType.fromDDL(output_ddl) if isinstance(output_ddl, str) \
        else output_ddl
    predicates = [predicate] if isinstance(predicate, str) \
        else list(predicate or [])
    filter_cols = [parse_zone_predicate(p)[0] for p in predicates]
    names = [f.name for f in schema.fields]
    if columns is not None:
        columns = list(dict.fromkeys(columns))
    unknown = [c for c in [*(columns or []), *filter_cols] if c not in names]
    if unknown or columns == []:
        what = f"unknown column(s) {list(dict.fromkeys(unknown))}" \
            if unknown else "columns=[] selects no column"
        raise ValueError(f"{what}; the output schema of store {store.root} "
                         f"has columns {names}")
    keep_parts = None
    drop_after = []
    if predicates:
        utc = spark.conf.get("spark.sql.session.timeZone") in _UTC_NAMES
        keep_parts = zone_prune_parts(store, predicates, utc_session=utc)
    if columns is not None:
        for name in filter_cols:
            if name not in columns:
                columns.append(name)  # needed for the exact filter
                drop_after.append(name)
        by_name = {f.name: f for f in schema.fields}
        schema = StructType([by_name[c] for c in columns])
    files, nbytes = store.decode_units(keep_parts,
                                       [f.name for f in schema.fields])
    if files:
        one_task = coalesce_small and nbytes <= ONE_TASK_BYTES
        decoded = decode_row_groups(unit_frame(spark, files, one_task),
                                    schema, store.read_shared_tables())
    elif keep_parts is not None:
        # a predicate can legitimately prune everything: an empty frame of
        # the output shape, read in the JVM, so no task starts
        decoded = spark.createDataFrame(
            arrow_schema_of(schema).empty_table(), schema)
    else:
        raise ValueError(f"no committed chunks under {store.root}")
    if predicates:
        # exact filters on the decoded rows: zone pruning only skipped
        # parts that could not match; surviving parts still carry
        # non-matching rows
        from .transforms import _parse_filter
        for p in predicates:
            decoded = decoded.filter(_parse_filter(decoded, p))
        if drop_after:
            decoded = decoded.drop(*drop_after)
    return decoded


UNIT_DDL = "file string, row_group int, part_id bigint"

# A store decode of at most this many blob bytes (the decoded columns'
# enc_bytes) runs in one task. A full decode plus checksum aggregate in
# one task against four, on a 4-vCPU host (driver + JVM + Python CPU-s,
# and wall s): 1 MB (perfbench's token store) -23% CPU, +17% wall;
# 1.9 MB -22%, +27%; 3.7 MB -9%, +71%.
ONE_TASK_BYTES = 2 << 20


def unit_frame(spark: SparkSession,
               files: dict[str, list[tuple[int, int]]],
               one_task: bool) -> DataFrame:
    """One row per (file, row group, part id) decode unit of `files`
    (`ChunkStore.decode_units`), in file order. Built from an Arrow table,
    so Spark reads it in the JVM (LocalTableScan) and slices its rows into
    min(units, defaultParallelism) tasks, as compaction's plan frame is.
    With `one_task` it is coalesced to one partition, which Spark plans
    as a single partition: a global aggregate over the decoded rows then
    runs in the decode's own stage, with no Exchange and no second job.
    Paths are made absolute so that a relative store root means the same
    file in every Python worker."""
    units = [(os.path.abspath(f), rg, p)
             for f, file_units in files.items() for rg, p in file_units]
    frame = spark.createDataFrame(pa.table({
        "file": pa.array([u[0] for u in units], pa.string()),
        "row_group": pa.array([u[1] for u in units], pa.int32()),
        "part_id": pa.array([u[2] for u in units], pa.int64())}), UNIT_DDL)
    return frame.coalesce(1) if one_task else frame
