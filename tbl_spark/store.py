"""Checkpointed chunk store: per-partition atomic commit + resume.

Layout (root/):
    chunks/part-NNNNN.parquet   committed chunk rows (CHUNK_SCHEMA) per part
    manifest/part-NNNNN.json    commit marker + per-column lineage/metrics
    _staging/                   in-flight files (ignored by readers)

Write protocol per partition, executed ON THE EXECUTOR inside the encode
UDF — the Spark version of the reference's tmp+rename crash-safe outputs
(crates/tbl-cli/src/output.rs:141-176, parquet_drop.rs:14-28):

    1. write chunk parquet  → _staging/part-N.<token>.parquet
    2. os.replace           → chunks/part-N.parquet        (atomic)
    3. write manifest json  → _staging/part-N.<token>.json
    4. os.replace           → manifest/part-N.json         (atomic commit)

The manifest file is the commit marker: a crash between 2 and 4 leaves an
orphan chunk file that the retry simply overwrites. Resume = left-anti join
of the work list against committed part ids, so interrupted runs never
re-encode committed partitions (north rule resumability).

On a real cluster this store sits on a shared filesystem where rename is
atomic (HDFS/NFS); on S3-style object stores the same protocol maps onto
Iceberg snapshot commits — the interface here is the storage adapter
SURVEY.md §7.3 calls for.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .encode import CHUNK_SCHEMA_DDL, encode_table
from .partitioning import PART_COL, with_part_id

MANIFEST_SCHEMA_DDL = (
    "part_id bigint, n_rows bigint, n_values bigint, raw_bytes bigint, "
    "enc_bytes bigint, encode_ms double, committed_at double, columns string")

# Columnar zone/stats sidecar written per wave at compaction time
# (VERDICT r3 #1): one row per (part_id, column), so pruning and stats
# rollups run as Spark/Arrow scans over parquet instead of a driver-side
# json.load of every manifest — the metadata-plane analog of what wave
# files did for the data plane. Numeric/ts bounds are SOUND-WIDENED
# doubles (lo rounded down, hi rounded up when the exact value is not
# double-representable), so a filter over them can false-keep but never
# false-prune; str/date bounds stay strings.
STATS_SCHEMA = pa.schema([
    ("part_id", pa.int64()), ("column", pa.string()),
    ("codec", pa.string()), ("n_rows", pa.int64()),
    ("n_values", pa.int64()), ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()), ("encode_ms", pa.float64()),
    ("committed_at", pa.float64()), ("kind", pa.string()),
    ("nulls", pa.int64()), ("has_nan", pa.bool_()),
    ("lo_num", pa.float64()), ("hi_num", pa.float64()),
    ("lo_str", pa.string()), ("hi_str", pa.string()),
])

_STATS_SPARK_TYPE = {"int64": "bigint", "string": "string",
                     "double": "double", "bool": "boolean"}
STATS_DDL = ", ".join(f"{f.name} {_STATS_SPARK_TYPE[str(f.type)]}"
                      for f in STATS_SCHEMA)


def _widen_num(v, up: bool) -> float | None:
    """Nearest double NOT tighter than v (down for lo, up for hi) — keeps
    double-typed zone bounds sound for int values beyond 2^53."""
    if v is None or isinstance(v, bool):
        return None
    d = float(v)
    if d == v:
        return d
    import math
    return math.nextafter(d, math.inf if up else -math.inf) \
        if (d < v) == up else d


def _manifest_stats_rows(manifest: dict) -> list[dict]:
    """Flatten one part manifest into STATS_SCHEMA rows."""
    cols = manifest["columns"]
    if isinstance(cols, str):
        cols = json.loads(cols)
    rows = []
    for name, c in cols.items():
        st = c.get("stats") or {}
        kind = st.get("kind")
        lo, hi = st.get("min"), st.get("max")
        lo_num = hi_num = lo_str = hi_str = None
        has_nan = st.get("nan")
        if kind in ("num", "ts") and lo is not None:
            if kind == "ts":
                lo, hi = _ts_micros(lo), _ts_micros(hi)
            lo_num, hi_num = _widen_num(lo, up=False), _widen_num(hi, up=True)
            if has_nan is None and kind == "num" \
                    and isinstance(lo, int) and isinstance(hi, int):
                # integer bounds ⇒ integer/decimal column ⇒ NaN-free;
                # float bounds without a flag (pre-r4 manifests) stay
                # None = unknown, which the readers treat as "keep"
                has_nan = False
        elif kind in ("str", "date") and lo is not None:
            lo_str, hi_str = str(lo), str(hi)
        if kind == "ts":
            has_nan = False
        rows.append({
            "part_id": manifest["part_id"], "column": name,
            "codec": c.get("codec"), "n_rows": manifest["n_rows"],
            "n_values": c.get("n_values"),
            "raw_bytes": c.get("raw_bytes"), "enc_bytes": c.get("enc_bytes"),
            "encode_ms": manifest.get("encode_ms"),
            "committed_at": manifest.get("committed_at"),
            "kind": kind, "nulls": st.get("nulls"),
            "has_nan": has_nan,
            "lo_num": lo_num, "hi_num": hi_num,
            "lo_str": lo_str, "hi_str": hi_str,
        })
    return rows


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
        if not os.path.exists(self.meta_path):
            return None
        with open(self.meta_path) as f:
            return json.load(f)

    def write_meta(self, meta: dict) -> None:
        token = uuid.uuid4().hex[:8]
        tmp = os.path.join(self.staging_dir, f"store.{token}.json")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self.meta_path)

    # -- shared rANS tables sidecar (r7) ------------------------------------
    # Kept OUT of store.json: that file is the pinned chunk-assignment
    # contract compared key-by-key on resume, while tables ACCUMULATE —
    # a resumed run's fresh audition sample may build a slightly
    # different table, and chunks from both runs coexist, each blob
    # naming its table by content fingerprint.

    @property
    def shared_tables_path(self) -> str:
        return os.path.join(self.root, "shared_tables.json")

    def write_shared_tables(self, blobs) -> None:
        """Merge table blobs into the sidecar (atomic tmp+rename).

        The read-merge-rename is serialized by an exclusive lock file
        (ADVICE r7): without it, two concurrent encode runs against the
        same store could each read the old sidecar and the LAST rename
        would drop the other run's tables — leaving that run's
        persisted chunks undecodable. Each writer re-reads under the
        lock, so every merge lands. When the lock file cannot be opened
        (read-only directory, permissions) or the filesystem has no
        flock support, the lock degrades to best-effort: the merge runs
        unlocked, and the rename stays atomic either way. The ``.lock``
        file is left in place on purpose: deleting it would let a new
        writer lock a fresh inode while another still holds the old."""
        import base64

        from .codecs.core import shared_table_fp
        lock = None
        try:
            try:
                import fcntl
                lock = open(self.shared_tables_path + ".lock", "w")
                fcntl.flock(lock, fcntl.LOCK_EX)
            except (ImportError, OSError):
                pass  # no lock: keep the pre-lock best-effort merge
            cur = self._read_shared_tables_raw()
            for b in blobs:
                b = bytes(b)
                cur[f"{shared_table_fp(b):016x}"] = \
                    base64.b64encode(b).decode("ascii")
            token = uuid.uuid4().hex[:8]
            tmp = os.path.join(self.staging_dir,
                               f"shared_tables.{token}.json")
            with open(tmp, "w") as f:
                json.dump(cur, f)
            os.replace(tmp, self.shared_tables_path)
        finally:
            if lock is not None:
                lock.close()  # releases the flock

    def _read_shared_tables_raw(self) -> dict:
        if not os.path.exists(self.shared_tables_path):
            return {}
        with open(self.shared_tables_path) as f:
            return json.load(f)

    def read_shared_tables(self) -> dict[int, bytes]:
        import base64
        return {int(fp, 16): base64.b64decode(b64)
                for fp, b64 in self._read_shared_tables_raw().items()}

    def check_or_init_meta(self, meta: dict) -> None:
        """Pin the store's chunk-assignment contract on first encode;
        fail fast if ANY pinned key differs on a later run (each key is
        something that changes chunk membership — resuming with it
        altered would silently drop or duplicate rows)."""
        existing = self.read_meta()
        if existing is None:
            if self.committed_parts():
                # a store with committed chunks but no store.json (legacy
                # or torn) must NOT silently adopt this run's parameters —
                # that is exactly the row-misassignment the pin prevents
                # (ADVICE r2). Write store.json by hand after verifying
                # the original parameters to migrate.
                raise ValueError(
                    f"store {self.root} has committed chunks but no "
                    f"store.json — cannot verify this run uses the same "
                    f"partitioning parameters. Recreate the store or "
                    f"restore its store.json before resuming.")
            self.write_meta(meta)
            return
        if "mode" not in existing:  # pre-r2 store.json → salted encode
            existing = {"mode": "salted", **existing}
        if existing.get("mode") != meta.get("mode"):
            raise ValueError(
                f"store {self.root} was created by a "
                f"{existing.get('mode')!r}-mode encode; this run uses "
                f"{meta.get('mode')!r} — the two assign chunks "
                f"differently. Use a new store.")
        for key in sorted(set(meta) | set(existing)):
            if existing.get(key) != meta.get(key):
                raise ValueError(
                    f"store {self.root} was created with "
                    f"{key}={existing.get(key)!r}; this run would use "
                    f"{meta.get(key)!r} — resuming would silently "
                    f"misassign rows. Use a new store or rerun with the "
                    f"original parameters/configuration.")

    # -- snapshot log (run-level lineage, Iceberg-snapshot analog) ----------

    def append_snapshot(self, summary: dict) -> None:
        seq = len(self.snapshots())
        token = uuid.uuid4().hex[:8]
        tmp = os.path.join(self.staging_dir, f"snap-{seq:06d}.{token}.json")
        with open(tmp, "w") as f:
            json.dump(summary, f)
        os.replace(tmp, os.path.join(self.snapshots_dir,
                                     f"snap-{seq:06d}.json"))

    def snapshots(self) -> list[dict]:
        if not os.path.isdir(self.snapshots_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.snapshots_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.snapshots_dir, name)) as f:
                    out.append(json.load(f))
        return out

    # -- commit state -------------------------------------------------------

    def committed_parts(self) -> set[int]:
        if not os.path.isdir(self.manifest_dir):
            return set()
        parts = {int(f[5:-5]) for f in os.listdir(self.manifest_dir)
                 if f.startswith("part-") and f.endswith(".json")}
        for w in self.waves():
            parts.update(w["parts"])
        return parts

    def commit_chunk(self, part_id: int, chunk_tbl: pa.Table,
                     manifest: dict) -> None:
        """Executor-side atomic commit (steps 1-4 above)."""
        token = uuid.uuid4().hex[:8]
        name = f"part-{part_id:05d}"
        tmp_parquet = os.path.join(self.staging_dir, f"{name}.{token}.parquet")
        pq.write_table(chunk_tbl, tmp_parquet, compression="none")
        os.replace(tmp_parquet, os.path.join(self.chunks_dir, f"{name}.parquet"))
        tmp_json = os.path.join(self.staging_dir, f"{name}.{token}.json")
        with open(tmp_json, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp_json, os.path.join(self.manifest_dir, f"{name}.json"))

    # -- compaction (wave files) ---------------------------------------------
    # At 10¹²-sequence scale one file per chunk is ~62M files; compaction
    # coalesces committed chunk files into WAVE files — one parquet row
    # group per part, so parts stay contiguous (the zero-shuffle decode
    # needs that) and Spark's row-group splitting never cuts a part in
    # half. Commit protocol mirrors Iceberg compaction: the wave manifest
    # rename is the commit point; covered per-part files are deleted only
    # after it, and readers always exclude covered part files, so a crash
    # at any step leaves a consistent (at worst duplicated-on-disk) store.

    def waves(self) -> list[dict]:
        if not os.path.isdir(self.manifest_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.manifest_dir)):
            if name.startswith("wave-") and name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as f:
                    out.append(json.load(f))
        return out

    def plan_waves(self, wave_size: int = 64) -> list[tuple[int, list[int]]]:
        """(wave_seq, part_ids) groups for committed, not-yet-waved chunk
        files — the driver-side planning half of compaction (tiny: one
        dir listing, no data reads). Partial tail groups are left
        uncompacted."""
        covered = {p for w in self.waves() for p in w["parts"]}
        loose = sorted(self.committed_parts() - covered)
        n_waves = len(self.waves())
        return [(n_waves + j, loose[i:i + wave_size])
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
        if plans is None:
            plans = self.plan_waves(wave_size)
        if not plans:
            return 0
        os.makedirs(os.path.join(self.root, "waves"), exist_ok=True)
        if spark is None or len(plans) == 1:
            for seq, parts in plans:
                _write_wave(self.root, seq, parts)
            return len(plans)
        root = self.root
        # parts are bigint: colocated stores hash 63-bit chunk ids
        plan_df = spark.createDataFrame(
            [(seq, [int(p) for p in parts]) for seq, parts in plans],
            "seq int, parts array<bigint>")
        plan_df = plan_df.repartition(len(plans), "seq")

        def run(batches):
            for batch in batches:
                for row in batch.to_pylist():
                    _write_wave(root, row["seq"], row["parts"])
                    yield pa.RecordBatch.from_pydict(
                        {"seq": [row["seq"]],
                         "n_parts": [len(row["parts"])]},
                        schema=pa.schema([("seq", pa.int32()),
                                          ("n_parts", pa.int32())]))

        done = plan_df.mapInArrow(run, "seq int, n_parts int").collect()
        assert len(done) == len(plans)
        return len(plans)

    # -- readers ------------------------------------------------------------

    def data_files(self, parts: set[int] | None = None) -> list[str]:
        """Committed data files: wave files + part files not covered by a
        wave (covered part files may transiently exist mid-cleanup).

        With `parts` (zone pruning), loose part files outside the set are
        skipped entirely, and a wave file is read only if ANY member part
        survives — file-level skipping, the coarse half of zone-map
        pruning (parquet row-group stats on part_id do the fine half
        inside a wave, since each part is one row group)."""
        waves = self.waves()
        covered = {p for w in waves for p in w["parts"]}
        files = [w["file"] if os.path.isabs(w["file"])  # pre-r2 manifests
                 else os.path.join(self.root, "waves", w["file"])
                 for w in waves
                 if parts is None or any(p in parts for p in w["parts"])]
        if os.path.isdir(self.chunks_dir):
            for name in sorted(os.listdir(self.chunks_dir)):
                if name.startswith("part-") and name.endswith(".parquet"):
                    pid = int(name[5:-8])
                    if pid not in covered and (parts is None
                                               or pid in parts):
                        files.append(os.path.join(self.chunks_dir, name))
        return files

    def read_chunks(self, spark: SparkSession,
                    parts: set[int] | None = None) -> DataFrame:
        files = self.data_files(parts)
        if not files:
            if parts is not None:
                # a predicate can legitimately prune everything; the
                # caller still needs an empty frame of the right shape
                return spark.createDataFrame([], CHUNK_SCHEMA_DDL)
            raise ValueError(f"no committed chunks under {self.root}")
        return spark.read.schema(CHUNK_SCHEMA_DDL).parquet(*files)

    def read_manifest(self, spark: SparkSession) -> DataFrame:
        """Per-part manifest rows as a DataFrame. When per-wave stats
        parquets exist, the frame is rebuilt from them with a distributed
        groupBy (no driver json.load per manifest — VERDICT r3 #1);
        stats-less stores fall back to the JSON walk."""
        if not self.stats_files():
            return spark.createDataFrame(self.manifest_rows(),
                                         MANIFEST_SCHEMA_DDL)
        import pyspark.sql.functions as F
        return (self.read_stats(spark).groupBy("part_id").agg(
            F.max("n_rows").alias("n_rows"),
            F.max("n_values").alias("n_values"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
            F.max("encode_ms").alias("encode_ms"),
            F.max("committed_at").alias("committed_at"),
            F.to_json(F.map_from_arrays(
                F.collect_list("column"),
                F.collect_list(F.struct("codec", "raw_bytes", "enc_bytes",
                                        "n_values")))).alias("columns"))
            .select("part_id", "n_rows", "n_values", "raw_bytes",
                    "enc_bytes", "encode_ms", "committed_at", "columns"))

    def metrics_df(self, spark: SparkSession) -> DataFrame:
        """Per-partition metrics table (north rule): part_id, rows, tokens,
        bytes, compression ratio, encode tokens/sec, plus per-column codec
        choices as a JSON map — the engine's analog of `tbl schema`."""
        import pyspark.sql.functions as F
        m = self.read_manifest(spark)
        return m.select(
            "part_id", "n_rows", "n_values", "raw_bytes", "enc_bytes",
            (F.col("raw_bytes") / F.col("enc_bytes")).alias("ratio"),
            (F.col("enc_bytes") / F.col("n_values")).alias("bytes_per_token"),
            (F.col("n_values") / (F.col("encode_ms") / 1000.0))
            .alias("tokens_per_sec"),
            "columns")

    def manifest_rows(self) -> list[dict]:
        """Per-part manifests — loose part files plus wave-embedded ones."""
        out = []
        for f in sorted(os.listdir(self.manifest_dir)):
            if f.startswith("part-") and f.endswith(".json"):
                with open(os.path.join(self.manifest_dir, f)) as fh:
                    out.append(json.load(fh))
        for w in self.waves():
            out.extend(w["manifests"])
        return sorted(out, key=lambda m: m["part_id"])

    # -- columnar zone/stats metadata (VERDICT r3 #1) -------------------------
    # Per-wave stats parquets replace the driver-side json.load of every
    # manifest on the prune/stats/metrics paths. Loose (not-yet-compacted)
    # parts — a bounded set once compaction runs — still come from their
    # JSON manifests; waves written before this layer existed fall back
    # to the manifests embedded in their wave JSON.

    def loose_manifest_rows(self) -> list[dict]:
        """Manifests of loose (un-waved) parts only — bounded after
        compaction; never opens wave manifests."""
        out = []
        if os.path.isdir(self.manifest_dir):
            for f in sorted(os.listdir(self.manifest_dir)):
                if f.startswith("part-") and f.endswith(".json"):
                    with open(os.path.join(self.manifest_dir, f)) as fh:
                        out.append(json.load(fh))
        return out

    def stats_files(self) -> dict[int, str]:
        """{wave_seq: stats parquet path} for COMMITTED waves that have
        one. The stats sidecar is renamed into place before the wave
        manifest (the commit point), so a crash in between leaves an
        orphan stats parquet while the wave's parts are still loose —
        reading it would double-count those parts (and make
        read_manifest hit duplicate map keys). Filtering on the
        manifest's existence (a name check, no json.load) makes the
        orphan invisible until the rebuilt wave commits over it."""
        if not os.path.isdir(self.stats_dir):
            return {}
        committed = set()
        if os.path.isdir(self.manifest_dir):
            for name in os.listdir(self.manifest_dir):
                if name.startswith("wave-") and name.endswith(".json"):
                    committed.add(int(name[5:-5]))
        out = {}
        for name in sorted(os.listdir(self.stats_dir)):
            if name.startswith("wave-") and name.endswith(".parquet"):
                seq = int(name[5:-8])
                if seq in committed:
                    out[seq] = os.path.join(self.stats_dir, name)
        return out

    def stats_table(self) -> pa.Table:
        """All STATS_SCHEMA rows — wave parquets scanned columnar, loose
        (+legacy-wave) manifests flattened from JSON. The driver-side cost
        is O(waves) file opens + O(loose) JSON parses, never O(parts)."""
        have = self.stats_files()
        tables = [pq.read_table(p) for p in have.values()]
        rows: list[dict] = []
        for w in self.waves():   # legacy waves without a stats parquet
            if w["wave"] not in have:
                for m in w["manifests"]:
                    rows.extend(_manifest_stats_rows(m))
        for m in self.loose_manifest_rows():
            rows.extend(_manifest_stats_rows(m))
        if rows:
            cols = {f.name: [r[f.name] for r in rows] for f in STATS_SCHEMA}
            tables.append(pa.Table.from_pydict(cols, schema=STATS_SCHEMA))
        if not tables:
            return STATS_SCHEMA.empty_table()
        return pa.concat_tables(tables)

    def read_stats_parquet(self, spark: SparkSession) -> DataFrame:
        """The per-wave stats parquets as ONE distributed Spark scan
        (waved parts only — loose/legacy parts are not in these files)."""
        return spark.read.schema(STATS_DDL).parquet(
            *self.stats_files().values())

    def read_stats(self, spark: SparkSession) -> DataFrame:
        """All STATS_SCHEMA rows as a Spark DataFrame: wave parquets read
        as a distributed scan; loose/legacy rows unioned in from the
        driver (bounded)."""
        have = self.stats_files()
        parts = []
        if have:
            parts.append(self.read_stats_parquet(spark))
        rows: list[dict] = []
        for w in self.waves():
            if w["wave"] not in have:
                for m in w["manifests"]:
                    rows.extend(_manifest_stats_rows(m))
        for m in self.loose_manifest_rows():
            rows.extend(_manifest_stats_rows(m))
        if rows or not parts:
            data = [tuple(r[f.name] for f in STATS_SCHEMA) for r in rows]
            parts.append(spark.createDataFrame(data, STATS_DDL))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df


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
    import decimal as _dec

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
            # all-null num chunks record nan=False explicitly: readers
            # treat an ABSENT flag on a boundless chunk as "may be
            # all-NaN" (legacy float stats) and keep — the flag lets
            # fresh stores still prune genuinely all-null chunks
            out[name] = {"kind": kind, "min": None, "max": None,
                         "nulls": nulls,
                         **({"nan": False} if kind == "num" else {})}
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
        elif isinstance(lo, _dec.Decimal):
            # JSON-native AND numerically comparable (str() would make
            # '30'>='5' lexicographically False — silent false pruning)
            lo = int(lo) if lo == int(lo) else float(lo)
            hi = int(hi) if hi == int(hi) else float(hi)
        elif not isinstance(lo, (int, float, bool)):
            lo, hi = str(lo), str(hi)   # date → ISO str
        st = {"kind": kind, "min": lo, "max": hi, "nulls": nulls}
        if is_float:
            st["nan"] = has_nan
        out[name] = st
    return out


_ZONE_OPS = ("!=", ">=", "<=", "=", ">", "<")


def parse_zone_predicate(predicate: str) -> tuple[str, str, str]:
    """'col>=value' → (col, op, raw_value) — same mini-language as the
    CLI filters (transforms._FILTER_RE)."""
    import re
    m = re.match(r"^(.*?)(!=|>=|<=|=|>|<)(.*)$", predicate)
    if not m:
        raise ValueError(f"cannot parse predicate {predicate!r}")
    return m.group(1).strip(), m.group(2), m.group(3).strip()


def _ts_micros(value) -> int | None:
    """Epoch microseconds of a timestamp stat or predicate value.

    int → already micros (current manifests). str → ISO parse; tz-aware
    values convert to UTC, NAIVE values are interpreted as UTC — exactly
    what Spark's exact post-decode filter does in a UTC session (which
    tbl_spark.session pins); decode_from_store skips ts pruning entirely
    for non-UTC sessions so the two sides can never disagree."""
    if isinstance(value, bool):
        return None
    if isinstance(value, int):
        return value
    if not isinstance(value, str):
        return None
    import datetime as _dt
    try:
        d = _dt.datetime.fromisoformat(value.strip())
    except ValueError:
        return None
    if d.tzinfo is None:
        d = d.replace(tzinfo=_dt.timezone.utc)
    epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    return (d - epoch) // _dt.timedelta(microseconds=1)


def _zone_may_match(stats: dict | None, op: str, raw: str) -> bool:
    """Could ANY row in a chunk with these column stats satisfy the
    predicate? Sound-by-construction: pruning fires only when the stat
    kind and predicate value are UNAMBIGUOUSLY comparable — anything
    else keeps the chunk and lets the exact post-decode filter decide
    (missing stats, bool columns, unparseable values, mixed formats).
    A false keep costs one decoded chunk; a false prune silently drops
    rows, so every doubtful case keeps."""
    if not stats:
        return True
    lo, hi = stats.get("min"), stats.get("max")
    has_nan = stats.get("nan")
    if lo is None or hi is None:
        # no finite bounds: an all-null chunk matches nothing, but an
        # all-NaN float chunk looks identical (pyarrow min_max skips
        # NaN) and its rows DO satisfy >, >=, =, != in Spark (NaN sorts
        # greatest, NaN = NaN is true). Keep for those ops unless the
        # nan flag says False; < and <= can match neither null nor NaN
        # rows, so pruning them is sound either way.
        if op in (">", ">=", "=", "!="):
            return has_nan is not False
        return False
    kind = stats.get("kind")
    if kind is None:                     # legacy manifest without kinds
        kind = "num" if isinstance(lo, (int, float)) \
            and not isinstance(lo, bool) else None
    v: object
    if kind == "num":
        try:
            # int first: float(raw) rounds above 2^53 and can falsely
            # prune an exact-match bigint chunk
            v = int(raw)
        except ValueError:
            try:
                v = float(raw)
            except ValueError:
                return True              # not numeric — keep, filter later
        if has_nan and op in (">", ">=", "=", "!="):
            return True                  # NaN rows satisfy these in Spark
        if isinstance(v, float) and v != v:
            # NaN literal: Spark orders NaN greatest, so <, <=, != match
            # every finite row (bounds are finite here → such rows
            # exist); =, >, >= match only NaN rows (legacy stats carry
            # no 'nan' flag (None) — keep)
            if op in ("<", "<=", "!="):
                return True
            return has_nan is not False
    elif kind == "str":
        v = raw
        lo, hi = str(lo), str(hi)
    elif kind == "ts":
        v = _ts_micros(raw)
        lo, hi = _ts_micros(lo), _ts_micros(hi)  # int (new) or str (legacy)
        if v is None or lo is None or hi is None:
            return True                  # unparseable / mixed — keep
    elif kind == "date":
        v = raw.strip()
        if len(v) != 10:                 # only plain YYYY-MM-DD is safe
            return True
        lo, hi = str(lo), str(hi)
    else:                                # bool / unknown: never prune
        return True
    return {">=": lambda: hi >= v, ">": lambda: hi > v,
            "<=": lambda: lo <= v, "<": lambda: lo < v,
            "=": lambda: lo <= v <= hi,
            "!=": lambda: not (lo == hi == v)}[op]()


def _zone_cannot_match_col(op: str, raw: str, utc_session: bool):
    """Spark Column over STATS_SCHEMA rows that is true only when the
    chunk PROVABLY cannot match — the vectorized twin of
    ``not _zone_may_match`` (same keep-on-doubt contract: bounds are
    sound-widened doubles, unknown NaN state keeps, non-UTC sessions
    never prune on timestamps)."""
    import pyspark.sql.functions as F
    lo_n, hi_n = F.col("lo_num"), F.col("hi_num")
    lo_s, hi_s = F.col("lo_str"), F.col("hi_str")
    kind = F.col("kind")
    nan_free = F.col("has_nan").eqNullSafe(F.lit(False))
    # bounds-bearing kinds only: bool (and binary/list → kind null)
    # never record bounds, so their null bounds must read as "no zone",
    # not "all-null chunk" — without this a data-bearing bool column
    # would be falsely pruned
    known_kind = kind.isin("num", "ts", "str", "date")
    no_bounds = lo_n.isNull() & lo_s.isNull() & known_kind
    nan_ops = op in (">", ">=", "=", "!=")
    # all-null chunk: nothing matches — unless NaN rows might exist
    # (all-NaN float chunks are also boundless; NaN satisfies these ops)
    cannot = no_bounds & (F.lit(not nan_ops) | nan_free)

    def rng(lo_c, hi_c, v_lo, v_hi):
        return {
            ">": hi_c <= F.lit(v_lo), ">=": hi_c < F.lit(v_lo),
            "<": lo_c >= F.lit(v_hi), "<=": lo_c > F.lit(v_hi),
            "=": (hi_c < F.lit(v_lo)) | (lo_c > F.lit(v_hi)),
            "!=": (lo_c == hi_c) & (lo_c == F.lit(v_lo))
                  & F.lit(v_lo == v_hi),
        }[op]

    v_num: int | float | None
    try:
        v_num = int(raw)
    except ValueError:
        try:
            v_num = float(raw)
        except ValueError:
            v_num = None
    if v_num is not None:
        if isinstance(v_num, float) and v_num != v_num:   # NaN literal
            if op in ("=", ">", ">="):     # only NaN rows satisfy these
                num_cannot = nan_free
            else:                          # <, <=, != match finite rows
                num_cannot = F.lit(False)
        else:
            num_cannot = rng(lo_n, hi_n, _widen_num(v_num, up=False),
                             _widen_num(v_num, up=True))
            if nan_ops:                    # NaN rows satisfy these ops
                num_cannot = num_cannot & nan_free
        cannot = cannot | ((kind == "num") & lo_n.isNotNull() & num_cannot)
    v_ts = _ts_micros(raw)
    if v_ts is not None and utc_session:
        # _widen_num, not float(): epoch micros beyond 2^53 (~year 2255)
        # round under plain float() and could falsely prune a chunk
        # whose true min sits between the rounded and exact values
        cannot = cannot | ((kind == "ts") & lo_n.isNotNull()
                           & rng(lo_n, hi_n, _widen_num(v_ts, up=False),
                                 _widen_num(v_ts, up=True)))
    cannot = cannot | ((kind == "str") & lo_s.isNotNull()
                       & rng(lo_s, hi_s, raw, raw))
    d = raw.strip()
    if len(d) == 10:
        cannot = cannot | ((kind == "date") & lo_s.isNotNull()
                           & rng(lo_s, hi_s, d, d))
    return cannot


def _zone_cannot_match_mask(t: pa.Table, op: str, raw: str,
                            utc_session: bool):
    """pyarrow-compute twin of ``_zone_cannot_match_col``: a boolean
    mask over STATS_SCHEMA rows, true only where the chunk PROVABLY
    cannot match (same keep-on-doubt contract; nulls fold to keep).
    Lets the no-session prune path run as a handful of vectorized
    kernel calls instead of a per-row Python loop."""
    import pyarrow.compute as pc
    lo_n, hi_n = t["lo_num"], t["hi_num"]
    lo_s, hi_s = t["lo_str"], t["hi_str"]
    kind = t["kind"]

    def B(x):                              # null (unknown) → False (keep)
        return pc.fill_null(x, False)

    false = pa.array([False] * len(t))
    nan_free = B(pc.equal(t["has_nan"], pa.scalar(False)))
    known = B(pc.is_in(kind, value_set=pa.array(
        ["num", "ts", "str", "date"])))
    no_bounds = pc.and_(pc.and_(pc.is_null(lo_n), pc.is_null(lo_s)), known)
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
        v_num = int(raw)
    except ValueError:
        try:
            v_num = float(raw)
        except ValueError:
            v_num = None
    if v_num is not None:
        if isinstance(v_num, float) and v_num != v_num:    # NaN literal
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


def _stats_row_to_zone(r: dict) -> dict | None:
    """STATS_SCHEMA row → the stats dict _zone_may_match consumes.
    Kinds that never record bounds (bool, binary/list → kind None) map
    to None = "no zone": their all-null bounds would otherwise read as
    an all-null chunk and false-prune a data-bearing column."""
    if r["kind"] not in ("num", "ts", "str", "date"):
        return None
    if r["kind"] == "ts":
        lo = None if r["lo_num"] is None else int(r["lo_num"])
        hi = None if r["hi_num"] is None else int(r["hi_num"])
    elif r["kind"] in ("str", "date"):
        lo, hi = r["lo_str"], r["hi_str"]
    else:
        lo, hi = r["lo_num"], r["hi_num"]
    st = {"kind": r["kind"], "min": lo, "max": hi, "nulls": r["nulls"]}
    if r["has_nan"] is not None:
        st["nan"] = r["has_nan"]
    return st


def zone_prune_parts(store: ChunkStore,
                     predicates: str | list[str],
                     spark: SparkSession | None = None,
                     utc_session: bool = True) -> set[int]:
    """Part ids whose zone maps might satisfy EVERY predicate (AND chain,
    mirroring the reference's conjunctive --filter, transform.rs:146-155)
    — a metadata-only scan, the chunk-store analog of parquet row-group
    pruning / Iceberg file skipping.

    Scale shape (VERDICT r3 #1): waved parts are pruned by a filter over
    the per-wave columnar stats parquets — distributed via Spark when a
    session is passed, columnar pyarrow on the driver otherwise — never a
    per-manifest json.load. Only loose (un-compacted, bounded) parts and
    pre-r4 legacy waves still parse JSON. `utc_session=False` disables
    timestamp pruning: naive predicate values are interpreted as UTC, so
    a non-UTC session's exact filter could disagree with the zone
    decision."""
    import json as _json
    preds = [predicates] if isinstance(predicates, str) else list(predicates)
    parsed = [parse_zone_predicate(p) for p in preds]

    def may_match_all(get_stats) -> bool:
        for col, op, raw in parsed:
            st = get_stats(col)
            if st is not None and st.get("kind") == "ts" and not utc_session:
                continue
            if not _zone_may_match(st, op, raw):
                return False
        return True

    have = store.stats_files()
    keep: set[int] = set()
    legacy = [m for w in store.waves() if w["wave"] not in have
              for m in w["manifests"]]
    for m in legacy + store.loose_manifest_rows():
        cols = _json.loads(m["columns"]) if isinstance(m["columns"], str) \
            else m["columns"]
        if may_match_all(lambda c: (cols.get(c) or {}).get("stats")):
            keep.add(m["part_id"])
    if not have:
        return keep
    if spark is not None:
        import pyspark.sql.functions as F
        df = store.read_stats_parquet(spark)
        drop = df.filter(F.lit(False)).select("part_id")
        for col, op, raw in parsed:
            d = (df.filter((F.col("column") == col)
                           & _zone_cannot_match_col(op, raw, utc_session))
                 .select("part_id"))
            drop = drop.unionByName(d)
        survivors = (df.select("part_id").distinct()
                     .join(drop.distinct(), "part_id", "left_anti"))
        keep.update(r[0] for r in survivors.collect())
        return keep
    # no session: vectorized pyarrow pass over the stats parquets — a
    # handful of compute-kernel calls per predicate, never a per-row
    # Python loop (the only per-part Python is the final id set)
    import pyarrow.compute as pc
    t = pa.concat_tables(pq.read_table(p) for p in have.values())
    dropped: set[int] = set()
    for col, op, raw in parsed:
        sub = t.filter(pc.equal(t["column"], col))
        mask = _zone_cannot_match_mask(sub, op, raw, utc_session)
        dropped.update(
            pc.unique(sub.filter(mask)["part_id"]).to_pylist())
    keep.update(set(pc.unique(t["part_id"]).to_pylist()) - dropped)
    return keep


def _write_wave(store_root: str, seq: int, parts: list[int]) -> dict:
    """Build + atomically commit ONE wave file (executor-safe: plain
    module function, touches only the shared store filesystem).

    Protocol (mirrors Iceberg compaction): stage wave parquet → rename →
    stage wave manifest → rename (COMMIT) → delete covered part files.
    Idempotent: if the wave manifest already exists (task retry, resumed
    run) the build is skipped and only the cleanup re-runs; a crash
    before the manifest rename leaves staging garbage and intact part
    files, so a re-plan simply rebuilds the wave."""
    store = ChunkStore(store_root)
    wave_name = f"wave-{seq:06d}.parquet"
    manifest_path = os.path.join(store.manifest_dir, f"wave-{seq:06d}.json")
    if not os.path.exists(manifest_path):
        token = uuid.uuid4().hex[:8]
        tmp = os.path.join(store.staging_dir, f"{wave_name}.{token}")
        manifests = []
        writer = None
        try:
            for p in parts:
                tbl = pq.read_table(os.path.join(
                    store.chunks_dir, f"part-{p:05d}.parquet"))
                if writer is None:
                    writer = pq.ParquetWriter(tmp, tbl.schema,
                                              compression="none")
                writer.write_table(tbl)  # one row group per part
                with open(os.path.join(store.manifest_dir,
                                       f"part-{p:05d}.json")) as f:
                    manifests.append(json.load(f))
        finally:
            if writer is not None:
                writer.close()
        os.makedirs(os.path.join(store_root, "waves"), exist_ok=True)
        os.replace(tmp, os.path.join(store_root, "waves", wave_name))
        # columnar zone/stats sidecar BEFORE the commit point, so a
        # committed wave always has one (a crash in between leaves an
        # orphan stats file the rebuilt wave simply overwrites)
        os.makedirs(store.stats_dir, exist_ok=True)
        stats_rows = [r for m in manifests for r in _manifest_stats_rows(m)]
        stats_tbl = pa.Table.from_pydict(
            {f.name: [r[f.name] for r in stats_rows] for f in STATS_SCHEMA},
            schema=STATS_SCHEMA)
        tmp_stats = os.path.join(store.staging_dir,
                                 f"wave-{seq:06d}.{token}.stats.parquet")
        pq.write_table(stats_tbl, tmp_stats, compression="zstd")
        os.replace(tmp_stats, os.path.join(store.stats_dir,
                                           f"wave-{seq:06d}.parquet"))
        # store only the basename: a store moved/renamed (or opened from
        # a different cwd with a relative root) must still resolve its
        # wave files — data_files() re-joins with self.root (ADVICE r1).
        wave_manifest = {"wave": seq, "parts": list(parts),
                         "file": wave_name, "manifests": manifests}
        tmp_json = os.path.join(store.staging_dir,
                                f"wave-{seq:06d}.{token}.json")
        with open(tmp_json, "w") as f:
            json.dump(wave_manifest, f)
        os.replace(tmp_json, manifest_path)  # commit point
    for p in parts:  # cleanup, idempotent
        for path in (
                os.path.join(store.chunks_dir, f"part-{p:05d}.parquet"),
                os.path.join(store.manifest_dir, f"part-{p:05d}.json")):
            if os.path.exists(path):
                os.remove(path)
    return {"wave": seq, "n_parts": len(parts)}


def encode_to_store(df: DataFrame, store: ChunkStore, num_parts: int,
                    resume: bool = True,
                    salt_cols: tuple[str, ...] | None = None,
                    driver_audition: bool = True,
                    codec_hints: dict[str, int] | None = None,
                    cluster: bool = True) -> dict:
    """Run the resumable encode job; returns run summary.

    The encode UDF writes + commits each chunk on the executor, then emits
    one manifest row; the driver only collects the (tiny) manifest rows.
    The store pins (num_parts, salt_cols, schema) on first encode and every
    later run fails fast on mismatch — resuming with different partitioning
    parameters would silently drop rows that hash into committed part ids.

    `codec_hints` / `driver_audition` mirror encode_chunks (ADVICE r4):
    pass precomputed hints (or driver_audition=False) to skip the two
    driver-side audition sample jobs — essential for callers that encode
    many small batches, e.g. streaming.stream_encode's foreachBatch, which
    auditions ONCE and reuses the hints every micro-batch.
    """
    from .partitioning import resolve_salt_cols
    store.init_dirs()
    salt_cols = resolve_salt_cols(df, salt_cols)
    schema_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in df.schema.fields)
    store.check_or_init_meta({"mode": "salted", "num_parts": num_parts,
                              "salt_cols": list(salt_cols),
                              "schema_ddl": schema_ddl})
    df = with_part_id(df, num_parts, salt_cols)
    committed = store.committed_parts() if resume else set()
    pending_df = df
    if committed:
        spark = df.sparkSession
        done = spark.createDataFrame(
            [(int(p),) for p in sorted(committed)], f"{PART_COL} int")
        # broadcast anti-join: never re-encode committed partitions
        from pyspark.sql.functions import broadcast
        pending_df = df.join(broadcast(done), PART_COL, "left_anti")

    spark_types = {f.name: f.dataType.simpleString()
                   for f in df.schema.fields if f.name != PART_COL}
    store_root = store.root

    if codec_hints is not None:
        hints = codec_hints
    elif driver_audition:
        from .encode import audition_codec_hints
        hints = audition_codec_hints(df.drop(PART_COL))
    else:
        hints = {}
    tbl_blobs = [v for v in hints.values() if isinstance(v, (bytes,
                                                             bytearray))]
    if tbl_blobs:  # persist shared tables BEFORE any chunk references them
        store.write_shared_tables(tbl_blobs)

    # clustered encode (r6, mirrors encode_chunks' cluster=True): chunk-
    # internal row order is shuffle residue, so sorting by the salt key
    # is free correctness-wise and makes id/source columns run/delta-
    # compressible. Committed chunk bytes become deterministic when the
    # salt key is unique per row (the default (source, doc_id) is) —
    # rows TYING on the key keep their nondeterministic arrival order.
    sort_keys = None
    if cluster:
        sortable = {f.name for f in df.schema.fields
                    if f.dataType.typeName() not in
                    ("array", "map", "struct")}
        sort_keys = [(c, "ascending") for c in salt_cols
                     if c in sortable] or None

    def encode_commit(key: tuple, tbl: pa.Table) -> pa.Table:
        from .codecs.core import seed_choice_cache
        seed_choice_cache(hints)   # also purges foreign shared choices
        part_id = key[0].as_py()
        t0 = time.perf_counter()
        if sort_keys:
            tbl = tbl.sort_by(sort_keys)
        chunk_tbl = encode_table(part_id, tbl, spark_types)
        ms = (time.perf_counter() - t0) * 1000.0
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
        n_rows = int(chunk_tbl.column("n_rows")[0].as_py()) if len(chunk_tbl) else 0
        n_values = max((c["n_values"] for c in cols.values()), default=0)
        manifest = {
            "part_id": part_id,
            "n_rows": n_rows,
            "n_values": n_values,
            "raw_bytes": sum(c["raw_bytes"] for c in cols.values()),
            "enc_bytes": sum(c["enc_bytes"] for c in cols.values()),
            "encode_ms": ms,
            "committed_at": time.time(),
            "columns": json.dumps(cols),
        }
        local_store = ChunkStore(store_root)
        local_store.init_dirs()
        local_store.commit_chunk(part_id, chunk_tbl, manifest)
        return pa.Table.from_pydict(
            {k: [manifest[k]] for k in manifest},
            schema=pa.schema([
                ("part_id", pa.int64()), ("n_rows", pa.int64()),
                ("n_values", pa.int64()), ("raw_bytes", pa.int64()),
                ("enc_bytes", pa.int64()), ("encode_ms", pa.float64()),
                ("committed_at", pa.float64()), ("columns", pa.string())]))

    t_run = time.perf_counter()
    rows = (pending_df.groupBy(PART_COL)
            .applyInArrow(encode_commit, MANIFEST_SCHEMA_DDL)
            .collect())
    summary = {
        "encoded_parts": len(rows),
        "skipped_parts": len(committed),
        "n_rows": sum(r["n_rows"] for r in rows),
        "n_values": sum(r["n_values"] for r in rows),
        "raw_bytes": sum(r["raw_bytes"] for r in rows),
        "enc_bytes": sum(r["enc_bytes"] for r in rows),
        "wall_sec": round(time.perf_counter() - t_run, 3),
        "committed_at": time.time(),
    }
    store.append_snapshot(summary)  # run-level lineage log
    return summary


def encode_to_store_colocated(df: DataFrame, store: ChunkStore,
                              tokens_per_chunk: int | None = None,
                              resume: bool = True,
                              token_col: str = "tokens",
                              driver_audition: bool = True,
                              codec_hints: dict[str, int] | None = None
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
    stable task partition ids within one configuration.)"""
    import hashlib

    import pyspark.sql.functions as F
    from .encode import (BLOCK_HELPER, FILE_HELPER, cut_colocated_chunks,
                         encode_table)

    if tokens_per_chunk is None:
        from .partitioning import DEFAULT_TOKENS_PER_CHUNK
        tokens_per_chunk = DEFAULT_TOKENS_PER_CHUNK
    store.init_dirs()
    schema_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in df.schema.fields)
    spark = df.sparkSession
    files_digest = hashlib.blake2b(
        "\n".join(sorted(df.inputFiles())).encode(),
        digest_size=8).hexdigest()
    store.check_or_init_meta({
        "mode": "colocated",
        "tokens_per_chunk": tokens_per_chunk,
        "schema_ddl": schema_ddl,
        "input_files_digest": files_digest,
        "max_partition_bytes":
            spark.conf.get("spark.sql.files.maxPartitionBytes"),
        "open_cost_bytes":
            spark.conf.get("spark.sql.files.openCostInBytes"),
        "arrow_batch_rows":
            spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
        "default_parallelism": spark.sparkContext.defaultParallelism,
    })
    spark_types = {f.name: f.dataType.simpleString()
                   for f in df.schema.fields}
    has_tok = any(f.name == token_col and
                  f.dataType.simpleString().startswith("array")
                  for f in df.schema.fields)
    src = df.select("*", F.input_file_name().alias(FILE_HELPER),
                    F.input_file_block_start().alias(BLOCK_HELPER))
    store_root = store.root
    # the committed set INCLUDES wave-compacted parts (whose loose
    # markers were deleted by compact()) — resume must not re-encode them
    committed = frozenset(store.committed_parts()) if resume else frozenset()
    # same hint plumbing as encode_to_store (ADVICE r4): callers that
    # encode many micro-batches audition once and pass the result in
    if codec_hints is not None:
        hints = codec_hints
    elif driver_audition:
        from .encode import audition_codec_hints
        hints = audition_codec_hints(df)
    else:
        hints = {}
    tbl_blobs = [v for v in hints.values() if isinstance(v, (bytes,
                                                             bytearray))]
    if tbl_blobs:  # persist shared tables BEFORE any chunk references them
        store.write_shared_tables(tbl_blobs)

    def run(batches):
        from .codecs.core import seed_choice_cache
        seed_choice_cache(hints)   # also purges foreign shared choices
        local_store = ChunkStore(store_root)
        local_store.init_dirs()
        for pid, tbl in cut_colocated_chunks(batches, tokens_per_chunk,
                                             has_tok, token_col):
            marker = os.path.join(local_store.manifest_dir,
                                  f"part-{pid:05d}.json")
            # marker re-check covers chunks committed by a task retry
            # within THIS run; `committed` covers prior runs + waves
            if resume and (pid in committed or os.path.exists(marker)):
                continue  # committed by a previous run — skip re-encode
            t0 = time.perf_counter()
            chunk_tbl = encode_table(pid, tbl, spark_types)
            ms = (time.perf_counter() - t0) * 1000.0
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
            manifest = {
                "part_id": pid,
                "n_rows": int(chunk_tbl.column("n_rows")[0].as_py())
                          if len(chunk_tbl) else 0,
                "n_values": max((c["n_values"] for c in cols.values()),
                                default=0),
                "raw_bytes": sum(c["raw_bytes"] for c in cols.values()),
                "enc_bytes": sum(c["enc_bytes"] for c in cols.values()),
                "encode_ms": ms,
                "committed_at": time.time(),
                "columns": json.dumps(cols),
            }
            local_store.commit_chunk(pid, chunk_tbl, manifest)
            yield pa.RecordBatch.from_pydict(
                {"part_id": [pid], "n_rows": [manifest["n_rows"]],
                 "n_values": [manifest["n_values"]],
                 "enc_bytes": [manifest["enc_bytes"]]},
                schema=pa.schema([("part_id", pa.int64()),
                                  ("n_rows", pa.int64()),
                                  ("n_values", pa.int64()),
                                  ("enc_bytes", pa.int64())]))

    t_run = time.perf_counter()
    rows = src.mapInArrow(
        run, "part_id bigint, n_rows bigint, n_values bigint, "
             "enc_bytes bigint").collect()
    summary = {
        "encoded_parts": len(rows),
        "skipped_parts": len(committed),
        "n_rows": sum(r["n_rows"] for r in rows),
        "n_values": sum(r["n_values"] for r in rows),
        "enc_bytes": sum(r["enc_bytes"] for r in rows),
        "wall_sec": round(time.perf_counter() - t_run, 3),
        "committed_at": time.time(),
        "mode": "colocated",
    }
    store.append_snapshot(summary)
    return summary


def _id_ranges(ids: list[int]) -> list[tuple[int, int]]:
    """Sorted ids → maximal contiguous [a, b] ranges."""
    ranges: list[tuple[int, int]] = []
    for p in ids:
        if ranges and p == ranges[-1][1] + 1:
            ranges[-1] = (ranges[-1][0], p)
        else:
            ranges.append((p, p))
    return ranges


_UTC_NAMES = frozenset(["UTC", "Etc/UTC", "GMT", "Z", "+00:00", "UTC+00:00"])


def decode_from_store(store: ChunkStore, spark: SparkSession,
                      output_ddl: str | None = None,
                      columns: list[str] | None = None,
                      predicate: str | list[str] | None = None) -> DataFrame:
    if output_ddl is None:  # schema was pinned at first encode
        meta = store.read_meta()
        if meta is None or "schema_ddl" not in meta:
            raise ValueError(
                f"{store.root} has no store.json schema; pass output_ddl")
        output_ddl = meta["schema_ddl"]
    # each committed file holds exactly one part's rows → rows per part are
    # contiguous within a scan partition → zero-shuffle streaming decode.
    # `columns` prunes at the chunk scan, so unrequested columns' blobs are
    # never read or decoded (projection pushdown for the chunk store).
    # `predicate` — one or more 'col>=value' comparisons, AND'd like the
    # reference's chained --filter (transform.rs:146-155) — prunes whole
    # CHUNKS via the zone-map stats before any file is opened (predicate
    # pushdown to the store's metadata layer; effective when the data is
    # value-clustered across chunks), then re-applies the exact filters
    # after decode.
    from .decode import decode_chunks_colocated
    predicates = [predicate] if isinstance(predicate, str) \
        else list(predicate or [])
    keep_parts = None
    pred_cols = []
    if predicates:
        pred_cols = [parse_zone_predicate(p)[0] for p in predicates]
        utc = spark.conf.get("spark.sql.session.timeZone") in _UTC_NAMES
        keep_parts = zone_prune_parts(store, predicates, spark=spark,
                                      utc_session=utc)
    chunks = store.read_chunks(spark, keep_parts)
    if keep_parts is not None:
        # fine-grained half: skip surviving waves' OTHER parts. Contiguous
        # survivor ids collapse to a handful of BETWEEN ranges — a tiny
        # expression that pushes to parquet row-group stats (one part =
        # one row group in wave files). Scattered ids (e.g. hashed
        # colocated chunk ids) instead broadcast-semi-join a one-column
        # survivor frame — no 10k-literal IN list, no plan-size cap, no
        # silent skip above it (VERDICT r3 #2) — plus a min/max range
        # filter that still reaches the row-group stats.
        from pyspark.sql.functions import broadcast, col
        ids = sorted(int(p) for p in keep_parts)
        ranges = _id_ranges(ids)
        if len(ranges) <= 128:
            cond = None
            for a, b in ranges:
                c = col("part_id").between(a, b)
                cond = c if cond is None else cond | c
            if cond is not None:
                chunks = chunks.filter(cond)
        elif ids:
            ids_df = spark.createDataFrame([(p,) for p in ids],
                                           "part_id bigint")
            chunks = (chunks
                      .filter(col("part_id").between(ids[0], ids[-1]))
                      .join(broadcast(ids_df), "part_id", "left_semi"))
    drop_after = []
    if columns is not None:
        columns = list(columns)
        for pc_name in pred_cols:
            if pc_name not in columns:
                columns.append(pc_name)  # needed for the exact filter
                drop_after.append(pc_name)
        from pyspark.sql.functions import col
        chunks = chunks.filter(col("column").isin(list(columns)))
        from pyspark.sql.types import StructType
        full = StructType.fromDDL(output_ddl) if isinstance(output_ddl, str) \
            else output_ddl
        output_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in full.fields
            if f.name in columns)
    # upstream is a pure file scan, so coalescing tiny per-chunk scan
    # partitions down to the session's parallelism narrows no producer —
    # one Python task's fixed cost per core instead of one per chunk
    # file (measured in decode_chunks_colocated's docstring)
    cores = spark.sparkContext.defaultParallelism
    n_parts = chunks.rdd.getNumPartitions()
    target = cores if n_parts > 2 * cores else None
    decoded = decode_chunks_colocated(
        chunks, output_ddl, target_partitions=target,
        shared_tables=store.read_shared_tables())
    if predicates:
        # exact filters on the decoded rows: zone pruning only skipped
        # chunks that could not match; surviving chunks still carry
        # non-matching rows
        from .transforms import _parse_filter
        for p in predicates:
            decoded = decoded.filter(_parse_filter(decoded, p))
        if drop_after:
            decoded = decoded.drop(*drop_after)
    return decoded
