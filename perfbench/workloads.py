"""The three benchmark workloads, driven through tbl_spark's public API.

Each workload has a set-up (timed as ``setup_s``), a cycle of ops that one
closed-loop client runs back to back, a correctness check per op (outside
the op's timed region) and, in traced runs, probes that read per-layer
numbers the timed ops cannot report without extra work.

Why these three: ``tokens_ingest`` is the write path (salted shuffle, rANS
encode, store commit and compaction; the colocated op skips the shuffle),
``tokens_scan`` the read path (store listing, zone pruning, codec decode,
no encode and no shuffle), and ``lineitem_roundtrip`` a mixed scalar /
decimal / date / string schema that uses the scalar and string codecs and
no store, so a token-codec gain that costs other schemas shows there.

``BENCHMARK.json`` lists only the two token workloads: each run pays a JVM
launch and cold Python workers (about 25 s on 4 cores) before any op, and a
third workload would not fit the time allowed for the repeated runs. Run
``lineitem_roundtrip`` by name when a change touches the scalar or string
codecs.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs

# Input sizes: 2k docs are ~0.8M tokens in ~1.6 MB of zstd parquet; 100k
# lineitem rows are ~4 MB. Every input fits in RAM and is read back from the
# OS page cache, so latencies are of CPU and memory, not a disk. The salted
# token stores have a fixed 8 parts of ~100k tokens (two tasks per core on 4
# cores), so compaction writes 4 waves of 2; a part count planned from the
# token count would give 8 parts for some seeds and 9 (a third, nearly empty
# wave of tasks) for others. The colocated encode's chunk size is twice a
# staged file's tokens, so each scan split is one chunk for every seed. A
# run has to fit in about a minute, most of it JVM launch and first-job
# warm-up; at this size a warm ingest cycle, with its checks, takes about
# 11 s on 4 cores (15 s with twice the docs).
SIZES = {
    "full": {"n_docs": 2_000, "n_files": 8, "parts": 8,
             "tokens_per_chunk": 200_000,
             "wave_size": 2, "lineitem_rows": 100_000, "lineitem_parts": 32,
             "probe_rows": 20_000},
    "smoke": {"n_docs": 400, "n_files": 4, "parts": 8,
              "tokens_per_chunk": 100_000,
              "wave_size": 2, "lineitem_rows": 2_000, "lineitem_parts": 4,
              "probe_rows": 500},
}

TOKEN_COLUMNS = ("doc_id", "tokens", "n_tok", "source")
PROJECTED = ["n_tok", "source"]


class OpFailed(Exception):
    """An op's output did not match the reference."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise OpFailed(what)


def tree_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = total = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            total += os.path.getsize(os.path.join(d, f))
    return n, total


def store_bytes(root: str) -> tuple[int, int]:
    """(data bytes, commit-record bytes) of a chunk store. Data is every
    file but the JSON commit records under ``manifest/`` and ``snapshots/``:
    those record wall-clock timings, so their size changes by a few bytes
    from run to run, while the data bytes of one input repeat exactly."""
    data = records = 0
    for d, _, files in os.walk(root):
        sub = os.path.relpath(d, root).split(os.sep)[0]
        for f in files:
            n = os.path.getsize(os.path.join(d, f))
            if sub in ("manifest", "snapshots") and f.endswith(".json"):
                records += n
            else:
                data += n
    return data, records


def logical_bytes(path: str) -> int:
    """Engine-independent data size of a staged parquet input: fixed width
    per value for numbers, byte length for strings, recursed over lists."""
    import pyarrow.compute as pc
    total = 0
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(path, name))
        for col in t.columns:
            arr = col
            while pa.types.is_list(arr.type):
                arr = pc.list_flatten(arr)
            if pa.types.is_string(arr.type):
                total += int(pc.sum(pc.binary_length(arr)).as_py() or 0)
            elif pa.types.is_decimal(arr.type):
                total += 16 * len(arr)
            else:
                total += arr.type.bit_width // 8 * len(arr)
    return total


class Workload:
    name = ""
    headline = ""          # op whose input-MB/s is headline_mb_per_s

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = ctx.size
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.report: dict = {}     # named metrics for the printed report
        self.layer: dict = {}      # per-layer numbers, traced runs

    # set-up is repeated; only the last repetition's outputs are used
    def setup(self) -> None:
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Reference values for the op checks (untimed)."""

    def cycle(self) -> list:
        raise NotImplementedError

    def finish(self, results: list[dict]) -> None:
        """Untimed work after the loop: sizes and report numbers."""

    def probes(self) -> None:
        """Traced runs only: per-layer probes outside the op cycle."""
        self.codec_probe()

    def codec_probe(self) -> None:
        """``encode_array`` / ``decode_array`` on one fixed sample chunk
        (the first ``probe_rows`` rows of the input), per column, in the
        driver; the decoded values must equal the sample."""
        from tbl_spark.arrowtypes import to_codec_input
        from tbl_spark.codecs import decode_array, encode_array
        first = sorted(f for f in os.listdir(self.input_path)
                       if f.endswith(".parquet"))[0]
        sample = pq.read_table(os.path.join(self.input_path, first)).slice(
            0, self.size["probe_rows"])
        enc_t = dec_t = 0.0
        nbytes = 0
        per_col = {}
        for name in sample.column_names:
            arr = to_codec_input(sample.column(name).combine_chunks())
            with self.ctx.span("codecs.encode_array"):
                t0 = time.perf_counter()
                blob = encode_array(arr, cache_key=f"probe.{name}")
                t1 = time.perf_counter()
            with self.ctx.span("codecs.decode_array"):
                values, _ = decode_array(blob)
                t2 = time.perf_counter()
            back = values if isinstance(values, pa.Array) else pa.array(values)
            expect(back.cast(arr.type).equals(arr), f"codec probe {name}")
            mb = arr.nbytes / 1e6
            per_col[name] = {"encode_mb_per_s": mb / (t1 - t0),
                             "decode_mb_per_s": mb / (t2 - t1)}
            enc_t += t1 - t0
            dec_t += t2 - t1
            nbytes += arr.nbytes
        self.report["codec_probe"] = per_col
        self.layer["codecs.encode_array_mb_per_s"] = nbytes / 1e6 / enc_t
        self.layer["codecs.decode_array_mb_per_s"] = nbytes / 1e6 / dec_t

    def size_vs_zstd(self) -> float:
        raise NotImplementedError

    def named_metrics(self, med) -> list[tuple]:
        """(name, value, unit) rows of this workload's named metrics;
        ``med(op)`` is the median seconds of an op."""
        raise NotImplementedError

    def stage_tokens(self) -> None:
        ctx = self.ctx
        with ctx.span("datagen.stage"):
            self.staged = inputs.stage_tokens(
                ctx.path("inputs"), ctx.seed, self.size["n_docs"],
                self.size["n_files"])
        self.input_path = self.staged["path"]
        self.input_bytes = sum(self.staged["files"].values())
        n_tok = pq.read_table(self.input_path, columns=["n_tok"])["n_tok"]
        self.n_docs = len(n_tok)
        self.n_tokens = int(np.asarray(n_tok).sum())
        self.num_parts = self.size["parts"]

    def token_df(self):
        inputs.open_staged(self.staged)
        return self.ctx.spark.read.parquet(self.input_path)

    def check_store(self, store, expect_parts: int | None = None) -> dict:
        """store_stats rows/tokens and a full decode checksum against the
        staged source."""
        from tbl_spark.inspect import store_stats
        from tbl_spark.store import decode_from_store
        st = store_stats(store)
        expect(st["rows"] == self.n_docs, f"store rows {st['rows']}")
        expect(st["tokens"] == self.n_tokens, f"store tokens {st['tokens']}")
        if expect_parts is not None:
            expect(st["parts"] == expect_parts, f"store parts {st['parts']}")
        cs = inputs.checksum(decode_from_store(store, self.ctx.spark),
                             list(TOKEN_COLUMNS))
        expect(cs == self.ref_full, "decoded checksum differs from source")
        return st

    def codec_numbers(self, store, st: dict) -> dict:
        """Per-layer codec numbers of one store."""
        t = store.stats_table()
        mix = {}
        for r in (t.group_by(["column", "codec"])
                  .aggregate([("part_id", "count")]).to_pylist()):
            mix.setdefault(r["column"], {})[r["codec"]] = r["part_id_count"]
        out = {"codecs.encode_cpu_s": st["encode_cpu_sec"],
               "codecs.tokens_per_cpu_s": st["tokens_per_cpu_sec"],
               "codecs.chunks_per_op": t.num_rows,
               "codecs.column_codec_pairs":
                   sum(len(v) for v in mix.values())}
        for c in TOKEN_COLUMNS:
            out[f"codecs.enc_bytes_per_token.{c}"] = \
                st["columns"][c]["enc_bytes"] / self.n_tokens
        self.report["codec_mix"] = mix
        return out

    def reference_checksums(self) -> None:
        self.ref_full = inputs.checksum(self.token_df(), list(TOKEN_COLUMNS))
        expect(self.ref_full[0] == self.n_docs, "source row count")


class TokensIngest(Workload):
    name = "tokens_ingest"
    headline = "ingest"

    def setup(self) -> None:
        self.stage_tokens()

    def prepare_checks(self) -> None:
        from tbl_spark.store import ChunkStore, encode_to_store
        ctx = self.ctx
        self.reference_checksums()
        # a finished, uncompacted store that the resume op copies and then
        # damages the way a crash mid-encode would
        self.template = ChunkStore(ctx.path("resume-template"))
        encode_to_store(self.token_df(), self.template, self.num_parts)
        parts = sorted(self.template.committed_parts())
        expect(len(parts) == self.num_parts, "resume template parts")
        # compact and check a copy of it, so that compaction and the check's
        # decode have run once before the first timed op
        warm = ctx.path("warm-up")
        shutil.copytree(self.template.root, warm)
        warm = ChunkStore(warm)
        warm.compact(self.size["wave_size"], spark=ctx.spark)
        self.check_store(warm, self.num_parts)
        shutil.rmtree(warm.root)
        self.resume_drop = sorted(int(p) for p in self.rng.choice(
            parts, len(parts) // 2, replace=False))

    def cycle(self) -> list:
        return [("ingest", self.op_ingest),
                ("ingest_colocated", self.op_colocated),
                ("resume", self.op_resume)]

    def op_ingest(self, timed) -> dict:
        from tbl_spark.encode import audition_codec_hints
        from tbl_spark.store import ChunkStore, encode_to_store
        ctx = self.ctx
        store = ChunkStore(ctx.fresh_dir("store-ingest"))
        df = self.token_df()
        out = {}
        traced = ctx.tracer.enabled
        with timed():
            with ctx.span("encode.audition"):
                hints = audition_codec_hints(df)
            with ctx.span("encode.store_write"):
                encode_to_store(df, store, self.num_parts, codec_hints=hints)
            if traced:
                out["staged_files"], out["staged_bytes"] = \
                    tree_bytes(store.root)
            with ctx.span("store.compact"):
                out["waves"] = store.compact(self.size["wave_size"],
                                             spark=ctx.spark)
        with ctx.check():
            st = self.check_store(store, self.num_parts)
            expect(out["waves"] >= 2, f"compaction wrote {out['waves']} waves")
            files, nbytes = tree_bytes(store.root)
            data, records = store_bytes(store.root)
            out.update(tokens=self.n_tokens, store_bytes=data,
                       record_bytes=records)
            if traced:
                out.update(self.codec_numbers(store, st))
                out["store.files_written"] = out["staged_files"] + files
                out["store.bytes_written_per_token"] = (
                    out["staged_bytes"] + nbytes) / self.n_tokens
        shutil.rmtree(store.root)
        return out

    def op_colocated(self, timed) -> dict:
        from tbl_spark.store import ChunkStore, encode_to_store_colocated
        ctx = self.ctx
        store = ChunkStore(ctx.fresh_dir("store-colocated"))
        df = self.token_df()
        with timed():
            with ctx.span("encode.colocated_write"):
                encode_to_store_colocated(
                    df, store, self.size["tokens_per_chunk"])
        with ctx.check():
            self.check_store(store)
        shutil.rmtree(store.root)
        return {"tokens": self.n_tokens}

    def op_resume(self, timed) -> dict:
        from tbl_spark.store import ChunkStore, encode_to_store
        ctx = self.ctx
        root = ctx.fresh_dir("store-resume")
        shutil.rmtree(root)
        shutil.copytree(self.template.root, root)
        store = ChunkStore(root)
        for p in self.resume_drop:
            os.remove(os.path.join(store.chunks_dir, f"part-{p:05d}.parquet"))
            os.remove(os.path.join(store.manifest_dir, f"part-{p:05d}.json"))
        df = self.token_df()
        with timed():
            with ctx.span("encode.store_write"):
                summary = encode_to_store(df, store, self.num_parts,
                                          resume=True)
        with ctx.check():
            expect(summary["encoded_parts"] == len(self.resume_drop),
                   f"resume re-encoded {summary['encoded_parts']} parts")
            self.check_store(store, self.num_parts)
        shutil.rmtree(root)
        return {"store.parts_skipped": summary["skipped_parts"],
                "store.parts_reencoded": summary["encoded_parts"]}

    def finish(self, results: list[dict]) -> None:
        ok = [r for r in results if r["ok"]]
        ingest = [r for r in ok if r["op"] == "ingest"]
        if ingest:
            self.store_bytes = ingest[-1]["store_bytes"]
            self.report["store_bytes_per_token"] = (
                self.store_bytes / self.n_tokens, "B/token")
            self.report["commit_record_bytes_per_token"] = (
                ingest[-1]["record_bytes"] / self.n_tokens, "B/token")
        self.report["size_vs_zstd"] = (self.size_vs_zstd(), "ratio")

    def size_vs_zstd(self) -> float:
        return self.store_bytes / self.input_bytes

    def named_metrics(self, med) -> list[tuple]:
        return [("ingest_tokens_per_s", self.n_tokens / med("ingest"),
                 "tokens/s"),
                ("ingest_colocated_tokens_per_s",
                 self.n_tokens / med("ingest_colocated"), "tokens/s"),
                ("resume_s", med("resume"), "s")]


class TokensScan(Workload):
    name = "tokens_scan"
    headline = "scan_full"

    def setup(self) -> None:
        from tbl_spark.encode import audition_codec_hints
        from tbl_spark.store import ChunkStore, encode_to_store
        ctx = self.ctx
        self.stage_tokens()
        self.store = ChunkStore(ctx.path("scan-store"))
        shutil.rmtree(self.store.root, ignore_errors=True)
        df = self.token_df()
        with ctx.span("encode.audition"):
            hints = audition_codec_hints(df)
        with ctx.span("encode.store_write"):
            encode_to_store(df, self.store, self.num_parts, codec_hints=hints)
        with ctx.span("store.compact"):
            self.store.compact(self.size["wave_size"], spark=ctx.spark)

    def prepare_checks(self) -> None:
        import pyspark.sql.functions as F
        from tbl_spark.store import decode_from_store
        n_tok = np.asarray(pq.read_table(self.input_path,
                                         columns=["n_tok"])["n_tok"])
        q = float(self.rng.uniform(0.990, 0.998))
        self.threshold = int(np.quantile(n_tok, q))
        self.predicate = f"n_tok>={self.threshold}"
        refs = inputs.checksums(self.token_df(), {
            "full": (list(TOKEN_COLUMNS), None),
            "projected": (PROJECTED, None),
            "selective": (list(TOKEN_COLUMNS),
                          F.col("n_tok") >= self.threshold)})
        self.ref_full = refs["full"]
        self.ref_projected = refs["projected"]
        self.ref_selective = refs["selective"]
        expect(self.ref_full[0] == self.n_docs, "source row count")
        # the store set-up built must decode to the source in every case an
        # op times; this also runs each decode path once before the first
        # timed op
        for ref, cols, kw in ((self.ref_full, list(TOKEN_COLUMNS), {}),
                              (self.ref_projected, PROJECTED,
                               {"columns": PROJECTED}),
                              (self.ref_selective, list(TOKEN_COLUMNS),
                               {"predicate": self.predicate})):
            cs = inputs.checksum(
                decode_from_store(self.store, self.ctx.spark, **kw), cols)
            expect(cs == ref, f"scan store checksum differs ({kw})")
        self.store_bytes, _ = store_bytes(self.store.root)

    def cycle(self) -> list:
        return [("scan_full", self.op_full),
                ("scan_projected", self.op_projected),
                ("scan_selective", self.op_selective),
                ("stats", self.op_stats)]

    def decode(self, timed, ref, check_cols, **kw) -> tuple:
        from tbl_spark.store import decode_from_store
        ctx = self.ctx
        with timed():
            with ctx.span("decode.plan"):
                df = decode_from_store(self.store, ctx.spark, **kw)
            with ctx.span("decode.action"):
                cs = inputs.checksum(df, check_cols)
        expect(cs == ref, "decoded checksum differs from source")
        return cs

    def op_full(self, timed) -> dict:
        self.decode(timed, self.ref_full, list(TOKEN_COLUMNS))
        return {"tokens": self.n_tokens}

    def op_projected(self, timed) -> dict:
        self.decode(timed, self.ref_projected, PROJECTED, columns=PROJECTED)
        return {}

    def op_selective(self, timed) -> dict:
        cs = self.decode(timed, self.ref_selective, list(TOKEN_COLUMNS),
                         predicate=self.predicate)
        return {"rows_returned": cs[0]}

    def op_stats(self, timed) -> dict:
        from tbl_spark.inspect import store_stats
        with timed():
            with self.ctx.span("inspect.store_stats"):
                st = store_stats(self.store)
        expect(st["rows"] == self.n_docs and st["tokens"] == self.n_tokens
               and st["parts"] == self.num_parts, "store_stats totals")
        return {}

    def probes(self) -> None:
        from tbl_spark.inspect import store_stats
        from tbl_spark.store import zone_prune_parts
        ctx = self.ctx
        self.codec_probe()
        with ctx.span("store.zone_prune"):
            kept = zone_prune_parts(self.store, self.predicate,
                                    spark=ctx.spark)
        t = self.store.stats_table()
        rows_of = dict(zip(t["part_id"].to_pylist(), t["n_rows"].to_pylist()))
        decoded = sum(rows_of[p] for p in kept)
        returned = self.ref_selective[0]
        self.layer["store.zone_prune_s"] = ctx.tracer.durations(
            "store.zone_prune")[-1]
        self.layer["store.parts_kept_frac"] = len(kept) / self.num_parts
        self.layer["decode.rows_decoded_per_row_returned"] = \
            decoded / max(1, returned)
        self.layer.update(self.codec_numbers(self.store,
                                             store_stats(self.store)))

    def finish(self, results: list[dict]) -> None:
        self.report["selective_predicate"] = (self.predicate, "")
        self.report["size_vs_zstd"] = (self.size_vs_zstd(), "ratio")

    def size_vs_zstd(self) -> float:
        return self.store_bytes / self.input_bytes

    def named_metrics(self, med) -> list[tuple]:
        return [("scan_tokens_per_s", self.n_tokens / med("scan_full"),
                 "tokens/s"),
                ("projected_scan_s", med("scan_projected"), "s"),
                ("selective_scan_s", med("scan_selective"), "s"),
                ("stats_s", med("stats"), "s")]


class LineitemRoundtrip(Workload):
    name = "lineitem_roundtrip"
    headline = "roundtrip"
    SALT = ("l_orderkey", "l_linenumber")

    def setup(self) -> None:
        ctx = self.ctx
        with ctx.span("datagen.stage"):
            self.staged = inputs.stage_lineitem(
                ctx.path("inputs"), ctx.seed, self.size["lineitem_rows"])
        self.input_path = self.staged["path"]
        self.input_bytes = sum(self.staged["files"].values())
        self.n_rows = self.size["lineitem_rows"]

    def df(self):
        inputs.open_staged(self.staged)
        return self.ctx.spark.read.parquet(self.input_path)

    def prepare_checks(self) -> None:
        self.ref = inputs.checksum(self.df())
        expect(self.ref[0] == self.n_rows, "source row count")

    def cycle(self) -> list:
        return [("roundtrip", self.op_roundtrip)]

    def op_roundtrip(self, timed) -> dict:
        from tbl_spark.decode import decode_chunks_colocated
        from tbl_spark.encode import encode_chunks
        ctx = self.ctx
        df = self.df()
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in df.schema.fields)
        with timed():
            with ctx.span("encode.chunks_plan"):
                chunks = encode_chunks(df, self.size["lineitem_parts"],
                                       salt_cols=self.SALT)
            with ctx.span("decode.plan"):
                out = decode_chunks_colocated(chunks, ddl)
            with ctx.span("decode.action"):
                cs = inputs.checksum(out, df.columns)
        expect(cs == self.ref, "roundtrip checksum differs from source")
        return {"rows": self.n_rows}

    def probes(self) -> None:
        from tbl_spark.encode import audition_codec_hints
        self.codec_probe()
        # the roundtrip's audition runs inside encode_chunks; time it alone
        with self.ctx.span("encode.audition"):
            audition_codec_hints(self.df())

    def finish(self, results: list[dict]) -> None:
        """Encoded size needs the chunk rows, which the in-flight roundtrip
        never materialises: one untimed encode per run computes it."""
        from tbl_spark.encode import encode_chunks
        import pyspark.sql.functions as F
        with self.ctx.check():
            chunks = encode_chunks(self.df(), self.size["lineitem_parts"],
                                   salt_cols=self.SALT)
            rows = (chunks.groupBy("column", "codec")
                    .agg(F.sum("enc_bytes").alias("b"),
                         F.count(F.lit(1)).alias("n"),
                         F.sum("encode_ms").alias("ms")).collect())
        self.enc_bytes = sum(r["b"] for r in rows)
        mix = {}
        for r in rows:
            mix.setdefault(r["column"], {})[r["codec"]] = r["n"]
        self.report["codec_mix"] = mix
        self.report["size_vs_zstd"] = (self.size_vs_zstd(), "ratio")
        if self.ctx.trace_run:
            ms = sum(r["ms"] for r in rows)
            self.layer.update({
                "codecs.encode_cpu_s": ms / 1000.0,
                "codecs.chunks_per_op": sum(r["n"] for r in rows),
                "codecs.column_codec_pairs": len(rows)})

    def size_vs_zstd(self) -> float:
        return self.enc_bytes / self.input_bytes

    def named_metrics(self, med) -> list[tuple]:
        return [("roundtrip_rows_per_s", self.n_rows / med("roundtrip"),
                 "rows/s"),
                ("lineitem_size_vs_zstd", self.size_vs_zstd(), "ratio")]


WORKLOADS = {w.name: w for w in (TokensIngest, TokensScan, LineitemRoundtrip)}
