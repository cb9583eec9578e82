"""CLI mirroring the reference's surface (crates/tbl-cli/src/cli/args.rs).

    python -m tbl_spark.cli data  PATHS... [transforms] [output]
    python -m tbl_spark.cli ls     [PATHS...] [--tree]
    python -m tbl_spark.cli schema [PATHS...] [--tree] [-n TOP]
    python -m tbl_spark.cli encode PATHS... --store DIR [--num-parts N]
    python -m tbl_spark.cli decode --store DIR --schema DDL [--output DIR]
    python -m tbl_spark.cli stats  --store DIR

Pipeline subcommands (r5; no reference analog — the LLM-curation surface):
    dedup | curate | pack | sample | decontaminate | corpus-stats

Output modes (types.rs:43-63 / data.rs:30-50): default pretty-print n rows
to stdout; --output writes parquet; --csv/--json switch the sink format
(output.rs:74-95,130-179)."""

from __future__ import annotations

import argparse
import json
import sys


def _add_transform_flags(p: argparse.ArgumentParser) -> None:
    p.add_argument("--with-columns", nargs="*", default=[],
                   metavar="NAME:TYPE[=VAL]")
    p.add_argument("--filter", nargs="*", default=[], dest="filters")
    p.add_argument("--drop", nargs="*", default=[])
    p.add_argument("--cast", nargs="*", default=[], metavar="COL=TYPE")
    p.add_argument("--set", nargs="*", default=[], metavar="COL=VAL")
    p.add_argument("--nullify", nargs="*", default=[])
    p.add_argument("--replace", nargs="*", default=[], metavar="COL.OLD=NEW")
    p.add_argument("--select", "--columns", nargs="*", default=[])
    p.add_argument("--offset", type=int, default=None)
    p.add_argument("--head", "--limit", type=int, default=None)
    p.add_argument("--tail", type=int, default=None)
    p.add_argument("--value-counts", default=None)
    p.add_argument("--sort", nargs="*", default=[], metavar="COL[:desc]")
    p.add_argument("--rename", nargs="*", default=[], metavar="OLD=NEW")


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="tbl-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    data = sub.add_parser("data", help="transform parquet datasets")
    data.add_argument("paths", nargs="+")
    data.add_argument("--tree", action="store_true")
    _add_transform_flags(data)
    data.add_argument("--output", default=None, help="parquet output dir")
    data.add_argument("--csv", action="store_true")
    data.add_argument("--json", action="store_true")
    data.add_argument("--inplace", action="store_true",
                      help="1:1 overwrite each input file (atomic)")
    data.add_argument("--output-dir", default=None,
                      help="1:1 re-root outputs into this dir")
    data.add_argument("--file-prefix", default=None)
    data.add_argument("--file-postfix", default=None)
    # the reference DECLARES these four flags but its partition mode is an
    # unimplemented stub (output.rs:180-189, args.rs:385-419); Spark's
    # partitioned parquet sink is the finished version
    data.add_argument("--partition", default=None, metavar="COL",
                      help="partition output over this column")
    data.add_argument("--partition-by-value", default=None, metavar="W",
                      help="range width: each partition covers W values "
                           "of the partition column")
    data.add_argument("--partition-by-rows", type=int, default=None,
                      metavar="N", help="max rows per output file")
    data.add_argument("--partition-by-bytes", default=None, metavar="B",
                      help="approximate max bytes per output file "
                           "(sampled row size → max rows)")
    data.add_argument("-n", "--rows", default="20",
                      help="stdout row budget (a number, or 'all' — "
                           "args.rs n semantics)")
    data.add_argument("--jsonl", action="store_true",
                      help="output data as json lines")
    data.add_argument("--df", action="store_true",
                      help="interactive python with the TRANSFORMED "
                           "DataFrame loaded (InteractiveDf mode)")
    data.add_argument("--lf", action="store_true",
                      help="alias of --df (Spark DataFrames are lazy — "
                           "the reference's lf/df distinction collapses)")
    data.add_argument("--hex", action="store_true",
                      help="render binary columns as 0x-hex on stdout")
    data.add_argument("--yes", "-y", "--confirm", action="store_true",
                      help="skip the pre-write confirmation prompt "
                           "(reference spelling: --confirm)")
    data.add_argument("--dry-run", "--dry", action="store_true",
                      help="print the planned IO pairs and exit (no "
                           "write; reference spelling: --dry)")

    mg = sub.add_parser("merge", help="concatenate N files into one "
                                      "(strict schema equality)")
    mg.add_argument("paths", nargs="+")
    mg.add_argument("--output", required=True, help="single output file")
    mg.add_argument("--tree", action="store_true")
    mg.add_argument("--yes", "-y", action="store_true")
    mg.add_argument("--dry-run", action="store_true")

    py = sub.add_parser("python", help="interactive python with df loaded")
    py.add_argument("paths", nargs="+")
    py.add_argument("--tree", action="store_true")

    ls = sub.add_parser("ls", help="list tabular files + rows/bytes "
                                   "summary (footers only)")
    ls.add_argument("paths", nargs="*", default=None)
    ls.add_argument("--tree", action="store_true")
    ls.add_argument("--absolute", action="store_true",
                    help="show absolute paths instead of "
                         "common-prefix-stripped names")
    ls.add_argument("-n", type=int, default=None,
                    help="max file names to print (default 100)")

    sc = sub.add_parser("schema", help="per-column disk stats by schema")
    sc.add_argument("paths", nargs="*", default=None)
    sc.add_argument("--tree", action="store_true")
    sc.add_argument("-n", "--top", type=int, default=None,
                    help="schemas to show (reference default 3)")
    sc.add_argument("--sort", default="bytes",
                    choices=["bytes", "rows", "files"])
    sc.add_argument("--examples", action="store_true",
                    help="show example file paths per schema")
    sc.add_argument("--absolute", action="store_true")
    sc.add_argument("--columns", nargs="*", default=None,
                    help="only show these columns (SchemaArgs.columns)")

    scs = sub.add_parser("schemas", help="single summary of all schemas")
    scs.add_argument("paths", nargs="*", default=None)
    scs.add_argument("--tree", action="store_true")
    scs.add_argument("--sort", default="bytes",
                     choices=["bytes", "rows", "files"])

    enc = sub.add_parser("encode", help="columnar-encode into a chunk store")
    enc.add_argument("paths", nargs="+")
    enc.add_argument("--store", required=True)
    enc.add_argument("--num-parts", type=int, default=None)
    enc.add_argument("--tokens-per-chunk", type=int, default=None)
    enc.add_argument("--no-resume", action="store_true")
    enc.add_argument("--no-cluster", action="store_true",
                     help="salted mode: skip the per-chunk sort by the "
                          "salt key (clustering costs <1% encode wall "
                          "and shrinks id/source columns; disable only "
                          "to preserve arrival order inside chunks)")
    enc.add_argument("--colocated", action="store_true",
                     help="zero-shuffle encode: cut chunks inside each "
                          "scan task instead of salted repartition (use "
                          "when the input file layout is already "
                          "acceptable)")

    dec = sub.add_parser("decode", help="decode a chunk store")
    dec.add_argument("--store", required=True)
    dec.add_argument("--schema", default=None,
                     help="output schema DDL (default: the schema pinned "
                          "in the store's store.json at first encode)")
    dec.add_argument("--output", default=None)
    dec.add_argument("-n", "--rows", type=int, default=20)
    dec.add_argument("--columns", default=None,
                     help="comma-separated projection (decodes only these "
                          "columns' blobs)")
    dec.add_argument("--where", action="append", default=None,
                     help="comparison filter 'col{=,!=,>,>=,<,<=}value' "
                          "(the -f mini-language minus null predicates); "
                          "repeatable — multiple filters AND together and "
                          "their zone-pruned part sets intersect, like "
                          "the reference's chained --filter; prunes whole "
                          "chunks via the zone-map stats before reading, "
                          "then filters rows exactly")

    st = sub.add_parser("stats", help="chunk-manifest metrics rollup")
    st.add_argument("--store", required=True)
    st.add_argument("--history", action="store_true",
                    help="print the snapshot log (one line per encode run)")

    cp = sub.add_parser("compact", help="coalesce chunk files into wave "
                                        "files (one row group per part)")
    cp.add_argument("--store", required=True)
    cp.add_argument("--wave-size", type=int, default=64)

    vf = sub.add_parser("verify", help="decode a store and prove per-row "
                                       "equality against the source")
    vf.add_argument("paths", nargs="+", help="source parquet inputs")
    vf.add_argument("--store", required=True)
    vf.add_argument("--key", required=True, help="join key column")
    vf.add_argument("--tree", action="store_true")

    # -- LLM-pipeline subcommands (r5: VERDICT r4 #6) — the curation
    # operators, previously library-only, on the same output plumbing
    def _add_pipe_output(p: argparse.ArgumentParser) -> None:
        p.add_argument("--output", default=None, help="parquet output dir")
        p.add_argument("-n", "--rows", default="20")
        p.add_argument("--csv", action="store_true")
        p.add_argument("--json", action="store_true")
        p.add_argument("--jsonl", action="store_true")
        p.add_argument("--hex", action="store_true")
        p.add_argument("--yes", "-y", action="store_true")
        p.add_argument("--dry-run", action="store_true")
        p.add_argument("--tree", action="store_true")

    dd = sub.add_parser("dedup", help="corpus deduplication (exact / "
                                      "minhash-LSH / simhash / exact-"
                                      "substring excision)")
    dd.add_argument("paths", nargs="*")
    dd.add_argument("--store", default=None,
                    help="read the corpus from an encoded chunk store "
                         "(zero-shuffle decode) instead of parquet paths")
    dd.add_argument("--method", default="exact",
                    choices=["exact", "minhash", "simhash", "paragraph",
                             "substring", "substring-stats"])
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--tokens-col", default="tokens",
                    help="substring modes: token-array column (derived "
                         "from --text-col when absent)")
    dd.add_argument("--k", type=int, default=None,
                    help="minhash: signature size (default 32); "
                         "substring: window length (default 8)")
    dd.add_argument("--bands", type=int, default=8)
    dd.add_argument("--shingle-n", type=int, default=5)
    dd.add_argument("--verify-threshold", type=float, default=None,
                    help="minhash: confirm candidates by exact shingle "
                         "Jaccard >= T before dropping")
    dd.add_argument("--gram-repr", default="hash",
                    choices=["hash", "hash128", "string"])
    dd.add_argument("--no-verify", action="store_true",
                    help="exact: skip the second-digest verify pass")
    dd.add_argument("--par-sep", default="\n\n",
                    help="paragraph: separator the docs are split and "
                         "rejoined on (default blank line)")
    _add_pipe_output(dd)

    cu = sub.add_parser("curate", help="composite curation chain: quality "
                                       "gate -> PII redact -> tokenize -> "
                                       "substring excise -> pack")
    cu.add_argument("paths", nargs="*")
    cu.add_argument("--store", default=None,
                    help="read the corpus from an encoded chunk store "
                         "(zero-shuffle decode) instead of parquet paths")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--min-mwl", type=float, default=None,
                    help="gate: min mean word length (default 4.5; "
                         "with --gopher the Table A1 default 3.0)")
    cu.add_argument("--max-mwl", type=float, default=None,
                    help="gate: max mean word length (default 12.0; "
                         "with --gopher the Table A1 default 10.0)")
    cu.add_argument("--k", type=int, default=8)
    cu.add_argument("--seq-len", type=int, default=512)
    cu.add_argument("--gram-repr", default="hash",
                    choices=["hash", "hash128", "string"])
    cu.add_argument("--no-redact", action="store_true")
    cu.add_argument("--no-excise", action="store_true")
    cu.add_argument("--gopher", action="store_true",
                    help="gate with the full Gopher Table A1 rule set "
                         "instead of the mean-word-length band")
    cu.add_argument("--min-words", type=int, default=50,
                    help="gopher gate: min word count")
    cu.add_argument("--min-stop-hits", type=int, default=2,
                    help="gopher gate: distinct stop words required")
    _add_pipe_output(cu)

    pk = sub.add_parser("pack", help="pack docs into fixed-length "
                                     "training sequences (offsets, or "
                                     "--materialize for real shards)")
    pk.add_argument("paths", nargs="*")
    pk.add_argument("--store", default=None,
                    help="read the corpus from an encoded chunk store "
                         "(zero-shuffle decode) instead of parquet paths")
    pk.add_argument("--tokens-col", default="tokens")
    pk.add_argument("--text-col", default="text")
    pk.add_argument("--order-col", default="doc_id")
    pk.add_argument("--seq-len", type=int, default=2048)
    pk.add_argument("--materialize", action="store_true",
                    help="emit the actual seq_len-token arrays instead "
                         "of per-doc offsets")
    _add_pipe_output(pk)

    sp = sub.add_parser("sample", help="deterministic stratified sample")
    sp.add_argument("paths", nargs="*")
    sp.add_argument("--store", default=None,
                    help="read the corpus from an encoded chunk store "
                         "(zero-shuffle decode) instead of parquet paths")
    sp.add_argument("--strata-col", required=True)
    sp.add_argument("--rate", action="append", default=[],
                    metavar="STRATUM=RATE")
    sp.add_argument("--default-rate", type=float, default=0.0)
    sp.add_argument("--key-col", default="doc_id")
    sp.add_argument("--temperature", type=float, default=None,
                    help="temperature-based domain mixing instead of "
                         "explicit rates: per-stratum weight ∝ n^(1/T)")
    sp.add_argument("--weight-col", default=None,
                    help="temperature mode: size strata by the sum of "
                         "this column (e.g. n_tok) instead of row count")
    sp.add_argument("--scale", type=float, default=1.0,
                    help="temperature mode: shrink the realized budget "
                         "by this factor (default 1.0 = largest "
                         "downsample-only budget)")
    _add_pipe_output(sp)

    cs = sub.add_parser("corpus-stats",
                        help="per-stratum corpus report: docs / chars / "
                             "words / exact vocabulary")
    cs.add_argument("paths", nargs="*")
    cs.add_argument("--store", default=None,
                    help="read the corpus from an encoded chunk store "
                         "(zero-shuffle decode) instead of parquet paths")
    cs.add_argument("--text-col", default="text")
    cs.add_argument("--strata-col", default="source")
    _add_pipe_output(cs)

    md = sub.add_parser("media", help="multimodal pipeline: feature "
                                      "extraction / video frame "
                                      "sampling over a media table")
    md.add_argument("paths", nargs="*")
    md.add_argument("--store", default=None,
                    help="read the media table from an encoded chunk "
                         "store (zero-shuffle decode) instead of "
                         "parquet paths")
    md.add_argument("--op", default="features",
                    choices=["features", "digest-features",
                             "frame-sample"],
                    help="features: per-item pooled pixel/waveform "
                         "vectors; digest-features: the SQL-derivable "
                         "byte-digest variant; frame-sample: decode "
                         "every Nth video frame to a feature row")
    md.add_argument("--dim", type=int, default=16,
                    help="feature vector width")
    md.add_argument("--every-n", type=int, default=5,
                    help="frame-sample: keep every Nth frame")
    md.add_argument("--real-decode", action="store_true",
                    help="decode payloads for real (PPM/BMP images; "
                         "audio and video have no real decoder) instead "
                         "of the deterministic fake decoders")
    _add_pipe_output(md)

    dc = sub.add_parser("decontaminate",
                        help="drop training docs sharing any k-token "
                             "window with an eval set")
    dc.add_argument("paths", nargs="+", help="training parquet inputs")
    dc.add_argument("--eval", dest="eval_paths", nargs="+", required=True,
                    metavar="PATH", help="evaluation parquet inputs")
    dc.add_argument("--tokens-col", default="tokens")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--k", type=int, default=8)
    # hash128 default (VERDICT r5 #6): matches the library — this op's
    # 64-bit collision mode silently drops uncontaminated training docs
    dc.add_argument("--gram-repr", default="hash128",
                    choices=["hash", "hash128", "string"])
    dc.add_argument("--broadcast", default="auto",
                    choices=["auto", "force", "never"],
                    help="eval-gram build side: auto = eager size "
                         "estimate then broadcast if small; never = "
                         "fully lazy plan, AQE decides")
    _add_pipe_output(dc)
    return ap


def confirm_io(pairs: list[tuple[str, str]], yes: bool,
               dry_run: bool) -> bool:
    """Pre-run summary + confirmation gate before any write — the
    reference prints its IO-pair summary and interactively confirms
    (crates/tbl-cli/src/cli/subcommands/data.rs:105-147, summary.rs:5-141).
    Returns True iff the write may proceed. --dry-run always stops;
    without --yes a non-interactive session refuses rather than writes."""
    import os
    total = 0
    for src, dst in pairs:
        size = os.path.getsize(src) if os.path.exists(src) else 0
        total += size
        mark = " (inplace)" if src == dst else ""
        print(f"  {src} ({size:,} B) -> {dst}{mark}")
    from . import styles
    print(styles.constant(f"{len(pairs)} file(s), {total:,} input bytes"))
    if dry_run:
        print(styles.comment("dry run: no files written"))
        return False
    if yes:
        return True
    if not sys.stdin.isatty():
        print("refusing to write without --yes in a non-interactive "
              "session (use --dry-run to preview)", file=sys.stderr)
        return False
    reply = input("continue? [y/N] ").strip().lower()
    return reply in ("y", "yes")


def _render_hex(df):
    """0x-hex render of binary columns (output.rs:96-126)."""
    import pyspark.sql.functions as F
    for name, t in df.dtypes:
        if t == "binary":
            df = df.withColumn(name, F.concat(
                F.lit("0x"), F.lower(F.hex(F.col(name)))))
    return df


def _fmt_cell(v) -> str:
    """One cell, show()-compatible: NULL, lowercase booleans, hex-pair
    binary, bracketed arrays."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (bytes, bytearray)):
        return "[" + " ".join(f"{b:02X}" for b in v) + "]"
    if isinstance(v, list):
        return "[" + ", ".join(_fmt_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(f"{_fmt_cell(k)} -> {_fmt_cell(x)}"
                               for k, x in v.items()) + "}"
    return str(v)


def _tabulate(rows, columns: list[str]) -> str:
    """Driver-side pretty grid of collected Rows (show(truncate=False)
    layout) — formatting never re-enters the JVM (VERDICT r3 #3: the old
    path re-shipped every collected row through createDataFrame().show(),
    a full serialize/deserialize round trip purely for printing). Widths
    are computed on the plain text; tty styling (styles.py) is applied
    after padding so alignment never shifts."""
    from . import styles
    cells = [[_fmt_cell(v) for v in row] for row in rows]
    widths = [max(len(name), *(len(r[i]) for r in cells)) if cells
              else len(name) for i, name in enumerate(columns)]
    sep = styles.comment("+" + "+".join("-" * w for w in widths) + "+")

    def line(vals, style=None):
        padded = [v.ljust(w) for v, w in zip(vals, widths)]
        if style is not None:
            padded = [style(c) for c in padded]
        return "|" + "|".join(padded) + "|"

    return "\n".join([sep, line(columns, styles.title), sep]
                     + [line(r) for r in cells] + [sep])


def _print_stdout(out, args) -> None:
    """PrintToStdout mode (output.rs:27-95): pretty table by default;
    --csv / --json (array) / --jsonl switch the text format, which always
    hex-encodes binary columns; -n bounds rows ('all' = everything)."""
    n = None if str(args.rows).lower() == "all" else int(args.rows)
    if args.csv or args.json or args.jsonl:
        limited = _render_hex(out if n is None else out.limit(n))
        pdf = limited.toPandas()
        if args.csv:
            sys.stdout.write(pdf.to_csv(index=False))
        elif args.jsonl:
            text = pdf.to_json(orient="records", lines=True)
            sys.stdout.write(text if text.endswith("\n") or not text
                             else text + "\n")
        else:
            print(pdf.to_json(orient="records"))
        return
    if args.hex:
        out = _render_hex(out)
    if n is None:  # -n all: the user asked for everything — collect ONCE,
        # tabulate driver-side (no second plan run, no JVM round trip)
        print(_tabulate(out.collect(), out.columns))
        return
    # single pass: fetch n+1 rows once, tabulate the local slice, hint if
    # more exist (output.rs:63-70) without a second full-plan run
    rows = out.limit(n + 1).collect()
    print(_tabulate(rows[:n], out.columns))
    if len(rows) > n:
        from . import styles
        print(styles.comment("more rows omitted, use -n all to show "
                             "all rows"))


_SUBCOMMANDS = {"data", "merge", "python", "ls", "schema", "schemas",
                "encode", "decode", "stats", "compact", "verify",
                "dedup", "curate", "pack", "sample", "decontaminate",
                "corpus-stats", "media"}


def _emit_result(out, args, files: list[str]) -> int:
    """Shared sink for the pipeline subcommands: --output writes parquet
    behind the same confirmation gate as `data`; otherwise the result
    pretty-prints/csv/jsonl's to stdout."""
    if args.output:
        if not confirm_io([(f, args.output) for f in files],
                          args.yes, args.dry_run):
            return 0 if args.dry_run else 3
        out.write.mode("overwrite").parquet(args.output)
        print(f"-> {args.output}")
        return 0
    _print_stdout(out, args)
    return 0


def _pipe_source(spark, args):
    """Pipeline-subcommand input: parquet paths, or an encoded chunk
    store decoded through the zero-shuffle path (--store) — the
    curation ops run directly on the compressed corpus, no manual
    decode step. The decode keeps its task per row group, up to one per
    core, even for a small store: the ops' joins and windows would
    otherwise run in its one task. Returns (df, files) or (None, None) after printing an
    error."""
    if getattr(args, "store", None):
        if args.paths:
            print("give parquet paths OR --store, not both",
                  file=sys.stderr)
            return None, None
        from .store import ChunkStore, decode_from_store
        return (decode_from_store(ChunkStore(args.store), spark,
                                  coalesce_small=False), [args.store])
    if not args.paths:
        print("need parquet paths or --store", file=sys.stderr)
        return None, None
    from .inspect import discover
    files = discover(args.paths, args.tree)
    if not files:
        print("no parquet inputs", file=sys.stderr)
        return None, None
    return spark.read.parquet(*files), files


def _ensure_tokens(df, tokens_col: str, text_col: str):
    """Token-consuming subcommands accept either a ready token-array
    column or derive one from the text column."""
    if tokens_col in df.columns:
        return df
    from .pipelines.textstats import with_tokens
    return with_tokens(df, text_col=text_col, out_col=tokens_col)


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    # data is the reference's DEFAULT subcommand (args.rs:90-92):
    # `tbl PATHS [transforms]` works without naming it
    if argv and argv[0] not in _SUBCOMMANDS \
            and not argv[0].startswith("-"):
        argv = ["data"] + argv
    args = build_parser().parse_args(argv)

    if args.cmd == "ls":
        from .inspect import display_paths, format_bytes
        from .inspect import ls as do_ls
        info = do_ls(args.paths or None, args.tree)
        if not info["paths"]:
            print("[no tabular paths]")
            return 0
        from . import styles
        shown = display_paths(info["paths"], args.absolute)
        n_print = args.n if args.n is not None else 100
        for p in shown[:n_print]:
            print(p)
        if n_print < len(shown):
            print(styles.comment(
                f"... {len(shown) - n_print:,} files not shown"))
        print(styles.constant(
            f"{info['rows']:,} rows stored in "
            f"{format_bytes(info['bytes'])} across "
            f"{info['files']:,} tabular files"))
        return 0

    if args.cmd == "schema":
        from .inspect import schema_summary
        groups = schema_summary(args.paths or None, args.tree, args.top,
                                sort_by=args.sort, examples=args.examples,
                                absolute=args.absolute)
        from . import styles
        for g in groups:
            print(styles.title(f"# {g['files']} files, "
                               f"{g['rows']:,} rows"))
            if args.examples and g["example_paths"]:
                for p in g["example_paths"]:
                    print(styles.comment(f"  example: {p}"))
            for name, c in g["columns"].items():
                if args.columns and name not in args.columns:
                    continue
                print(f"  {name:24s} {c['disk_bytes']:>14,} disk  "
                      f"{c['full_bytes']:>14,} full  {c['disk_pct']:6.2f}%")
        return 0

    if args.cmd == "schemas":
        # hidden reference subcommand (args.rs:87-88): one combined
        # summary line per schema group across all inputs
        from .inspect import format_bytes, schema_summary
        groups = schema_summary(args.paths or None, args.tree,
                                sort_by=args.sort)
        for g in groups:
            cols = ", ".join(n for n, _t in g["schema"])
            print(f"{g['files']:>6} files  {g['rows']:>12,} rows  "
                  f"{format_bytes(g['disk_bytes']):>12}  ({cols})")
        return 0

    if args.cmd == "compact":
        from .store import ChunkStore
        store = ChunkStore(args.store)
        # >1 planned wave → distribute the wave builds over executors
        # (driver only plans); a single wave runs in-process. The plan is
        # computed once and handed to compact (a re-plan would re-list
        # the ~62M-file manifest dir at the design point).
        plans = store.plan_waves(args.wave_size)
        spark = None
        if len(plans) > 1:
            from .session import get_spark
            spark = get_spark()
        waves = store.compact(args.wave_size, spark=spark, plans=plans)
        print(json.dumps({"waves_written": waves,
                          "data_files": len(store.decode_units()[0])}))
        return 0

    if args.cmd == "stats":
        from .inspect import store_stats
        from .store import ChunkStore
        store = ChunkStore(args.store)
        if args.history:
            for snap in store.snapshots():
                print(json.dumps(snap))
            return 0
        print(json.dumps(store_stats(store), indent=2))
        return 0

    from .session import get_spark
    spark = get_spark()

    if args.cmd == "data":
        from .inspect import discover
        from .transforms import TransformSpec, apply_transforms
        files = discover(args.paths, args.tree)
        if not files:
            print("no parquet inputs", file=sys.stderr)
            return 1
        df = spark.read.parquet(*files)
        spec = TransformSpec(
            with_columns=args.with_columns, filters=args.filters,
            drop=args.drop, cast=args.cast, set=getattr(args, "set"),
            nullify=args.nullify, replace=args.replace, select=args.select,
            offset=args.offset, head=args.head, tail=args.tail,
            value_counts=args.value_counts, sort=args.sort,
            rename=args.rename)
        if args.inplace or args.output_dir or args.file_prefix \
                or args.file_postfix:
            from .filejobs import transform_files
            from .outputs import OutputPathSpec, get_output_paths
            out_spec = OutputPathSpec(
                output_dir=args.output_dir, tree=args.tree,
                file_prefix=args.file_prefix,
                file_postfix=args.file_postfix, inplace=args.inplace)
            if not confirm_io(get_output_paths(files, out_spec),
                              args.yes, args.dry_run):
                return 0 if args.dry_run else 3
            pairs = transform_files(spark, files, spec, out_spec)
            for s, d in pairs:
                print(f"{s} -> {d}")
            return 0
        out = apply_transforms(df, spec)
        if args.df or args.lf:
            # InteractiveDf/Lf (data.rs:44-45): hand off with the
            # transformed relation, not the raw scan
            import code
            code.interact(
                banner=f"tbl-spark interactive: `spark` and `df` "
                       f"(transformed, {len(files)} files) are defined",
                local={"spark": spark, "df": out})
            return 0
        if args.partition:
            if not args.output:
                print("--partition requires --output DIR", file=sys.stderr)
                return 1
            if not confirm_io([(f, args.output) for f in files],
                              args.yes, args.dry_run):
                return 0 if args.dry_run else 3
            from .partitioning import write_partitioned
            n_files = write_partitioned(
                out, args.output, args.partition,
                by_value=args.partition_by_value,
                by_rows=args.partition_by_rows,
                by_bytes=args.partition_by_bytes)
            print(f"{n_files} files -> {args.output}")
            return 0
        if args.output:
            if not confirm_io([(f, args.output) for f in files],
                              args.yes, args.dry_run):
                return 0 if args.dry_run else 3
            import os as _os
            ext = _os.path.splitext(args.output)[1].lower()
            fmt = ("csv" if args.csv or ext == ".csv"
                   else "json" if args.json or args.jsonl
                   or ext in (".json", ".jsonl")
                   else "parquet")
            if ext in (".parquet", ".csv", ".json", ".jsonl"):
                # SaveToSingleFile (output.rs:130-179): one streamed file,
                # tmp+rename; format from flag or extension
                from .filejobs import write_single_file, write_single_text
                if fmt == "parquet":
                    write_single_file(out, args.output)
                else:
                    write_single_text(out, args.output, fmt)
            else:  # SaveToDirectory: Spark's native partitioned sink
                out.write.mode("overwrite").format(fmt).save(args.output)
        else:
            _print_stdout(out, args)
        return 0

    if args.cmd == "dedup":
        from .pipelines import dedup as dd
        df, files = _pipe_source(spark, args)
        if df is None:
            return 1
        m = args.method
        if m == "exact":
            out = dd.exact_dedup(df, text_col=args.text_col,
                                 id_col=args.id_col,
                                 verify=not args.no_verify)
        elif m == "minhash":
            out = dd.minhash_lsh_dedup(
                df, text_col=args.text_col, id_col=args.id_col,
                k=args.k or 32, bands=args.bands,
                shingle_n=args.shingle_n,
                verify_threshold=args.verify_threshold)
        elif m == "simhash":
            out = dd.simhash_dedup(df, text_col=args.text_col,
                                   id_col=args.id_col)
        elif m == "paragraph":
            # shells deliver '\n' as backslash+n — interpret the usual
            # escapes so --par-sep '\n\n' means blank line, not the
            # four literal characters. latin-1 + backslashreplace keeps
            # non-ASCII separators ('¶', CJK markers) intact through
            # the unicode_escape pass (utf-8 would mojibake them)
            try:
                sep = (args.par_sep.encode("latin-1", "backslashreplace")
                       .decode("unicode_escape"))
                out = dd.paragraph_dedup(df, text_col=args.text_col,
                                         id_col=args.id_col, sep=sep)
            except (UnicodeDecodeError, ValueError) as e:
                print(f"bad --par-sep {args.par_sep!r}: {e}",
                      file=sys.stderr)
                return 1
        else:  # substring / substring-stats
            toks = _ensure_tokens(df, args.tokens_col, args.text_col)
            fn = (dd.substring_dup_stats if m == "substring-stats"
                  else dd.substring_excise)
            out = fn(toks, tokens_col=args.tokens_col,
                     id_col=args.id_col, k=args.k or 8,
                     gram_repr=args.gram_repr)
        return _emit_result(out, args, files)

    if args.cmd == "curate":
        import pyspark.sql.functions as F
        from .pipelines import dedup as dd
        from .pipelines import textstats
        from .pipelines.packing import pack_sequences
        df, files = _pipe_source(spark, args)
        if df is None:
            return 1
        t = args.text_col
        if not args.no_redact:
            df = textstats.with_pii_redacted(df, text_col=t)
        if args.gopher:
            # input columns sharing a gate-signal name (n_words, ...)
            # would be silently overwritten by the gate and then kept in
            # the output — stash them under a reserved name and restore
            # after the signals are dropped (ADVICE r5)
            collide = [c for c in df.columns
                       if c in textstats.GOPHER_GATE_COLS and c != t]
            if t in textstats.GOPHER_GATE_COLS:
                print(f"--text-col {t!r} collides with a gopher gate "
                      "signal column; rename it first", file=sys.stderr)
                return 1
            # the stash name itself must be free, or the restore below
            # produces duplicate column names (ADVICE r6) — refuse, like
            # the text-col collision check above
            taken = [f"_orig_{c}" for c in collide
                     if f"_orig_{c}" in df.columns]
            if taken:
                print("input columns "
                      f"{', '.join(repr(n) for n in taken)} collide "
                      "with the gopher-gate stash names; rename them "
                      "first", file=sys.stderr)
                return 1
            for c in collide:
                df = df.withColumnRenamed(c, f"_orig_{c}")
            before = set(df.columns)
            gate_kw = {}
            if args.min_mwl is not None:
                gate_kw["min_mean_word_len"] = args.min_mwl
            if args.max_mwl is not None:
                gate_kw["max_mean_word_len"] = args.max_mwl
            gated = textstats.with_gopher_gate(
                df, text_col=t, min_words=args.min_words,
                min_stop_hits=args.min_stop_hits, **gate_kw)
            df = gated.filter("gopher_keep").drop(
                *[c for c in gated.columns if c not in before])
            for c in collide:
                df = df.withColumnRenamed(f"_orig_{c}", c)
        else:
            lo = 4.5 if args.min_mwl is None else args.min_mwl
            hi = 12.0 if args.max_mwl is None else args.max_mwl
            words = f"regexp_extract_all({t}, '\\\\S+', 0)"
            mwl = (F.expr(
                f"aggregate({words}, 0L, (a, w) -> a + length(w))")
                / F.greatest(F.expr(f"size({words})"), F.lit(1)))
            df = (df.withColumn("_mwl", mwl)
                  .filter((F.col("_mwl") >= lo) & (F.col("_mwl") <= hi))
                  .drop("_mwl"))
        df = textstats.with_tokens(df, text_col=t)
        if not args.no_excise:
            df = dd.substring_excise(df, id_col=args.id_col, k=args.k,
                                     gram_repr=args.gram_repr)
        df = df.withColumn("n_tok_clean", F.size("tokens"))
        out = pack_sequences(df, n_tok_col="n_tok_clean",
                             order_col=args.id_col, seq_len=args.seq_len)
        return _emit_result(out, args, files)

    if args.cmd == "pack":
        import pyspark.sql.functions as F
        from .pipelines.packing import (materialize_sequences,
                                        pack_sequences)
        df, files = _pipe_source(spark, args)
        if df is None:
            return 1
        df = _ensure_tokens(df, args.tokens_col, args.text_col)
        if args.materialize:
            out = materialize_sequences(df, tokens_col=args.tokens_col,
                                        order_col=args.order_col,
                                        seq_len=args.seq_len)
        else:
            if "n_tok" not in df.columns:
                df = df.withColumn("n_tok", F.size(args.tokens_col))
            out = pack_sequences(df, n_tok_col="n_tok",
                                 order_col=args.order_col,
                                 seq_len=args.seq_len)
        return _emit_result(out, args, files)

    if args.cmd == "sample":
        from .pipelines.sampling import stratified_sample, temperature_sample
        df, files = _pipe_source(spark, args)
        if df is None:
            return 1
        if args.temperature is not None:
            if args.rate:
                print("--temperature and --rate are mutually exclusive "
                      "(temperature derives the per-stratum rates)",
                      file=sys.stderr)
                return 1
            # parameter validation lives in temperature_sample (one
            # source for the messages); surface it as a clean CLI error
            try:
                out = temperature_sample(df, args.strata_col,
                                         args.key_col,
                                         temperature=args.temperature,
                                         weight_col=args.weight_col,
                                         scale=args.scale)
            except ValueError as e:
                print(f"sample: {e}", file=sys.stderr)
                return 1
            return _emit_result(out, args, files)
        rates: dict[str, float] = {}
        for spec_s in args.rate:
            name, _, val = spec_s.partition("=")
            if not _:
                print(f"bad --rate {spec_s!r} (want STRATUM=RATE)",
                      file=sys.stderr)
                return 1
            try:
                rates[name] = float(val)
            except ValueError:
                print(f"bad --rate {spec_s!r} (RATE must be a number)",
                      file=sys.stderr)
                return 1
        out = stratified_sample(df, args.strata_col, rates,
                                key_col=args.key_col,
                                default_rate=args.default_rate)
        return _emit_result(out, args, files)

    if args.cmd == "media":
        from .pipelines import multimodal as mm
        df, files = _pipe_source(spark, args)
        if df is None:
            return 1
        fake = not args.real_decode
        if args.op == "features":
            out = mm.extract_features(df, dim=args.dim, fake_decode=fake)
        elif args.op == "digest-features":
            out = mm.payload_digest_features(df, dim=args.dim)
        else:
            out = mm.frame_sample_decoded(df, every_n=args.every_n,
                                          dim=args.dim, fake_decode=fake)
        return _emit_result(out, args, files)

    if args.cmd == "corpus-stats":
        from .pipelines.textstats import corpus_stats
        df, files = _pipe_source(spark, args)
        if df is None:
            return 1
        out = corpus_stats(df, text_col=args.text_col,
                           strata_col=args.strata_col)
        return _emit_result(out, args, files)

    if args.cmd == "decontaminate":
        from .inspect import discover
        from .pipelines import dedup as dd
        files = discover(args.paths, args.tree)
        eval_files = discover(args.eval_paths, args.tree)
        if args.output:
            # confirm BEFORE constructing the op — decontaminate runs an
            # eager eval-gram count at construction time, and a
            # --dry-run must not burn that job
            if not confirm_io([(f, args.output) for f in files],
                              args.yes, args.dry_run):
                return 0 if args.dry_run else 3
        tr = _ensure_tokens(spark.read.parquet(*files),
                            args.tokens_col, args.text_col)
        ev = _ensure_tokens(spark.read.parquet(*eval_files),
                            args.tokens_col, args.text_col)
        out = dd.decontaminate(tr, ev, tokens_col=args.tokens_col,
                               id_col=args.id_col, k=args.k,
                               gram_repr=args.gram_repr,
                               broadcast=args.broadcast)
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            print(f"-> {args.output}")
            return 0
        _print_stdout(out, args)
        return 0

    if args.cmd == "python":
        # interactive handoff with the dataset preloaded
        # (crates/tbl-cli/src/python.rs:5-68 analog)
        import code
        from .inspect import discover
        files = discover(args.paths, args.tree)
        df = spark.read.parquet(*files)
        banner = (f"tbl-spark interactive: `spark` (SparkSession) and `df` "
                  f"({len(files)} files) are defined")
        code.interact(banner=banner, local={"spark": spark, "df": df})
        return 0

    if args.cmd == "verify":
        # the reference's implicit parquet-roundtrip contract, explicit:
        # decode the store and prove per-row equality against the source
        import functools

        import pyspark.sql.functions as F
        from .inspect import discover
        from .store import ChunkStore, decode_from_store
        src = spark.read.parquet(*discover(args.paths, args.tree))
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in src.schema.fields)
        dec = decode_from_store(ChunkStore(args.store), spark, ddl,
                                coalesce_small=False)
        eq = functools.reduce(
            lambda a, b: a & b,
            [(F.col(f"a.{c}") == F.col(f"b.{c}"))
             | (F.col(f"a.{c}").isNull() & F.col(f"b.{c}").isNull())
             for c in src.columns])
        n_src = src.count()
        n_eq = (src.alias("a").join(dec.hint("merge").alias("b"), args.key)
                .filter(eq).count())
        status = "OK" if n_eq == n_src else "MISMATCH"
        print(json.dumps({"status": status, "source_rows": n_src,
                          "equal_rows": n_eq}))
        return 0 if status == "OK" else 2

    if args.cmd == "merge":
        from .filejobs import merge_files
        from .inspect import discover
        files = discover(args.paths, args.tree)
        if not confirm_io([(f, args.output) for f in files],
                          args.yes, args.dry_run):
            return 0 if args.dry_run else 3
        n = merge_files(spark, files, args.output)
        print(f"{n:,} rows -> {args.output}")
        return 0

    if args.cmd == "encode":
        from .inspect import discover
        from .partitioning import plan_num_parts
        from .store import ChunkStore, encode_to_store
        import pyspark.sql.functions as F
        files = discover(args.paths)
        df = spark.read.parquet(*files)
        if args.colocated:
            from .store import encode_to_store_colocated
            summary = encode_to_store_colocated(
                df, ChunkStore(args.store),
                tokens_per_chunk=args.tokens_per_chunk,
                resume=not args.no_resume)
            print(json.dumps(summary))
            return 0
        num_parts = args.num_parts
        if num_parts is None:
            if "n_tok" in df.columns:
                total = df.agg(F.sum("n_tok")).collect()[0][0] or 0
            else:
                total = df.count()
            kw = {}
            if args.tokens_per_chunk:
                kw["tokens_per_chunk"] = args.tokens_per_chunk
            num_parts = plan_num_parts(int(total), **kw)
        summary = encode_to_store(df, ChunkStore(args.store), num_parts,
                                  resume=not args.no_resume,
                                  cluster=not args.no_cluster)
        print(json.dumps(summary))
        return 0

    if args.cmd == "decode":
        from .store import ChunkStore, decode_from_store
        cols = [c.strip() for c in args.columns.split(",")] \
            if args.columns else None
        # --output writes a file per task: keep a task per row group,
        # up to one per core
        out = decode_from_store(
            ChunkStore(args.store), spark, args.schema,
            columns=cols, predicate=args.where, coalesce_small=False)
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
        else:
            out.show(args.rows, truncate=False)
        return 0

    return 1


if __name__ == "__main__":
    raise SystemExit(main())
