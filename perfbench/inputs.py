"""Seeded benchmark inputs, staged as zstd parquet and keyed for reuse.

A staged input lives in a directory named by a digest of everything that
determines its bytes: the generator (the source of the generating
functions), the seed and the size parameters. ``stage()`` writes a
manifest beside the files; ``open_staged()`` re-checks that manifest
(key, file names, sizes) before an input is used again, so a changed
generator or a truncated file can never be benchmarked silently.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST = "_staged.json"   # "_" keeps Spark and pyarrow readers off it


def _generator_digest(*funcs) -> str:
    h = hashlib.blake2b(digest_size=8)
    for f in funcs:
        h.update(inspect.getsource(f).encode())
    return h.hexdigest()


def input_key(kind: str, seed: int, params: dict, generator: str) -> str:
    blob = json.dumps({"kind": kind, "seed": seed, "params": params,
                       "generator": generator}, sort_keys=True)
    return hashlib.blake2b(blob.encode(), digest_size=8).hexdigest()


def _files(path: str) -> dict[str, int]:
    return {n: os.path.getsize(os.path.join(path, n))
            for n in sorted(os.listdir(path)) if n.endswith(".parquet")}


def stage(root: str, kind: str, seed: int, params: dict, writer) -> dict:
    """Write one input into ``root/<kind>-<key>/`` from scratch.

    ``writer(path)`` writes the parquet files. Any earlier copy under the
    same key is removed first, so the staging cost is always paid in full.
    """
    from tbl_spark import datagen
    generator = _generator_digest(datagen.generate_part,
                                  datagen.write_token_table,
                                  lineitem_table)
    key = input_key(kind, seed, params, generator)
    path = os.path.join(root, f"{kind}-{key}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    writer(path)
    manifest = {"kind": kind, "seed": seed, "params": params,
                "generator": generator, "key": key, "files": _files(path)}
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(manifest, f)
    return {**manifest, "path": path}


def open_staged(staged: dict) -> dict:
    """Re-check a staged input before reuse; raise if anything moved."""
    path = staged["path"]
    with open(os.path.join(path, MANIFEST)) as f:
        manifest = json.load(f)
    want = input_key(manifest["kind"], manifest["seed"], manifest["params"],
                     manifest["generator"])
    if manifest["key"] != staged["key"] or want != staged["key"]:
        raise RuntimeError(f"staged input {path} has a different key")
    if _files(path) != manifest["files"]:
        raise RuntimeError(f"staged input {path} files changed")
    return staged


def stage_tokens(root: str, seed: int, n_docs: int, n_files: int) -> dict:
    from tbl_spark.datagen import write_token_table

    def writer(path):
        write_token_table(path, n_docs, n_parts=n_files, seed=seed)

    return stage(root, "tokens", seed,
                 {"n_docs": n_docs, "n_files": n_files}, writer)


def stage_lineitem(root: str, seed: int, n_rows: int) -> dict:
    def writer(path):
        pq.write_table(lineitem_table(n_rows, seed),
                       os.path.join(path, "lineitem.parquet"),
                       compression="zstd", row_group_size=n_rows)

    return stage(root, "lineitem", seed, {"n_rows": n_rows}, writer)


_WORDS = ("furiously quickly carefully slyly blithely ironic final regular "
          "express special pending bold even silent unusual idle busy "
          "accounts deposits requests packages instructions theodolites "
          "foxes pinto beans asymptotes dependencies platelets excuses "
          "courts dolphins ideas sentiments warhorses sauternes frets "
          "nag sleep wake haggle boost cajole detect integrate use are "
          "above against along among around beside after across").split()
_MODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
_INSTRUCT = ["COLLECT COD", "DELIVER IN PERSON", "NONE", "TAKE BACK RETURN"]


def lineitem_table(n_rows: int, seed: int) -> pa.Table:
    """A TPC-H-shaped lineitem table: bigint keys, decimal(15,2) money,
    dates, low-cardinality flags and free-text comments."""
    rng = np.random.default_rng([seed, 7])
    lines = rng.integers(1, 8, n_rows // 3 + 8)
    order_of_line = np.repeat(np.arange(len(lines)), lines)[:n_rows]
    starts = np.concatenate([[0], np.cumsum(lines)[:-1]])
    linenumber = (np.arange(n_rows) - starts[order_of_line] + 1)
    orderkey = (order_of_line // 8) * 32 + order_of_line % 8 + 1
    partkey = rng.integers(1, max(2, n_rows // 3), n_rows)
    suppkey = rng.integers(1, max(2, n_rows // 60), n_rows)
    quantity = rng.integers(1, 51, n_rows)
    price_cents = quantity * rng.integers(90_000, 210_000, n_rows)
    discount = rng.integers(0, 11, n_rows)
    tax = rng.integers(0, 9, n_rows)
    ship = rng.integers(8036, 10560, n_rows)            # 1992-01-02 ..
    commit = ship + rng.integers(-60, 61, n_rows)
    receipt = ship + rng.integers(1, 31, n_rows)
    returnflag = np.where(receipt <= 9298,
                          np.array(["R", "A"])[rng.integers(0, 2, n_rows)],
                          "N")
    linestatus = np.where(ship > 9298, "O", "F")
    words = np.array(_WORDS, dtype=object)[
        rng.integers(0, len(_WORDS), (n_rows, 6))]
    n_words = rng.integers(2, 7, n_rows)
    comment = [" ".join(w[:k])[:43] for w, k in zip(words, n_words)]

    def dec(cents):
        # decimal128 stores the unscaled value as a little-endian int128
        words = np.empty((n_rows, 2), dtype=np.int64)
        words[:, 0] = cents
        words[:, 1] = cents >> 63
        return pa.Array.from_buffers(pa.decimal128(15, 2), n_rows,
                                     [None, pa.py_buffer(words.tobytes())])

    return pa.table({
        "l_orderkey": pa.array(orderkey.astype(np.int64)),
        "l_partkey": pa.array(partkey.astype(np.int64)),
        "l_suppkey": pa.array(suppkey.astype(np.int64)),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": dec(quantity * 100),
        "l_extendedprice": dec(price_cents),
        "l_discount": dec(discount),
        "l_tax": dec(tax),
        "l_returnflag": pa.array(returnflag, pa.string()),
        "l_linestatus": pa.array(linestatus, pa.string()),
        "l_shipdate": pa.array(ship.astype(np.int32)).view(pa.date32()),
        "l_commitdate": pa.array(commit.astype(np.int32)).view(pa.date32()),
        "l_receiptdate": pa.array(receipt.astype(np.int32)).view(
            pa.date32()),
        "l_shipinstruct": pa.array(
            np.array(_INSTRUCT)[rng.integers(0, 4, n_rows)], pa.string()),
        "l_shipmode": pa.array(
            np.array(_MODES)[rng.integers(0, 7, n_rows)], pa.string()),
        "l_comment": pa.array(comment, pa.string()),
    })


def checksums(df, cases: dict) -> dict[str, tuple[int, int]]:
    """``checksum`` of several cases of one DataFrame in one Spark job.
    ``cases`` maps a name to ``(columns, condition)``; a case's value is
    ``checksum(df.filter(condition), columns)``, or of all rows when the
    condition is None. The sums run in decimal(38,0), which cannot
    overflow at these row counts."""
    import pyspark.sql.functions as F
    aggs = []
    for name, (cols, cond) in cases.items():
        h = F.xxhash64(*cols).cast("decimal(38,0)")
        one = F.lit(1)
        if cond is not None:
            h, one = F.when(cond, h), F.when(cond, one)
        aggs += [F.count(one).alias(f"{name}.n"), F.sum(h).alias(f"{name}.h")]
    row = df.agg(*aggs).collect()[0]
    return {name: (int(row[f"{name}.n"]), int(row[f"{name}.h"] or 0))
            for name in cases}


def checksum(df, columns: list[str] | None = None) -> tuple[int, int]:
    """(row count, sum of xxhash64 over ``columns``) — order-insensitive,
    and every listed column is read in full to compute it."""
    return checksums(df, {"all": (columns or df.columns, None)})["all"]
