"""sha256 of every data file of a perfbench-shaped token store.

    python tools/store_digest.py [--seed N] [--out DIR]

Stages seed N's perfbench token input with ``perfbench/inputs.py`` (seed 1
by default), auditions an encode plan on it and encodes it into a salted
store, as perfbench's ``tokens_scan`` set-up does, then compacts the store.
Input size, part count and wave size are perfbench's ``SIZES["full"]``.
It prints one JSON line: the sha256 of every loose part file under
``chunks/`` before compaction, of every file under ``waves/`` and
``stats/`` after it, and ``store.json`` as parsed. Data files hold no
timing, so one checkout prints the same digests on every run, and two
checkouts whose store bytes should agree can be compared seed by seed.
``--out`` keeps the compacted store in DIR (which must not exist) for a
closer look, such as a diff of its stats parquets.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]


def digests(root: str, sub: str) -> dict[str, str]:
    """{"sub/name": sha256} of the files directly under root/sub."""
    path = os.path.join(root, sub)
    out = {}
    for name in sorted(os.listdir(path)) if os.path.isdir(path) else []:
        with open(os.path.join(path, name), "rb") as f:
            out[f"{sub}/{name}"] = hashlib.sha256(f.read()).hexdigest()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", help="keep the store in this new directory")
    args = ap.parse_args()
    if args.out and os.path.exists(args.out):
        ap.error(f"{args.out} exists")

    from inputs import stage_tokens
    from workloads import SIZES

    from tbl_spark.encode import audition_codec_hints
    from tbl_spark.session import get_spark
    from tbl_spark.store import ChunkStore, encode_to_store

    size = SIZES["full"]
    work = tempfile.mkdtemp(prefix="store_digest-")
    try:
        src = stage_tokens(work, args.seed, size["n_docs"], size["n_files"])
        spark = get_spark()
        df = spark.read.parquet(src["path"])
        store = ChunkStore(args.out or os.path.join(work, "store"))
        encode_to_store(df, store, size["parts"],
                        codec_hints=audition_codec_hints(df))
        files = digests(store.root, "chunks")
        store.compact(size["wave_size"], spark=spark)
        for sub in ("waves", "stats"):
            files.update(digests(store.root, sub))
        with open(store.meta_path) as f:
            meta = json.load(f)
        print(json.dumps({"seed": args.seed, "files": files,
                          "store_json": meta}, sort_keys=True))
    finally:
        shutil.rmtree(work)
    return 0


if __name__ == "__main__":
    sys.exit(main())
