"""Capture .explain("formatted") output for the r8 optimization round.

Writes plans/r08/<name>_<tag>.txt for every headline bench query plus the
encode/decode bench constructs. Usage:

    python tools/capture_plans_r08.py before|after [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join("plans", "r08")


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def main() -> None:
    tag = sys.argv[1]
    only = set(sys.argv[2:])
    os.makedirs(OUT_DIR, exist_ok=True)

    from tbl_spark.session import get_spark
    spark = get_spark(cores=8, shuffle_partitions=32,
                      app_name="capture-plans-r08")

    import __spark_entry__ as entrymod
    qs = entrymod.queries()

    def emit(name: str, df) -> None:
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(formatted(df))
        print(f"wrote {path}")

    bench_names = ["roundtrip_lineitem", "dedup_minhash_lsh",
                   "ann_cosine_topk", "text_quality", "dedup_exact",
                   "pipeline_curate_v2"]
    for name in bench_names:
        if only and name not in only:
            continue
        emit(name, qs[name](spark, SF_DIR))

    # encode/decode bench constructs (the other headline queries)
    if not only or {"encode_tokens", "encode_colocated",
                    "decode_tokens"} & only:
        from tbl_spark.datagen import SPARK_SCHEMA_DDL, generate_df
        from tbl_spark.decode import decode_chunks_colocated
        from tbl_spark.encode import encode_chunks, encode_chunks_colocated
        import tempfile
        staged_dir = tempfile.mkdtemp(prefix="plans_r08_tokens_")
        df = generate_df(spark, 4000, 4)
        df.write.mode("overwrite").parquet(staged_dir)
        staged = spark.read.parquet(staged_dir)
        if not only or "encode_tokens" in only:
            emit("encode_tokens",
                 encode_chunks(staged, 16, codec_hints={}))
        if not only or "encode_colocated" in only:
            emit("encode_colocated",
                 encode_chunks_colocated(staged, tokens_per_chunk=400_000,
                                         codec_hints={}))
        if not only or "decode_tokens" in only:
            chunks = encode_chunks(staged, 16, codec_hints={})
            emit("decode_tokens",
                 decode_chunks_colocated(chunks, SPARK_SCHEMA_DDL))

    spark.stop()


if __name__ == "__main__":
    main()
