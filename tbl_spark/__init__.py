"""tbl_spark — a from-scratch PySpark-native columnar lightweight-compression
engine with the query/data-processing capabilities of paradigmxyz/tbl.

The reference (/root/reference, Rust + polars + arrow) is a CLI for
reading/editing parquet datasets. This package re-expresses its capabilities
Spark-first:

- per-column lightweight codecs (dict, RLE, FSST-style symbol table,
  bit-pack, frame-of-reference, delta) with a sampling cost model that
  auto-selects the cheapest codec per column chunk
  (``tbl_spark.codecs``) — the analog of the parquet-internal encodings
  the reference delegates to (crates/tbl-cli/src/output.rs:157-173);
- distributed encode/decode jobs over Arrow-batched pandas UDFs
  (``tbl_spark.encode`` / ``tbl_spark.decode``) — the analog of the
  reference's record-batch streaming surgery
  (crates/tbl-core/src/parquet/parquet_{merge,drop,insert}.rs);
- a checkpointed chunk store with per-partition atomic commit + resume
  (``tbl_spark.store``) — the analog of the reference's tmp+rename write
  protocol (crates/tbl-cli/src/output.rs:141-176);
- the reference's relational transform surface with its fixed operator
  ordering (``tbl_spark.transforms``, crates/tbl-cli/src/transform.rs:9-22);
- inspect/stats over the chunk manifest (``tbl_spark.inspect``,
  crates/tbl-cli/src/cli/subcommands/{ls,schema}.rs).
"""

__version__ = "0.1.0"

from . import pyworker  # noqa: E402

pyworker.install()
