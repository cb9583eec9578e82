"""Zone pruning is planned on the driver: one vectorized pass over the
store's stats table, no Spark job and no per-wave json.load, at 10^5
parts as at 8."""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

import tbl_spark.store as store_mod
from tbl_spark.datagen import SPARK_SCHEMA_DDL, generate_df
from tbl_spark.store import (STATS_SCHEMA, ChunkStore, decode_from_store,
                             encode_to_store, zone_prune_parts)

N_WAVES, WAVE_PARTS = 100, 1000


class _CountingJson:
    """json proxy that counts load() calls (delegates everything)."""

    def __init__(self, real):
        self._real = real
        self.loads_seen = 0

    def load(self, *a, **kw):
        self.loads_seen += 1
        return self._real.load(*a, **kw)

    def __getattr__(self, name):
        return getattr(self._real, name)


def _synthetic_store(root: str, lo: np.ndarray, hi: np.ndarray
                     ) -> ChunkStore:
    """A store holding only metadata: N_WAVES committed waves of
    WAVE_PARTS parts, part p's n_tok bounds [lo[p], hi[p]], each wave
    with its stats parquet and a wave manifest of the current shape
    (unit records, part manifests with JSON-string `columns`)."""
    store = ChunkStore(root)
    store.init_dirs()
    os.makedirs(store.stats_dir, exist_ok=True)
    for w in range(N_WAVES):
        ids = np.arange(w * WAVE_PARTS, (w + 1) * WAVE_PARTS)
        n = len(ids)
        cols = {f.name: pa.nulls(n, f.type) for f in STATS_SCHEMA}
        cols.update({
            "part_id": pa.array(ids, pa.int64()),
            "column": pa.array(["n_tok"] * n),
            "n_rows": pa.array(np.full(n, 10), pa.int64()),
            "kind": pa.array(["num"] * n),
            "nulls": pa.array(np.zeros(n, np.int64)),
            "has_nan": pa.array(np.zeros(n, bool)),
            "lo_num": pa.array(lo[ids].astype(np.float64)),
            "hi_num": pa.array(hi[ids].astype(np.float64)),
        })
        pq.write_table(pa.table(cols, schema=STATS_SCHEMA),
                       os.path.join(store.stats_dir, f"wave-{w:06d}.parquet"))
        file = f"wave-{w:06d}.parquet"
        manifests = [{"part_id": int(p), "n_rows": 10, "columns": json.dumps(
                          {"n_tok": {"codec": "raw", "stats": {
                              "kind": "num", "min": int(lo[p]),
                              "max": int(hi[p]), "nulls": 0}}})}
                     for p in ids]
        units = [{"file": f"waves/{file}", "row_group": i,
                  "part_id": int(p), "rows": 10, "columns": {"n_tok": 0}}
                 for i, p in enumerate(ids)]
        with open(os.path.join(store.manifest_dir,
                               f"wave-{w:06d}.json"), "w") as f:
            json.dump({"wave": w, "parts": ids.tolist(), "file": file,
                       "units": units, "manifests": manifests}, f)
    return store


def test_prune_1e5_parts_matches_bounds_without_wave_json(tmp_path,
                                                          monkeypatch):
    n = N_WAVES * WAVE_PARTS
    rng = np.random.default_rng(4)
    lo = rng.integers(0, 5000, size=n)
    hi = lo + rng.integers(0, 2000, size=n)
    threshold = int(np.quantile(hi, 0.99))
    expected = set(np.flatnonzero(hi >= threshold).tolist())
    assert 0 < len(expected) < n

    store = _synthetic_store(str(tmp_path / "store"), lo, hi)
    counter = _CountingJson(json)
    monkeypatch.setattr(store_mod, "json", counter)
    kept = zone_prune_parts(store, f"n_tok>={threshold}")
    assert kept == expected
    assert counter.loads_seen == 0      # no wave manifest opened
    assert len(store.stats_table()) == n


def test_selective_decode_starts_no_job_before_action(spark, tmp_path):
    df = generate_df(spark, 2000, 4)
    store = ChunkStore(str(tmp_path / "store"))
    encode_to_store(df, store, 8)
    store.compact(2, spark=spark)
    n_tok = np.array([r[0] for r in df.select("n_tok").collect()])
    threshold = int(np.quantile(n_tok, 0.99))
    pred = f"n_tok>={threshold}"

    sc = spark.sparkContext
    group = f"plan-only-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "decode_from_store planning")
    try:
        out = decode_from_store(store, spark, SPARK_SCHEMA_DDL,
                                predicate=pred)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # the action itself is tracked under the group, so the empty
        # list above is not an artifact of the tracker
        got = out.count()
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert got == df.filter(F.col("n_tok") >= threshold).count() > 0
