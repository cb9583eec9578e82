"""The integer audition picks by estimate from one value count of its
sample, and trial-encodes only when two estimates are close: its plans
equal the trial's, close calls still get the trial, and an int32-max
outlier never sizes the histogram."""

import math
import tracemalloc

import numpy as np
import pytest

import tbl_spark.codecs.core as core
from tbl_spark.codecs.core import (Codec, build_shared_table, pick_int_codec,
                                   plan_to_json, value_counts)
from tbl_spark.datagen import write_token_table
from tbl_spark.encode import audition_codec_hints


def _count_trials(monkeypatch) -> list:
    calls = []
    trial = core._trial_order

    def counted(*args, **kwargs):
        calls.append(1)
        return trial(*args, **kwargs)

    monkeypatch.setattr(core, "_trial_order", counted)
    return calls


@pytest.mark.parametrize("v", [
    np.array([5], dtype=np.int8),
    np.full(1000, -7, dtype=np.int16),
    np.arange(-128, 128, dtype=np.int8).repeat(3),
    np.arange(0, 256, dtype=np.uint8),
    np.array([0, 2**31 - 1, 0, 2**31 - 1, 17], dtype=np.int32),
    np.array([-2**63, 2**63 - 1, 0, 0, 1], dtype=np.int64),
    np.array([0, 2**64 - 1, 2**63, 3], dtype=np.uint64),
    np.random.default_rng(1).integers(-2**40, 2**40, 50_000),
    np.random.default_rng(2).zipf(1.2, 100_000).astype(np.uint32),
], ids=lambda v: f"{v.dtype}-{len(v)}")
def test_value_counts_are_exact(v):
    u, c = value_counts(v)
    want_u, want_c = np.unique(v, return_counts=True)
    assert u.tolist() == want_u.tolist() and c.tolist() == want_c.tolist()
    if v.dtype != np.uint64:
        v64 = v.astype(np.int64)
        for qs in ((0.0001, 0.9999), (0.0, 0.5, 1.0), (0.3, 0.77)):
            got = core._quantiles(c, u.astype(np.int64), len(v), qs)
            want = np.quantile(v64, qs)
            assert got.dtype == want.dtype and got.tobytes() == want.tobytes()


def _plan_bytes(plan) -> tuple:
    return (plan_to_json(plan),
            {k: bytes(e) for k, e in plan.items() if isinstance(e, bytes)})


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_token_plan_equals_the_trial_plan(spark, tmp_path, monkeypatch,
                                          seed):
    """On datagen token tables (the int32-max doc included) the plan the
    estimates choose, with no trial encode, is the plan the trial chooses
    byte for byte, shared-table blob included."""
    src = str(tmp_path / "in")
    write_token_table(src, 2000, n_parts=8, seed=seed)
    df = spark.read.parquet(src)
    trials = _count_trials(monkeypatch)
    by_estimate = audition_codec_hints(df)
    assert trials == []
    assert isinstance(by_estimate["tokens.values"], bytes)
    monkeypatch.setattr(core, "_ESTIMATE_MARGIN", math.inf)
    by_trial = audition_codec_hints(df)
    assert trials == [1]
    assert _plan_bytes(by_estimate) == _plan_bytes(by_trial)


def test_close_estimates_go_to_the_trial(monkeypatch):
    """Columns whose two best estimates are within the margin, or whose
    values carry order, get the trial and keep its pick."""
    rng = np.random.default_rng(4)
    n = 1 << 17
    lengths = np.clip(rng.lognormal(5.5, 1.0, n), 1, 8192).astype(np.int32)
    uniform = rng.integers(0, 200, n).astype(np.int32)
    runs = np.repeat(np.arange(n // 4, dtype=np.int64) * 32 + 1, 4)
    cases = [(lengths, Codec.RANS), (uniform, Codec.RANS),
             (runs, Codec.DELTA_NESTED)]
    trials = _count_trials(monkeypatch)
    for values, want in cases:
        est, _, structured = core._int_estimates(values, value_counts(values))
        if not structured:
            best, second = sorted(est.values())[:2]
            assert second < best * (1 + core._ESTIMATE_MARGIN)
        trials.clear()
        assert pick_int_codec(values) == want
        assert trials == [1]
    # the uniform column's estimates rank byte planes first; the trial
    # finds rANS smaller
    est, _, _ = core._int_estimates(uniform, value_counts(uniform))
    assert min(est, key=est.get) != Codec.RANS


def test_int32_max_outlier_never_sizes_the_histogram():
    """Two int32-max tokens in a 200k-token sample: a [min, max] bincount
    would be 2^31 int64 bins (16 GiB); the value counts and the shared
    table stay within a few MB, counting the outliers apart."""
    rng = np.random.default_rng(5)
    v = ((rng.zipf(1.2, 200_000) - 1) % 50_257).astype(np.int32)
    v[[7, 123_456]] = 2**31 - 1
    peaks = {}
    tracemalloc.start()
    try:
        for name, call in (("value_counts", value_counts),
                           ("build_shared_table", build_shared_table),
                           ("pick_int_codec", pick_int_codec)):
            tracemalloc.reset_peak()
            out = call(v)
            peaks[name] = tracemalloc.get_traced_memory()[1]
            if name == "value_counts":
                assert out[0][-1] == 2**31 - 1 and out[1][-1] == 2
    finally:
        tracemalloc.stop()
    assert out == Codec.RANS
    assert peaks["value_counts"] < 8 << 20
    assert peaks["build_shared_table"] < 8 << 20
    # the analytic estimates' window copies (deltas and their nested
    # deltas) take about 15 MB at this size
    assert peaks["pick_int_codec"] < 32 << 20
