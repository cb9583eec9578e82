"""How the integer audition's estimates compare with its trial encodes.

    python tools/audition_corpus.py

For each column of a fixed corpus (datagen token samples of seeds 1-10 at
1024 rows and at all 2000 docs, the way the audition samples them; n_tok
and list lengths of 69,632 docs; perfbench's lineitem integer and date
columns; synthetic iid, sorted, stepped, periodic, float and sparse-id
streams) it prints the two best estimates' gap, whether a zstd probe
marked the values as ordered, the codec the estimates pick, the codec the
trial picks, and each estimate over the trial's size for the same codec.
``codecs.core._ESTIMATE_MARGIN`` is set from this table: the audition
picks by estimate only where the gap exceeds it, so the largest estimate
error on an unordered column bounds it from below.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]


def corpus() -> dict[str, np.ndarray]:
    import inputs
    from tbl_spark.datagen import generate_part

    out = {}
    for seed in range(1, 11):
        per = 250       # write_token_table(…, 2000, n_parts=8, seed=seed)
        parts = [generate_part(p, per, seed, rows_per_part=per)
                 for p in range(8)]
        tokens = pa.chunked_array([t.column("tokens") for t in parts])
        out[f"tokens-{seed}"] = np.asarray(
            tokens.slice(0, 1024).combine_chunks().flatten())
        out[f"tokens-{seed}-all"] = np.asarray(
            tokens.combine_chunks().flatten())
    big = generate_part(0, 69_632, seed=3)
    out["n_tok"] = big.column("n_tok").to_numpy()
    out["lengths"] = (big.column("tokens").combine_chunks().value_lengths()
                      .to_numpy().astype(np.int64))
    li = inputs.lineitem_table(69_632, 1)
    for name in li.column_names:
        col = li.column(name).combine_chunks()
        if pa.types.is_integer(col.type):
            out[name] = col.to_numpy()
        elif pa.types.is_date(col.type):
            out[name] = col.cast(pa.int32()).to_numpy()
    rng = np.random.default_rng(7)
    n = 300_000
    toks = out["tokens-1"]
    outliers = toks.copy()
    outliers[::1000] = 2**31 - 1
    out.update({
        "sorted": np.sort(rng.integers(0, 10**9, n)),
        "arange": np.arange(n, dtype=np.int64),
        "runs": np.repeat(rng.integers(0, 1000, n // 50), 50),
        "uniform-16bit": rng.integers(0, 1 << 16, n).astype(np.int32),
        "uniform-200": rng.integers(0, 200, n).astype(np.int32),
        "uniform-40bit": rng.integers(0, 1 << 40, n),
        "zipf-2.0": (rng.zipf(2.0, n) % 1000).astype(np.int32),
        "zipf-1.1": (rng.zipf(1.1, n) % 50257).astype(np.int32),
        "geometric": rng.geometric(0.01, n).astype(np.int64),
        "normal": rng.normal(0, 1000, n).astype(np.int64),
        "repeated-block": np.tile(rng.integers(0, 50000, 1000), n // 1000),
        "timestamps": (1_700_000_000_000_000 + np.cumsum(
            rng.integers(0, 2_000_000, n))).astype(np.int64),
        "prices-f64": np.round(rng.uniform(1, 1000, n), 2),
        "normal-f32": rng.normal(0, 1, n).astype(np.float32),
        "bool-10pct": rng.random(n) < 0.1,
        "two-values": np.where(rng.random(n) < 0.5, 3, 70000)
        .astype(np.int32),
        "sawtooth": (np.arange(n) % 256).astype(np.int32),
        "random-walk": np.cumsum(rng.integers(-3, 4, n)).astype(np.int64),
        "sorted-chunks": np.concatenate(
            [np.sort(c) for c in np.array_split(toks, 100)]),
        "tokens-outliers": outliers,
        "negative-zipf": -(rng.zipf(1.3, n) % 30000).astype(np.int64),
        "sparse-ids": rng.choice(rng.integers(0, 10**12, 5000), n),
    })
    return out


def main() -> int:
    from tbl_spark.codecs import core
    from tbl_spark.codecs.core import DTYPE_OF_NUMPY, Codec

    print(f"{'column':<18}{'gap':>8}  ordered  {'estimate':<13}"
          f"{'trial':<13}estimate / trial size")
    for name, values in corpus().items():
        work = core._work(values)
        est, top2, ordered = core._int_estimates(work,
                                                 core.value_counts(work))
        codecs = top2 + [Codec.BYTE_PLANES, Codec.RANS]
        trial = core._trial_sizes(work, DTYPE_OF_NUMPY[values.dtype], codecs)
        by_trial = min(trial, key=trial.get).name
        if ordered:
            print(f"{name:<18}{'':>8}  yes      {'-':<13}{by_trial:<13}")
            continue
        ranked = sorted(est, key=est.get)
        gap = est[ranked[1]] / est[ranked[0]] - 1 if len(ranked) > 1 \
            else float("inf")
        ratios = " ".join(f"{c.name.lower()} {est[c] / trial[c]:.3f}"
                          for c in ranked if c in trial)
        print(f"{name:<18}{gap:>8.3f}  no       {ranked[0].name:<13}"
              f"{by_trial:<13}{ratios}")
    print(f"margin {core._ESTIMATE_MARGIN}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
