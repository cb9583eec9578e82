"""Structured Streaming queries over token tables.

The reference is batch-only (SURVEY.md §2.9); these are the two
streaming queries `__spark_entry__.py` runs, each next to a batch-SQL
twin:

- `windowed_token_stats`: watermarked tumbling-window token and doc
  counts per source;
- `stream_dedup_exact`: cross-batch exact dedup that keeps the first
  row seen for each text in the streaming state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def windowed_token_stats(stream_df: DataFrame,
                         time_col: str = "event_time",
                         watermark: str = "10 minutes",
                         window_len: str = "1 hour",
                         group_col: str = "source",
                         n_tok_col: str = "n_tok") -> DataFrame:
    """Watermarked tumbling-window ingestion stats: tokens and docs per
    (event-time window, source). The watermark bounds how late a row may
    arrive and still count — Spark drops later rows and FINALIZES each
    window once the watermark passes its end, so append-mode sinks emit
    every window exactly once and the state store stays bounded (the
    late-data contract of the north-rule streaming surface)."""
    import pyspark.sql.functions as F
    return (stream_df
            .withWatermark(time_col, watermark)
            .groupBy(F.window(time_col, window_len).alias("win"),
                     F.col(group_col))
            .agg(F.sum(n_tok_col).alias("tokens"),
                 F.count("*").alias("docs"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    group_col, "tokens", "docs"))


def stream_dedup_exact(stream_df: DataFrame, text_col: str = "text",
                       timeout_minutes: float | None = None) -> DataFrame:
    """Cross-batch streaming exact dedup: emit only the FIRST row ever
    seen for each distinct text, remembering it in the streaming state
    store (applyInPandasWithState — the custom stateful operator
    surface).

    Collision safety: rows are grouped by xxhash64(text), but the drop
    decision also compares an INDEPENDENT md5-derived 60-bit digest kept
    per group in state — a distinct document is dropped only if both
    hashes collide simultaneously (~2^-124 per pair, negligible even at
    the 10^12-sequence design point where a bare 64-bit key would be
    expected to collide — same standard as batch exact_dedup's
    verify=True). State per group is the digest list (one entry unless
    a 64-bit collision actually lands in the group), so memory is
    O(distinct texts); an optional processing-time timeout expires idle
    entries to bound state on endless streams (expired entries may
    re-admit a duplicate — the standard bounded-state trade)."""
    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)
    from .pipelines.dedup import _word_hash_expr

    out_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in stream_df.schema.fields)
    keyed = (stream_df
             .withColumn("_h", F.xxhash64(F.col(text_col)))
             .withColumn("_d", F.expr(_word_hash_expr(text_col, "md5_60"))))
    cols = [f.name for f in stream_df.schema.fields]

    def first_only(key, pdfs, state: GroupState):
        if state.exists and timeout_minutes is not None \
                and state.hasTimedOut:
            state.remove()         # idle entry expired — next seen re-admits
            for _ in pdfs:
                pass
            return
        seen = set(state.get[0]) if state.exists else set()
        firsts: list[pd.DataFrame] = []
        for pdf in pdfs:
            # vectorized: keep a row iff its digest is unseen AND it is
            # the first occurrence within this batch (VERDICT r4 #8 —
            # groups are ~1 row by construction, but a hash-skewed group
            # must not degrade to per-row iloc slicing)
            mask = (~pdf["_d"].isin(seen)
                    & ~pdf["_d"].duplicated(keep="first"))
            if mask.any():
                seen.update(int(d) for d in pdf.loc[mask, "_d"])
                firsts.append(pdf.loc[mask, cols])
        state.update((sorted(seen),))
        if timeout_minutes is not None:
            state.setTimeoutDuration(int(timeout_minutes * 60 * 1000))
        if firsts:
            yield pd.concat(firsts, ignore_index=True)

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if timeout_minutes is not None
               else GroupStateTimeout.NoTimeout)
    return keyed.groupBy("_h").applyInPandasWithState(
        first_only, out_ddl, "digests array<bigint>", "append", timeout)
