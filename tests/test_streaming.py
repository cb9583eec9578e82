"""Structured Streaming query tests: the watermarked window stats and
the cross-batch exact dedup with its state timeout."""


def test_windowed_token_stats_watermark(spark, tmp_path):
    """Tumbling event-time windows with a watermark: finalized windows
    emit exactly once in append mode, and a row arriving behind the
    watermark never re-opens its (already-emitted) window."""
    import datetime as dt
    import os
    import time

    from tbl_spark.streaming import windowed_token_stats

    inbox = str(tmp_path / "win_inbox")
    os.makedirs(inbox)
    ddl = "doc_id string, source string, n_tok int, event_time timestamp"

    def write_wave(name, rows):
        spark.createDataFrame(rows, ddl).coalesce(1) \
            .write.mode("overwrite").parquet(f"{inbox}/{name}")

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)   # noqa: E731
    write_wave("w1", [("a", "web", 10, t(10, 5)),
                      ("b", "web", 20, t(10, 50)),
                      ("c", "books", 5, t(11, 20)),
                      ("d", "web", 7, t(12, 30))])
    stream = (spark.readStream.schema(ddl)
              .option("pathGlobFilter", "*.parquet")
              .option("recursiveFileLookup", "true").parquet(inbox))
    out = windowed_token_stats(stream, watermark="10 minutes",
                               window_len="1 hour")
    q = (out.writeStream.format("memory").queryName("win_stats")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_w")).start())
    try:
        q.processAllAvailable()
        # watermark now 12:20 → the 10-11 and 11-12 windows are final
        got = {(r["win_start"].hour, r["source"]): (r["tokens"], r["docs"])
               for r in spark.sql("SELECT * FROM win_stats").collect()}
        assert got[(10, "web")] == (30, 2)
        assert got[(11, "books")] == (5, 1)
        # wave 2: one row BEHIND the watermark (10:30 < 12:20) plus one
        # that advances it past the 12-13 window
        write_wave("w2", [("late", "web", 999, t(10, 30)),
                          ("e", "web", 3, t(13, 40))])
        q.processAllAvailable()
        got = {(r["win_start"].hour, r["source"]): (r["tokens"], r["docs"])
               for r in spark.sql("SELECT * FROM win_stats").collect()}
        # the late row did NOT re-open or inflate the finalized window
        assert got[(10, "web")] == (30, 2)
        assert got[(12, "web")] == (7, 1)
    finally:
        q.stop()


def test_stream_dedup_exact_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps one row per text hash ACROSS
    micro-batches: later exact duplicates are suppressed by the state
    store, not by any within-batch join."""
    import os

    from tbl_spark.streaming import stream_dedup_exact

    inbox = str(tmp_path / "dd_inbox")
    os.makedirs(inbox)
    ddl = "doc_id string, text string"

    def write_wave(name, rows):
        spark.createDataFrame(rows, ddl).coalesce(1) \
            .write.mode("overwrite").parquet(f"{inbox}/{name}")

    write_wave("w1", [("a", "alpha text"), ("a2", "alpha text"),
                      ("b", "beta text")])
    stream = (spark.readStream.schema(ddl)
              .option("pathGlobFilter", "*.parquet")
              .option("recursiveFileLookup", "true").parquet(inbox))
    out = stream_dedup_exact(stream)
    q = (out.writeStream.format("memory").queryName("dd_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_d")).start())
    try:
        q.processAllAvailable()
        rows1 = spark.sql("SELECT * FROM dd_stream").collect()
        assert sorted({r["text"] for r in rows1}) == ["alpha text",
                                                      "beta text"]
        assert len(rows1) == 2          # within-batch dup also suppressed
        # batch 2: cross-batch duplicate + a new text
        write_wave("w2", [("c", "alpha text"), ("d", "gamma text")])
        q.processAllAvailable()
        rows2 = spark.sql("SELECT * FROM dd_stream").collect()
        assert sorted({r["text"] for r in rows2}) == [
            "alpha text", "beta text", "gamma text"]
        assert len(rows2) == 3          # 'c' was suppressed by state
        emitted = {r["doc_id"] for r in rows2}
        assert "c" not in emitted and "d" in emitted
    finally:
        q.stop()


def test_stream_dedup_timeout_expires_and_readmits(spark, tmp_path):
    """The ProcessingTimeTimeout arm: an idle hash's state expires after
    the timeout, so a later duplicate is re-admitted (the documented
    bounded-state trade); a fresh-in-window duplicate stays suppressed.

    NOTE: with ProcessingTimeTimeout Spark keeps running no-data
    state-cleanup batches, so processAllAvailable never goes idle —
    the test polls the memory sink under a fixed trigger instead."""
    import datetime as dt
    import os
    import time

    from tbl_spark.streaming import stream_dedup_exact

    timeout_s = 5
    inbox = str(tmp_path / "to_inbox")
    os.makedirs(inbox)
    ddl = "doc_id string, text string"

    def write_wave(name, rows):
        spark.createDataFrame(rows, ddl).coalesce(1) \
            .write.mode("overwrite").parquet(f"{inbox}/{name}")

    def wait_until(done, what, limit_s=90):
        for _ in range(limit_s * 2):
            if done():
                return
            time.sleep(0.5)
        raise AssertionError(f"{what} never happened")

    def wait_count(n):
        wait_until(lambda: spark.sql("SELECT count(*) FROM to_stream")
                   .collect()[0][0] >= n, f"sink reaching {n} rows")

    def started(progress):
        """Wall-clock start of a progress record's trigger."""
        return dt.datetime.fromisoformat(progress["timestamp"]).timestamp()

    # a warm-up row starts the query, so worker start-up in the first
    # batch does not use up the alpha state's window
    write_wave("w0", [("w", "warm-up")])
    stream = (spark.readStream.schema(ddl)
              .option("pathGlobFilter", "*.parquet")
              .option("recursiveFileLookup", "true").parquet(inbox))
    out = stream_dedup_exact(stream, timeout_minutes=timeout_s / 60)
    # one state partition: a batch of the session's 16 runs ~2 s, and
    # no-data batches run back to back, so new data waits about that
    # long before its own batch; the query keeps the value it starts with
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        q = (out.writeStream.format("memory").queryName("to_stream")
             .outputMode("append")
             .trigger(processingTime="500 milliseconds")
             .option("checkpointLocation", str(tmp_path / "ckpt_t"))
             .start())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
    try:
        wait_count(1)
        t0 = time.monotonic()
        write_wave("w1", [("a", "alpha")])
        wait_count(2)
        # in-window duplicate suppressed; the marker row proves the
        # batch was processed
        write_wave("w2", [("b", "alpha"), ("m1", "marker one")])
        wait_count(3)
        w2_seen = time.time()
        # alpha's state clock started after t0, and every batch up to
        # w2's started before now, so within timeout_s of t0 none of them
        # can have expired it. On a heavily loaded host w2's batch can
        # land after the expiry, and re-admission is then the CORRECT
        # behavior, so suppression is asserted only inside the window.
        in_window = time.monotonic() - t0 < timeout_s
        ids = {r["doc_id"] for r in
               spark.sql("SELECT * FROM to_stream").collect()}
        assert "m1" in ids
        if in_window:
            assert "b" not in ids
        # w2's batch reset alpha's timeout and started before w2_seen, so
        # the first batch to start timeout_s after w2_seen expires it
        wait_until(lambda: q.lastProgress is not None
                   and started(q.lastProgress) > w2_seen + timeout_s,
                   "a batch after the alpha state's expiry")
        write_wave("w3", [("e", "alpha"), ("m2", "marker two")])
        wait_count(5)
        rows = spark.sql("SELECT * FROM to_stream").collect()
        ids = {r["doc_id"] for r in rows}
        assert "e" in ids and "m2" in ids
        if in_window:
            assert "b" not in ids
            assert len([r for r in rows
                        if r["text"] == "alpha"]) == 2
    finally:
        q.stop()
