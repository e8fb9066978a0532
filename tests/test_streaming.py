"""Structured Streaming smoke tests: real streaming queries driven to
completion on static parquet via the memory sink."""

from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.streaming import events as sev


def _drain(spark, df, name, mode="append"):
    """Run a streaming DataFrame to completion into a memory sink and
    return the result table."""
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def test_windowed_counts_stream_matches_batch(spark, sf_dir):
    stream_result = _drain(
        spark, sev.windowed_counts(sev.stream_events(spark, sf_dir)),
        "wc_smoke_test", mode="complete",
    )
    batch = sev.windowed_counts(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    )
    s = {
        (r.window_start, r.event_type): (r.n, round(r.total_value, 6))
        for r in stream_result.collect()
    }
    b = {
        (r.window_start, r.event_type): (r.n, round(r.total_value, 6))
        for r in batch.collect()
    }
    assert s == b
    assert len(s) > 0


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join drains to the same pairs as the batch
    range join on the same parquet."""
    batch = sev.purchases_before_errors(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    )
    expect = {(r.user_id, r.error_id, r.purchase_ts) for r in batch.collect()}

    out = sev.purchases_before_errors(sev.stream_events(spark, sf_dir))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_smoke_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_id, r.error_id, r.purchase_ts)
        for r in spark.table("ssj_smoke_test").collect()
    }
    assert got == expect
    assert len(got) > 0


def test_stream_dedup_matches_batch(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark over a doubled event log drains to
    exactly the distinct event set (duplicates arrive well within the
    watermark horizon on a static drain)."""
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    dup_dir = str(tmp_path / "dup_events")
    # two identical files → every event arrives twice
    src.write.mode("overwrite").parquet(dup_dir)
    src.write.mode("append").parquet(dup_dir)

    expect_n = src.select("event_id").distinct().count()
    doubled = spark.read.parquet(dup_dir)
    assert doubled.count() == 2 * src.count()
    assert sev.dedup_events(doubled).count() == expect_n  # batch path

    stream = (
        spark.readStream.format("parquet")
        .schema(sev.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(dup_dir)
    )
    out = sev.dedup_events(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_smoke_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("dedup_smoke_test")
    assert got.count() == expect_n
    assert got.select("event_id").distinct().count() == expect_n


def test_stateful_sessionize_matches_batch_oracle(spark, sf_dir):
    """applyInPandasWithState session counts == the batch window query
    (plans/queries.sessionize) on the same data."""
    from dirt_hadoop_similarity_spark.plans.queries import QUERIES

    batch = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in QUERIES["sessionize"].fn(spark, sf_dir).collect()
    }

    stream = sev.stream_events(spark, sf_dir)
    out = sev.sessionize_stateful(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_smoke_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in spark.table("sess_smoke_test").collect()
    }
    assert got == batch


def test_stream_redaction_gate_equals_batch(spark, sf_dir):
    """PII redaction + classifier scoring are stateless, so the stream
    must produce byte-identical redacted text and logits to batch."""
    from dirt_hadoop_similarity_spark.operators import curation

    docs = (
        spark.readStream.format("parquet")
        .schema("doc_id long, text string, lang string, source string, "
                "n_chars long")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    streamed = _drain(
        spark, curation.redact_and_score(docs), "redact_eq_batch")
    batch = curation.redact_and_score(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))
    cols = ["doc_id", "text", "clf_logit", "clf_keep"]
    s = {r["doc_id"]: (r["text"], r["clf_logit"], r["clf_keep"])
         for r in streamed.select(*cols).collect()}
    b = {r["doc_id"]: (r["text"], r["clf_logit"], r["clf_keep"])
         for r in batch.select(*cols).collect()}
    assert s == b
    assert len(s) > 0
    assert any(v[2] for v in s.values()) and not all(v[2] for v in s.values())


def _time_split_events(spark, sf_dir, dest):
    """The two-file replay corpus (VERDICT r13 task 6): the events table
    split AT THE MEDIAN ts into two parquet files, so a
    maxFilesPerTrigger=1 drain spans two micro-batches with the
    watermark advancing between them, and nothing in file 2 is late."""
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    lo, hi = src.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2  # any interior cut works; both halves non-empty
    src.filter(F.col("ts") <= mid).coalesce(1).write.mode(
        "overwrite").parquet(f"{dest}/f1")
    src.filter(F.col("ts") > mid).coalesce(1).write.mode(
        "overwrite").parquet(f"{dest}/f2")
    import glob as g, shutil
    for i, sub in enumerate(("f1", "f2")):
        [p] = g.glob(f"{dest}/{sub}/part-*.parquet")
        shutil.move(p, f"{dest}/e{i}.parquet")
        shutil.rmtree(f"{dest}/{sub}")
    return src


def test_windowed_counts_two_file_replay_matches_batch(spark, sf_dir, tmp_path):
    """stream_windowed_counts' restart-shaped value pin: the SAME
    aggregation drained one file per micro-batch (state carried across
    batches, watermark advancing between them) must produce exactly the
    batch result — incremental window state composes, late-drop fires
    on nothing (the split is by time), and the final table is
    value-identical, not just row-count-identical."""
    d = str(tmp_path / "wc_replay")
    src = _time_split_events(spark, sf_dir, d)
    stream = (
        spark.readStream.format("parquet")
        .schema(sev.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(d)
    )
    agg = sev.windowed_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("wc_replay_pin")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    finally:
        q.stop()
    assert n_batches >= 2, "replay must span multiple micro-batches"
    s = {(r.window_start, r.event_type): (r.n, round(r.total_value, 6))
         for r in spark.table("wc_replay_pin").collect()}
    b = {(r.window_start, r.event_type): (r.n, round(r.total_value, 6))
         for r in sev.windowed_counts(src).collect()}
    assert s == b and len(s) > 0
