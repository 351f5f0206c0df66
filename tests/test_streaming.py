"""Structured Streaming: windowed agg parity with batch + foreachBatch linkage."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from entity_linking_spark.streaming import jobs

SF_DIR = "/root/testdata/sf0.001"


def run_stream_to_memory(
    spark,
    source_parquet,
    schema,
    transform,
    table_name,
    output_mode="complete",
    max_files_per_trigger=4,
):
    """readStream(parquet) -> transform -> in-memory sink, availableNow:
    a bounded run of the real streaming engine.
    ``output_mode='append'`` + ``max_files_per_trigger=1`` turns each
    source file into its own micro-batch, which is how the late-data /
    watermark-drop semantics are exercised deterministically (the file
    source orders batches by modification time)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_parquet)
    )
    return (
        transform(stream)
        .writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def test_stream_windowed_counts_matches_batch(spark, tmp_path):
    import shutil

    src_dir = tmp_path / "events_src"
    src_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "part-0.parquet")
    events_schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
    q = run_stream_to_memory(
        spark,
        str(src_dir),
        events_schema,
        lambda s: jobs.streaming_mention_counts(s),
        "stream_counts_t",
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): r.n
        for r in spark.sql("SELECT * FROM stream_counts_t").collect()
    }
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:00").alias("ws"), "event_type", "n"
        )
        .collect()
    )
    want = {(r.ws, r.event_type): r.n for r in batch}
    assert got == want


def test_foreachbatch_incremental_linkage(spark, tmp_path):
    from entity_linking_spark import schema as S

    fx_docs = S.synth_documents(n_docs=60, n_entities=30)
    kb = S.synth_kb(30)
    aliases = spark.createDataFrame(S.kb_to_aliases(kb), schema=S.ALIASES_SCHEMA)
    alias_list = [a for al in kb["alias"] for a in al]

    src = str(tmp_path / "docs_src")
    spark.createDataFrame(fx_docs, schema=S.DOCUMENTS_SCHEMA).select(
        "url", "text"
    ).write.parquet(src)

    sink = str(tmp_path / "cand_sink")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("url string, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    q = jobs.streaming_link_microbatch(spark, stream, aliases, sink, ckpt)
    q.awaitTermination(180)

    got = spark.read.parquet(sink)
    assert got.count() > 0
    assert set(got.columns) == {"url", "mention", "subject_id", "n_ids", "batch_id"}
    # same candidates as the batch path over the same docs
    from entity_linking_spark.operators import blocking

    docs = spark.createDataFrame(fx_docs, schema=S.DOCUMENTS_SCHEMA)
    batch_cands = blocking.candidate_entities(
        blocking.detect_mentions(docs, alias_list), blocking.AliasDictionary(aliases)
    )
    stream_set = {
        (r.url, r.mention, r.subject_id)
        for r in got.select("url", "mention", "subject_id").collect()
    }
    batch_set = {
        (r.url, r.mention, r.subject_id)
        for r in batch_cands.select("url", "mention", "subject_id").collect()
    }
    assert stream_set == batch_set


def test_streaming_dedup_first_seen(spark, tmp_path):
    """Stateful streaming exact-dedup: only the first doc per content
    hash survives, across micro-batches (applyInPandasWithState)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from entity_linking_spark.streaming import jobs

    src = str(tmp_path / "stream_src")
    # two files -> maxFilesPerTrigger=1 gives two micro-batches; the dup
    # of "same one" arrives in the SECOND batch so state must carry over
    spark.createDataFrame(
        pd.DataFrame({"url": ["u1", "u2"], "text": ["same one", "other"]})
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        pd.DataFrame({"url": ["u3"], "text": ["same one"]})
    ).coalesce(1).write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema("url string, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        jobs.streaming_dedup_first_seen(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM dedup_stream").collect()
    by_url = {r.url for r in rows}
    # exactly one survivor per distinct text; u3's content was seen before
    assert len(rows) == 2
    assert "u2" in by_url
    assert by_url & {"u1", "u3"} and not {"u1", "u3"} <= by_url


def test_dedup_group_keeper_spans_chunks():
    """The keeper is min(id) across ALL Arrow chunks of a group, and the
    in-batch dupe count covers every chunk (regression: first-chunk-only
    keeper was chunk-order dependent)."""
    import pandas as pd

    from entity_linking_spark.streaming.jobs import _first_seen_of_group

    chunks = [
        pd.DataFrame({"url": ["u9", "u5"]}),
        pd.DataFrame({"url": []}),            # empty chunk tolerated
        pd.DataFrame({"url": ["u1", "u7"]}),  # true min in a LATER chunk
    ]
    first_id, n = _first_seen_of_group(0, iter(chunks), "url")
    assert first_id == "u1" and n == 4
    # group already seen in a prior batch: nothing emitted, count still up
    first_id, n = _first_seen_of_group(3, iter(chunks), "url")
    assert first_id is None and n == 4


def test_watermark_drops_late_data(spark, tmp_path):
    """True late-data semantics, which complete-mode tests cannot show:
    in append mode an event arriving AFTER its window was finalized and
    evicted (below the watermark) must be dropped, never re-emitted.
    Four source files become four micro-batches (maxFilesPerTrigger=1,
    mtime-ordered):
      batch 0: five 10:10 events + a 20:00 event -> watermark 18:00
      batch 1: a 21:00 event -> the closed 10:00 window EMITS (n=5),
               state evicted, watermark 19:00
      batch 2: a LATE 10:20 event -> dropped by the watermark (the
               numRowsDroppedByWatermark state metric records it)
      batch 3: a 23:59 event (lets batch 2's bookkeeping commit)
    """
    import datetime
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import Row

    src = tmp_path / "late_src"
    src.mkdir()

    def write(name, rows, mtime):
        p = str(src / name)
        spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
            p + ".tmp"
        )
        part = glob.glob(p + ".tmp/part-*.parquet")[0]
        shutil.move(part, p)
        shutil.rmtree(p + ".tmp")
        os.utime(p, (mtime, mtime))

    def ev(ts, et="x"):
        return Row(
            ts=datetime.datetime.fromisoformat(ts), event_type=et, value=1.0
        )

    t0 = time.time() - 1000
    write(
        "a.parquet",
        [ev("2024-01-01 10:10")] * 5 + [ev("2024-01-01 20:00", "adv")],
        t0,
    )
    write("b.parquet", [ev("2024-01-01 21:00", "adv")], t0 + 100)
    write("c.parquet", [ev("2024-01-01 10:20")], t0 + 200)  # LATE
    write("d.parquet", [ev("2024-01-01 23:59", "adv")], t0 + 300)

    schema = "ts timestamp, event_type string, value double"
    q = run_stream_to_memory(
        spark,
        str(src),
        schema,
        lambda s: jobs.streaming_mention_counts(s),
        "late_counts_t",
        output_mode="append",
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    rows = spark.sql("SELECT * FROM late_counts_t").collect()
    got = {(r.window_start, r.event_type): r.n for r in rows}
    assert got[("2024-01-01 10:00", "x")] == 5  # late event NOT re-counted
    assert dropped == 1  # and the engine metric shows exactly one drop
    # no duplicate emission of the 10:00 window
    assert len([r for r in rows if r.window_start == "2024-01-01 10:00"]) == 1


def test_foreachbatch_linkage_join_path_parity(spark, tmp_path, monkeypatch):
    """ALIAS_BROADCAST_MAX_ROWS=0 (beyond-broadcast join mention path) through the
    REAL streaming engine must produce the same candidate set as the
    batch trie path over the same corpus — S11 keeps serving when the
    KB outgrows any driver collect."""
    from entity_linking_spark import schema as S
    from entity_linking_spark.operators import blocking

    fx_docs = S.synth_documents(n_docs=60, n_entities=30)
    kb = S.synth_kb(30)
    aliases = spark.createDataFrame(S.kb_to_aliases(kb), schema=S.ALIASES_SCHEMA)
    alias_list = [a for al in kb["alias"] for a in al]

    src = str(tmp_path / "docs_src_join")
    spark.createDataFrame(fx_docs, schema=S.DOCUMENTS_SCHEMA).select(
        "url", "text"
    ).write.parquet(src)
    sink = str(tmp_path / "cand_sink_join")
    ckpt = str(tmp_path / "ckpt_join")
    stream = (
        spark.readStream.schema("url string, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    cached_before = len(spark.sparkContext._jsc.getPersistentRDDs())
    monkeypatch.setattr(blocking, "ALIAS_BROADCAST_MAX_ROWS", 0)
    q = jobs.streaming_link_microbatch(spark, stream, aliases, sink, ckpt)
    q.awaitTermination(180)

    # the batch-scoped token caches must be released per micro-batch; only
    # the once-persisted alias table may remain for the stream's lifetime
    # (a long-running service must not grow storage by one entry per batch)
    cached_after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert cached_after - cached_before <= 1, (cached_before, cached_after)

    got = spark.read.parquet(sink)
    docs = spark.createDataFrame(fx_docs, schema=S.DOCUMENTS_SCHEMA)
    batch_cands = blocking.candidate_entities(
        blocking.detect_mentions(docs, alias_list), blocking.AliasDictionary(aliases)
    )
    stream_set = {
        (r.url, r.mention, r.subject_id)
        for r in got.select("url", "mention", "subject_id").collect()
    }
    batch_set = {
        (r.url, r.mention, r.subject_id)
        for r in batch_cands.select("url", "mention", "subject_id").collect()
    }
    assert stream_set == batch_set and len(stream_set) > 0
