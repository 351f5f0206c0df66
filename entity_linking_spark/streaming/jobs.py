"""Structured Streaming surface.

The reference's only online surface is a synchronous Flask request loop
(entity_sort/el_service.py:72-105) — per request: lowercase, alias-dict
mention detection, candidate lookup, scoring, top-k. Its Spark-native
equivalent is a micro-batched stream: readStream over arriving documents
-> the same detect/score transformations via foreachBatch -> sink. The
reference has no watermarks/stateful operators (SURVEY §2.9), so the jobs
here are the canonical shapes a production deployment needs:

  streaming_mention_counts  windowed counts with watermark (late data)
  streaming_link_microbatch foreachBatch incremental linkage: each batch
                            of new pages is blocked + scored against the
                            already-linked corpus (the service loop, batched)

Both run with trigger(availableNow=True) in tests — bounded input, real
streaming engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from entity_linking_spark import runtime


def streaming_mention_counts(events: DataFrame) -> DataFrame:
    """Watermarked windowed counts: ``events`` per ``event_type`` in
    1-hour windows of ``ts``, with a 2-hour watermark (the streaming
    analog of plans/queries.stream_windowed_counts — same window
    semantics)."""
    # watermarks require TIMESTAMP (with zone); parquet sources often carry
    # TIMESTAMP_NTZ — cast defensively
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00").alias("window_start"),
            "event_type",
            "n",
        )
    )


def _first_seen_of_group(n_prior: int, pdf_iter, id_col: str):
    """(keeper_id | None, rows_in_batch) for one state group's chunks.

    A group larger than the Arrow batch cap arrives as MULTIPLE pandas
    chunks — the keeper must be min(id) across ALL of them, never just
    the first chunk (chunk order is not deterministic). Module-level so
    the multi-chunk contract is unit-testable without a streaming query.
    """
    first_id = None
    n_this_batch = 0
    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        n_this_batch += len(pdf)
        if n_prior == 0:
            chunk_min = pdf[id_col].min()
            if first_id is None or chunk_min < first_id:
                first_id = chunk_min
    return first_id, n_this_batch


def streaming_dedup_first_seen(docs_stream: DataFrame) -> DataFrame:
    """Stateful streaming exact-dedup: keep only the FIRST document
    (``url``) seen per content hash of ``text`` across all
    micro-batches.

    Custom stateful operator via applyInPandasWithState: state per
    content-hash group is a running count; a group's first arrival is
    emitted (keeper = min id across every Arrow chunk of the micro-batch)
    with the in-batch duplicate count, later arrivals are dropped and
    counted in state. This is the streaming face of operators/dedup.exact_dedup
    (training-data pipeline op): at 100 TB-ingest scale the state store
    holds one tiny record per distinct content hash, partitioned by the
    shuffle on the hash key — no global structure, no driver state.
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("content_hash", StringType()),
            StructField("url", StringType()),
            StructField("n_batch_dupes", LongType()),
        ]
    )
    state_schema = StructType([StructField("n_seen", LongType())])

    def dedup_fn(key, pdf_iter, state: GroupState):
        n_prior = state.get[0] if state.exists else 0
        first_id, n_this_batch = _first_seen_of_group(n_prior, pdf_iter, "url")
        state.update((n_prior + n_this_batch,))
        if first_id is not None:
            # n_batch_dupes: duplicates of the keeper within this first
            # micro-batch (later-batch dupes are counted in state only)
            yield pd.DataFrame(
                {
                    "content_hash": [key[0]],
                    "url": [first_id],
                    "n_batch_dupes": [n_this_batch - 1],
                }
            )

    hashed = docs_stream.select(
        F.md5(F.col("text")).alias("content_hash"), F.col("url")
    )
    return hashed.groupBy("content_hash").applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_link_microbatch(
    spark: SparkSession,
    new_docs_stream: DataFrame,
    aliases: DataFrame,
    sink_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """foreachBatch incremental linkage: per micro-batch, run mention
    detection + candidate generation on the new pages and append the
    candidate table (reference service loop, service_main.py:93-175,
    re-expressed as micro-batches).

    One ``blocking.AliasDictionary`` serves the stream's lifetime: the
    alias table is normalized and pinned once, outside the batch loop,
    and its size gates are decided once. A beyond-broadcast KB takes the
    join mention path per batch, so the streaming service keeps working
    when the KB no longer fits a driver collect; output is identical
    (stream-batch parity pytest covers both paths)."""
    from entity_linking_spark.operators import blocking

    dictionary = blocking.AliasDictionary(aliases)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_caches = runtime.CacheScope()
        try:
            mentions = dictionary.mentions(batch_df, cache_registry=batch_caches)
            cands = blocking.candidate_entities(mentions, dictionary)
            cands.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(sink_path)
        finally:
            # release the batch-scoped token cache eagerly: a long-running
            # stream must not accumulate one executor storage entry per
            # micro-batch while waiting on driver GC
            batch_caches.release()

    return (
        new_docs_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
