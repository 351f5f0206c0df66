"""Deterministic sequence packing: concatenate-and-split corpus assembly.

Beyond-reference operator: the final tokenize->pack step of GPT-style
training pipelines (Brown et al. 2020 pack documents into 2048-token
contexts; The Pile / MassiveText / Dolma all ship a variant) — order
the corpus deterministically, concatenate every document's token
stream, and cut it every ``seq_len`` tokens. Documents cross sequence
boundaries (the published convention; boundaries are marked for the
loss mask downstream), so packing is exact arithmetic over token
offsets, not bin packing.

Never rand(): the corpus order is xxhash64(id, seed) — the standard
"deterministic shuffle" of corpus assembly. Re-running the job at any
parallelism on any input partitioning emits the SAME packing (the
module-wide determinism rule; operators/mixing.py ships the same
stance for the weighting step that precedes this one).

Scale shape — the global prefix sum is the whole problem, and a naive
``Window.orderBy(...)`` with no partition key would funnel 100 TB
through ONE task. ``runtime.global_offsets`` is the package's one
two-pass prefix sum: over the NARROW (okey, id, n_toks) projection it
gives every document its absolute [start, start + n_toks) token span,
with only one row per bucket on the driver.

Mapping spans to sequences is then pure whole-stage-codegen column
arithmetic (floor-divide + one bounded explode over the sequences a
document touches). The document text itself rides through NO exchange:
packing works on the narrow projection and the output is a slice map
(seq_id, id, slice_start, slice_len, seq_off) that consumers join back
to the corpus — the same text-stays-out-of-the-exchange design the
curation chain uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from entity_linking_spark import runtime


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    drop_incomplete_last: bool = True,
    cache_registry: runtime.CacheScope | None = None,
) -> DataFrame:
    """Pack the corpus into consecutive ``seq_len``-token sequences.

    Documents are ordered by ``xxhash64(id, seed)`` (ties broken by id;
    ids must be unique), their single-space token streams concatenated,
    and the stream cut every ``seq_len`` tokens. Tokens are
    whitespace-split words (``n_toks = count(' ') + 1``, the repo-wide
    single-space convention of the dedup/window-hash operators).

    Returns the slice map, one row per (document, sequence) overlap:

    - ``seq_id``   0-based sequence ordinal (long)
    - ``id_col``   the document id (source type preserved)
    - ``slice_start`` first token of the slice WITHIN the document
    - ``slice_len``   tokens contributed by this document
    - ``seq_off``     offset of the slice WITHIN the sequence

    Every sequence's slices concatenate (by seq_off) to exactly
    ``seq_len`` tokens; ``drop_incomplete_last=True`` (the published
    convention) drops the final ragged sequence, ``False`` keeps it.

    Exchanges: one narrow hash-exchange on the prefix-sum bucket id
    (the window's); the per-bucket offsets ride the plan as literals.
    The only driver-side data is one row per bucket, at most
    ``spark.sql.shuffle.partitions`` of them. Null-text rows are dropped
    (they carry no tokens); an empty string is one empty token,
    matching ``split('', ' ')``. The narrow projection (3 columns, never
    the text) is persisted because the prefix sum's two driver jobs and
    the output plan all read it; a dropped cache changes no answer.
    ``cache_registry``: when given, the pinned projection is appended so
    the caller can release it after its action.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    narrow = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.xxhash64(F.col(id_col), F.lit(seed)).alias("_okey"),
            (
                F.length(F.col(text_col))
                - F.length(F.regexp_replace(F.col(text_col), " ", ""))
                + 1
            ).cast("long").alias("_nt"),
        )
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(narrow)
    spans, total_tokens = runtime.global_offsets(narrow, ["_okey", "_id"], F.col("_nt"))
    spans = spans.withColumnRenamed("_off", "_start")
    n_seqs = (
        total_tokens // seq_len
        if drop_incomplete_last
        else -(-total_tokens // seq_len)
    )
    # integer `div`, never floor(double/): token offsets are exact longs
    # and double division would silently round above 2^53 total tokens
    first_seq = F.expr(f"_start div {seq_len}")
    last_seq = F.expr(f"(_start + _nt - 1) div {seq_len}")
    out = (
        spans.withColumn(
            "seq_id", F.explode(F.sequence(first_seq, last_seq))
        )
        .where(F.col("seq_id") < F.lit(n_seqs))
        .select(
            "seq_id",
            F.col("_id").alias(id_col),
            F.greatest(
                F.lit(0).cast("long"), F.col("seq_id") * seq_len - F.col("_start")
            ).cast("int").alias("slice_start"),
            (
                F.least(
                    F.col("_nt"), (F.col("seq_id") + 1) * seq_len - F.col("_start")
                )
                - F.greatest(
                    F.lit(0).cast("long"),
                    F.col("seq_id") * seq_len - F.col("_start"),
                )
            ).cast("int").alias("slice_len"),
            F.greatest(
                F.lit(0).cast("long"), F.col("_start") - F.col("seq_id") * seq_len
            ).cast("int").alias("seq_off"),
        )
    )
    return out


def packed_sequence_text(
    df: DataFrame,
    packing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize packed sequences as text: join the slice map back to
    the corpus, slice each document's tokens, and stitch per sequence.

    Returns (seq_id, text, n_docs). One join + one aggregate — meant
    for tests, samples, and small exports; a 100 TB training run feeds
    the slice map to its data loader instead of materializing strings.
    """
    toks = df.select(
        F.col(id_col).alias("_jid"), F.split(F.col(text_col), " ").alias("_t")
    )
    sliced = packing.join(
        toks, packing[id_col].cast("string") == toks["_jid"].cast("string")
    ).select(
        "seq_id",
        "seq_off",
        F.concat_ws(
            " ", F.slice(F.col("_t"), F.col("slice_start") + 1, F.col("slice_len"))
        ).alias("_piece"),
    )
    return (
        sliced.groupBy("seq_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seq_off", "_piece"))
                    ),
                    lambda s: s["_piece"],
                ),
                " ",
            ).alias("text"),
            F.count("*").alias("n_docs"),
        )
    )
