"""N-gram language-model perplexity scoring for corpus curation.

Beyond-reference operator (the reference repo has no corpus-curation
stage): the CCNet-style quality pass of public LLM-data pipelines
(Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") — score every document's perplexity
under a small n-gram language model trained on a trusted slice, then
keep the low-perplexity head/middle of the distribution and drop the
gibberish tail. CCNet uses a KenLM 5-gram; the analog here is an
interpolated add-k bigram LM whose every number is exact count
arithmetic, so a DuckDB oracle can replay training AND scoring from
first principles (the gate row does).

Model shape — deliberately the shape of a PRUNED real LM artifact:
  - vocabulary capped at the top ``vocab_size`` tokens by count
    (deterministic ties: count DESC, token ASC); everything else maps
    to the ``<unk>`` sentinel, exactly like an ARPA model's cutoff;
  - bigram table capped at the top ``bigram_size`` pairs by count
    (ties: count DESC, prev ASC, cur ASC) — a missing bigram scores
    with c2 = 0 through the same smoothing formula, which is what
    count-pruning an interpolated model means;
  - P1(w)   = (c1(w) + k) / (N + k * V')          (add-k unigram)
  - P2(w|p) = (c2(p,w) + k) / (c1(p) + k * V')    (add-k bigram)
  - p(token) = lam * P2 + (1 - lam) * P1, first token P1 only;
    ppl(doc) = exp(mean(-ln p)) over the doc's single-space-split
    lowered tokens. V' = |vocab| + 1 (the unk class), N = total
    trained tokens.

Scale design: the trained model is a BOUNDED artifact (vocab_size +
bigram_size + 1 rows, independent of corpus size) — scoring therefore
broadcasts every model table and runs as one whole-stage-codegen span
per token: scan -> Generate (in-row (prev, cur) pair construction, no
window, no self-join) -> broadcast hash joins -> partial per-doc
aggregation. The only exchange in the scoring plan is the final
groupBy(doc) — and because a document's token rows never leave the
scan partition that generated them, map-side partial aggregation
collapses them before the exchange, which carries ~one row per DOC,
not per token. Training is two corpus passes of map-side-combined
hash aggregates (raw counts -> vocab; mapped unigram + bigram counts)
plus two bounded TakeOrderedAndProject top-k selections; the corpus
is never joined against itself and no key can run hot on the build
side (the build sides ARE the bounded model tables).

Counts stay exact in doubles: every count < 2^53 by the time it is
divided (a 100 TB corpus holds ~2^47 tokens), so Spark and DuckDB
compute bit-identical probabilities from identical integers.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, functions as F

from entity_linking_spark import runtime

UNK = "<unk>"
# train_bigram_lm's add-k smoothing and bigram interpolation weight
_K = 1.0
_LAM = 0.75


class NgramLM(NamedTuple):
    """A trained bigram LM: three bounded DataFrames + the smoothing
    constants they were trained for. ``totals`` is one row
    (n_tokens, v_eff). Persist the tables with ``df.write.parquet`` to
    ship the model; all three broadcast at score time."""

    vocab: DataFrame      # (token)
    unigrams: DataFrame   # (token, c1) over vocab ∪ {<unk>}
    bigrams: DataFrame    # (prev, cur, c2), count-pruned to bigram_size
    totals: DataFrame     # (n_tokens, v_eff) — one row
    k: float
    lam: float


def _pair_col(text_col: str) -> Column:
    """Array of (cur, prev) structs over the lowered single-space token
    split — prev is NULL for the first token. Built in-row (one
    whole-stage-codegen span), so no window shuffle and no self-join is
    ever needed to see adjacent-token pairs.

    Formulated as zip_with(tokens, shift(tokens)) rather than a
    transform whose lambda indexes back into the array: element_at(arr,
    i) inside the lambda re-evaluated the split expression PER ELEMENT
    — O(len^2) token materializations per document (measured: ~117 CPU
    s for a 270k-token corpus, gone after this change). Here the split
    is evaluated O(1) times per row and the pairing is a linear zip."""
    arr = F.split(F.lower(F.col(text_col)), " ")
    prev = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
    )
    return F.zip_with(
        arr,
        prev,
        lambda c, p: F.struct(c.alias("cur"), p.alias("prev")),
    )


def _map_to_vocab(pairs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Fold OOV tokens to UNK via two broadcast left joins (cur, prev).
    The vocab side is bounded by vocab_size — always broadcastable."""
    vb = F.broadcast(vocab)
    return (
        pairs.join(
            vb.select(F.col("token").alias("cur"), F.lit(True).alias("_cin")),
            "cur",
            "left",
        )
        .join(
            vb.select(F.col("token").alias("prev"), F.lit(True).alias("_pin")),
            "prev",
            "left",
        )
        .withColumn(
            "cur_m", F.when(F.col("_cin").isNotNull(), F.col("cur")).otherwise(F.lit(UNK))
        )
        .withColumn(
            "prev_m",
            F.when(F.col("prev").isNull(), F.lit(None).cast("string"))
            .when(F.col("_pin").isNotNull(), F.col("prev"))
            .otherwise(F.lit(UNK)),
        )
        .drop("_cin", "_pin")
    )


def _bounded_topk(df: DataFrame, k: int, order_cols: list, n_buckets: int = 64) -> DataFrame:
    """Global deterministic top-k with a BOUNDED driver merge.

    orderBy().limit(k) compiles to TakeOrderedAndProject — per-partition
    executor top-k, then a DRIVER merge of up to partitions * k rows: a
    thousand-partition corpus hands the driver gigabytes during the
    merge. A narrow coalesce to ``n_buckets`` first caps the merge at
    n_buckets * k rows WITHOUT a shuffle (coalesce merges partitions in
    place; an earlier bucket-window formulation paid a full exchange of
    the input for the same bound — measured +20% on 1M-doc training).
    Each merged partition's executor-side top-k sees the same rows
    regardless of layout, so the result is partitioning-independent."""
    order = [c.desc() if d == "desc" else c.asc() for d, c in order_cols]
    return df.coalesce(n_buckets).orderBy(*order).limit(k)


def train_bigram_lm(
    docs: DataFrame,
    vocab_size: int = 50_000,
    bigram_size: int = 500_000,
) -> NgramLM:
    """Train the pruned interpolated bigram LM (add-1 smoothing, bigram
    weight lam = 0.75) on the ``text`` column of ``docs``.

    ONE corpus pass: the raw (prev, cur) pair counts are aggregated
    once (map-side-combined hash aggregate, so the shuffle carries the
    distinct-bigram vocabulary, not the corpus), and everything else —
    raw unigram counts (every token occurs exactly once as ``cur``, so
    c1_raw(w) = sum over prev of the pair counts), the vocabulary
    top-k, the UNK-folded unigram/bigram tables — derives from that
    bounded table without touching the corpus again. (The previous
    formulation re-exploded the corpus THREE times: vocab pass, mapped
    unigram pass, mapped bigram pass.) The raw pair table is persisted
    across its two consumers and released before returning.

    Top-k selections go through a bucketed per-partition prefilter
    (``_bounded_topk``) so the driver-side merge stays O(buckets * k)
    at any partition count. Deterministic: ties at both caps break on
    the token strings, as before.

    The finished model tables are collected (bounded by
    vocab_size/bigram_size rows BY CONSTRUCTION) and rebuilt as local
    DataFrames, so every downstream broadcast/score plan embeds data,
    not the training lineage — otherwise each action over a scoring
    plan (broadcast builds, range-partition sampling, persists) silently
    re-runs training subtrees, and the vocab pass alone was being
    recomputed ~5x per scoring query.

    Documents whose ``text`` is NULL are skipped. A literal
    ``<unk>`` corpus token is folded into the UNK class like any OOV
    token (the sentinel is excluded from the vocabulary), so the model
    never confuses it with a real type.
    """
    if vocab_size < 1 or bigram_size < 0:
        raise ValueError("vocab_size must be >= 1 and bigram_size >= 0")
    from pyspark import StorageLevel

    pairs = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(_pair_col("text")).alias("pc"))
        .select(F.col("pc.cur").alias("cur"), F.col("pc.prev").alias("prev"))
    )
    # the ONE corpus pass; consumed by unigram derivation AND the mapped
    # bigram table, so pin it (narrow rows, bounded by distinct pairs;
    # MEMORY_AND_DISK spills at open-web vocabulary scale)
    bg_raw = (
        pairs.groupBy("prev", "cur")
        .agg(F.count("*").alias("_c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        uni_raw = bg_raw.groupBy(F.col("cur").alias("token")).agg(
            F.sum("_c").alias("c")
        )
        vocab = _bounded_topk(
            uni_raw.where(F.col("token") != UNK),
            vocab_size,
            [("desc", F.col("c")), ("asc", F.col("token"))],
        ).select("token")
        spark = docs.sparkSession
        # collect the vocabulary FIRST (bounded by vocab_size) and build the
        # mapped tables against the LOCAL copy: otherwise every broadcast
        # build below re-runs the vocab top-k subtree — with a local build
        # side, the unigram and bigram jobs each read only the cached pair
        # table (one job apiece, no recursive lineage)
        vocab_rows = vocab.collect()
        vocab = spark.createDataFrame(vocab_rows, schema="token string")
        vb = F.broadcast(vocab)
        # UNK-fold the bounded tables instead of the corpus: identical
        # counts (the fold is a sum over the same occurrences), no second
        # corpus explode
        unigrams = (
            uni_raw.join(
                vb.select(F.col("token"), F.lit(True).alias("_in")), "token", "left"
            )
            .select(
                F.when(F.col("_in").isNotNull(), F.col("token"))
                .otherwise(F.lit(UNK))
                .alias("token"),
                F.col("c"),
            )
            .groupBy("token")
            .agg(F.sum("c").alias("c1"))
        )
        bigrams = _bounded_topk(
            bg_raw.where(F.col("prev").isNotNull())
            .join(
                vb.select(F.col("token").alias("cur"), F.lit(True).alias("_cin")),
                "cur",
                "left",
            )
            .join(
                vb.select(F.col("token").alias("prev"), F.lit(True).alias("_pin")),
                "prev",
                "left",
            )
            .select(
                F.when(F.col("_pin").isNotNull(), F.col("prev"))
                .otherwise(F.lit(UNK))
                .alias("prev"),
                F.when(F.col("_cin").isNotNull(), F.col("cur"))
                .otherwise(F.lit(UNK))
                .alias("cur"),
                F.col("_c"),
            )
            .groupBy("prev", "cur")
            .agg(F.sum("_c").alias("c2")),
            bigram_size,
            [("desc", F.col("c2")), ("asc", F.col("prev")), ("asc", F.col("cur"))],
        )
        uni_rows = unigrams.collect()
        lu = spark.createDataFrame(uni_rows, schema="token string, c1 long")
        lb = spark.createDataFrame(
            bigrams.collect(), schema="prev string, cur string, c2 long"
        )
        # totals derive exactly from the collected tables — no extra job
        # (n_tokens = sum of the unigram counts; both exact integers)
        n_tokens = sum(r.c1 for r in uni_rows) if uni_rows else None
        lt = spark.createDataFrame(
            [(n_tokens, len(vocab_rows) + 1)], schema="n_tokens long, v_eff long"
        )
    finally:
        bg_raw.unpersist(False)
    return NgramLM(vocab, lu, lb, lt, _K, _LAM)


def perplexity(docs: DataFrame, lm: NgramLM) -> DataFrame:
    """(doc_id, n_toks, ppl): per-document perplexity of ``docs``
    (doc_id, text) under ``lm``.

    ppl is rounded to 4 decimals (the package's engine-neutral double
    convention). The plan broadcasts all model tables; the single
    exchange is the per-doc aggregation, collapsed map-side to ~one
    row per document before it ships. Docs with NULL text are dropped
    (score what exists).
    """
    k, lam = F.lit(lm.k), F.lit(lm.lam)
    toks = (
        docs.where(F.col("text").isNotNull())
        .select(F.col("doc_id").alias("id"), F.explode(_pair_col("text")).alias("pc"))
        .select("id", F.col("pc.cur").alias("cur"), F.col("pc.prev").alias("prev"))
    )
    tm = _map_to_vocab(toks, lm.vocab)
    uni = F.broadcast(lm.unigrams)
    scored = (
        tm.join(
            uni.select(F.col("token").alias("cur_m"), F.col("c1").alias("_c1_cur")),
            "cur_m",
            "left",
        )
        .join(
            uni.select(F.col("token").alias("prev_m"), F.col("c1").alias("_c1_prev")),
            "prev_m",
            "left",
        )
        .join(
            F.broadcast(lm.bigrams).select(
                F.col("prev").alias("prev_m"),
                F.col("cur").alias("cur_m"),
                F.col("c2").alias("_c2"),
            ),
            ["prev_m", "cur_m"],
            "left",
        )
        .crossJoin(F.broadcast(lm.totals))
    )
    p1 = (F.coalesce(F.col("_c1_cur"), F.lit(0)) + k) / (
        F.col("n_tokens") + k * F.col("v_eff")
    )
    p2 = (F.coalesce(F.col("_c2"), F.lit(0)) + k) / (
        F.coalesce(F.col("_c1_prev"), F.lit(0)) + k * F.col("v_eff")
    )
    p = F.when(F.col("prev_m").isNull(), p1).otherwise(lam * p2 + (1 - lam) * p1)
    return (
        scored.select("id", (-F.log(p)).alias("_nll"))
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_toks"),
            F.round(F.exp(F.avg("_nll")), 4).alias("ppl"),
        )
    )


def perplexity_buckets(
    docs: DataFrame,
    lm: NgramLM,
    head_frac: float = 1.0 / 3.0,
    middle_frac: float = 1.0 / 3.0,
    cache_registry: runtime.CacheScope | None = None,
) -> DataFrame:
    """(doc_id, n_toks, ppl, bucket): CCNet's actual gate shape — rank
    every document of ``docs`` (doc_id, text) by perplexity and split
    the corpus into 'head' (lowest-ppl ``head_frac``), 'middle' (next
    ``middle_frac``) and 'tail' buckets (Wenzek et al. 2020 §4.4 keep
    head+middle per language). Fractions
    are of the SCORED corpus, exact by global rank, ties broken on
    (ppl, doc_id) so the split is total-order deterministic.

    Scale design: a naive percent_rank() over a global ORDER BY ppl
    window pulls the whole corpus into ONE task — the classic
    scale-killer. The rank is instead ``runtime.global_offsets`` (the
    package's one two-pass prefix sum, shared with pack_sequences) with
    weight 1 over the narrow (id, n_toks, ppl) projection: rank = the
    count of documents before it in (ppl, id) order + 1. Nothing wide
    ever reaches one task, and document text never enters the exchange.

    The scored projection is persisted: the prefix sum's two driver
    jobs and the output plan would otherwise each re-run the whole
    scoring plan (explode + broadcast probes over the corpus).
    ``cache_registry``: when given, the pinned projection is appended
    so the caller can release it after its action; a released or
    dropped cache changes no bucket."""
    if not (0.0 <= head_frac and 0.0 <= middle_frac
            and head_frac + middle_frac <= 1.0):
        raise ValueError(
            f"head_frac/middle_frac must be >= 0 and sum <= 1, got "
            f"{head_frac!r}/{middle_frac!r}"
        )
    scored = perplexity(docs, lm).persist()
    if cache_registry is not None:
        cache_registry.append(scored)
    ranked, n_docs = runtime.global_offsets(scored, ["ppl", "doc_id"], F.lit(1))
    cut1, cut2 = int(n_docs * head_frac), int(n_docs * (head_frac + middle_frac))
    rank = F.col("_off") + 1
    bucket = (
        F.when(rank <= cut1, "head")
        .when(rank <= cut2, "middle")
        .otherwise("tail")
    )
    return ranked.withColumn("bucket", bucket).drop("_off")

