"""Quality-classifier scoring + importance sampling for corpus curation.

Beyond-reference operator (the reference repo has no corpus-curation
stage): the quality-classifier pass of public LLM-data pipelines —
GPT-3 (Brown et al. 2020, Appendix A) trains a classifier with
curated corpora as positives and raw Common Crawl as negatives, scores
every crawled document, and keeps documents by a score-biased Pareto
draw; PaLM, GLaM and LLaMA describe the same filter shape. GPT-3 uses
a fastText-style linear classifier; the analog here is a multinomial
Naive Bayes log-odds scorer whose every number is exact count
arithmetic, so a DuckDB oracle can replay training AND scoring from
first principles (the gate row does). NB over hashed/capped token
features IS the classical linear text classifier — the score is a
linear function of token counts, exactly fastText's model class with
count-derived instead of SGD-learned weights.

Model shape — the shape of a PRUNED real classifier artifact:
  - vocabulary capped at the top ``vocab_size`` tokens by total count
    (deterministic ties: count DESC, token ASC); everything else maps
    to the ``<unk>`` sentinel, exactly like fastText's hashing bucket;
  - per-class add-k token likelihoods over vocab ∪ {<unk>}:
      P(w|y) = (c_y(w) + k) / (N_y + k * V'),   V' = |vocab| + 1
  - per-document score = class-prior log odds + sum of per-token
    log-likelihood ratios:
      log_odds(d) = ln(D_pos / D_neg)
                  + sum_w  ln P(w|pos) - ln P(w|neg)
    plus the length-normalized ``mean_llr`` (the per-token margin,
    comparable across document lengths).

Scale design: the trained model is a BOUNDED artifact (vocab_size + 1
likelihood rows + one totals row, independent of corpus size) — scoring
broadcasts every model table and runs as one whole-stage-codegen span
per token: scan -> explode -> broadcast hash joins -> per-doc partial
aggregation. The only exchange in the scoring plan is the final
groupBy(doc), collapsed map-side to ~one row per document. Training is
two corpus passes of map-side-combined hash aggregates (raw counts ->
vocab; per-class mapped counts) plus one bounded TakeOrderedAndProject
top-k; the corpus is never joined against itself and the build sides
are always the bounded model tables. The Pareto keep decision is a
pure column expression on xxhash64 — deterministic across reruns and
partitionings (never rand()), the mixing/splitting convention of this
package.

Counts stay exact in doubles: every count < 2^53 by the time it is
divided (a 100 TB corpus holds ~2^47 tokens), so Spark and DuckDB
compute bit-identical probabilities from identical integers.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F

from entity_linking_spark import runtime

UNK = "<unk>"
# train_nb_quality materializes the model tables from this many corpus
# rows (parquet footer count) up
_MATERIALIZE_MIN_ROWS = 250_000
# pareto_keep's Pareto shape (GPT-3: 9)
_PARETO_ALPHA = 9.0


class NBQualityModel(NamedTuple):
    """A trained NB quality classifier: two bounded DataFrames + the
    smoothing constant. ``likelihoods`` is (token, c_pos, c_neg) over
    vocab ∪ {<unk>}; ``totals`` is one row (n_pos, n_neg, d_pos,
    d_neg, v_eff). Persist with ``df.write.parquet`` to ship the
    model; everything broadcasts at score time."""

    vocab: DataFrame        # (token)
    likelihoods: DataFrame  # (token, c_pos, c_neg)
    totals: DataFrame       # (n_pos, n_neg, d_pos, d_neg, v_eff) — one row
    k: float


def _tok_col(text_col: str):
    return F.split(F.lower(F.col(text_col)), " ")


def train_nb_quality(
    docs: DataFrame,
    vocab_size: int = 50_000,
) -> NBQualityModel:
    """Train the pruned NB quality model on labeled ``docs`` (label,
    text), with add-1 smoothing (k = 1).

    ``label`` must be boolean-coercible (true/1 = the curated
    "high quality" class, the GPT-3 positives). ONE token-explode
    corpus pass: raw per-(label, token) counts are aggregated once
    (map-side-combined, so the shuffle carries the per-class
    vocabulary, not the corpus) and both the vocab top-k and the
    UNK-folded likelihood table derive from that bounded table; the
    per-document class counts are one scan-only aggregate (labels
    column, no explode). Deterministic: vocab ties break on the token
    string.

    On large corpora the finished model tables — bounded at vocab_size
    / vocab_size+1 / 1 rows BY CONSTRUCTION — are collected and rebuilt
    as local DataFrames, so scoring plans embed data instead of
    training lineage (the lazy form re-runs the vocab pass once per
    broadcast build: ~4 redundant corpus passes per scoring query, the
    pathology train_bigram_lm had). The choice gates on corpus size
    from parquet footer metadata (no job): small corpora stay LAZY,
    because there the redundant in-job passes are cheaper than
    the extra collect jobs materialization costs (measured 1.3 s vs
    2.2 s at 5k docs), while at >= 250k rows the redundant corpus
    passes dominate and the bounded collects win; unknown-size inputs
    (in-memory fixtures) count as small.

    Documents with NULL ``text`` or NULL ``label`` are skipped. A
    literal ``<unk>`` corpus token folds into the UNK class like any OOV
    token (the sentinel is excluded from the vocabulary).
    BOTH classes must be non-empty — the priors and the negative-class
    denominator are meaningless otherwise; scoring a model trained on
    one class fails the job with Spark's ANSI DIVIDE_BY_ZERO (pinned
    by tests/test_classify.py) — loud, never a plausible number.
    """
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    from pyspark import StorageLevel

    est = runtime.input_rows(docs)
    materialize = est is not None and est >= _MATERIALIZE_MIN_ROWS

    base = docs.where(
        F.col("text").isNotNull() & F.col("label").isNotNull()
    ).select(
        F.col("label").cast("boolean").alias("lab"),
        F.explode(_tok_col("text")).alias("tok"),
    )
    # the ONE corpus explode; consumed by the vocab top-k AND the
    # folded likelihood table. Persisted only on the materialize path
    # (its consumers are separate collect jobs there, and the finally
    # below releases it); on the lazy path the raw aggregate appears
    # several times inside ONE scoring plan, where ReuseExchange
    # already computes it once — a persist would leak past the query.
    raw = base.groupBy("lab", "tok").agg(F.count("*").alias("_c"))
    if materialize:
        raw = raw.persist(StorageLevel.MEMORY_AND_DISK)
    vocab = (
        raw.where(F.col("tok") != UNK)
        .groupBy(F.col("tok").alias("token"))
        .agg(F.sum("_c").alias("c"))
        .orderBy(F.desc("c"), "token")
        .limit(vocab_size)
        .select("token")
    )
    spark = docs.sparkSession
    vocab_rows: list | None = None
    if materialize:
        vocab_rows = vocab.collect()
        vocab = spark.createDataFrame(vocab_rows, schema="token string")
    likelihoods = (
        raw.join(
            F.broadcast(vocab).select(
                F.col("token").alias("tok"), F.lit(True).alias("_in")
            ),
            "tok",
            "left",
        )
        .select(
            "lab",
            F.when(F.col("_in").isNotNull(), F.col("tok"))
            .otherwise(F.lit(UNK))
            .alias("tok_m"),
            "_c",
        )
        .groupBy(F.col("tok_m").alias("token"))
        .agg(
            F.sum(F.when(F.col("lab"), F.col("_c")).otherwise(F.lit(0))).alias(
                "c_pos"
            ),
            F.sum(F.when(~F.col("lab"), F.col("_c")).otherwise(F.lit(0))).alias(
                "c_neg"
            ),
        )
    )
    doc_counts = (
        docs.where(F.col("text").isNotNull() & F.col("label").isNotNull())
        .agg(
            F.sum(F.col("label").cast("boolean").cast("long")).alias("d_pos"),
            F.sum((~F.col("label").cast("boolean")).cast("long")).alias(
                "d_neg"
            ),
        )
    )
    if not materialize:
        totals = (
            likelihoods.agg(
                F.sum("c_pos").alias("n_pos"), F.sum("c_neg").alias("n_neg")
            )
            .crossJoin(doc_counts)
            .crossJoin(
                vocab.agg((F.count("*") + F.lit(1)).cast("long").alias("v_eff"))
            )
        )
        return NBQualityModel(vocab, likelihoods, totals, 1.0)
    try:
        lik_rows = likelihoods.collect()
        ll = spark.createDataFrame(
            lik_rows, schema="token string, c_pos long, c_neg long"
        )
        dc = doc_counts.collect()[0]
        # totals derive exactly from the collected tables (all exact
        # integers) — no crossJoin jobs
        lt = spark.createDataFrame(
            [(
                sum(r.c_pos for r in lik_rows) if lik_rows else None,
                sum(r.c_neg for r in lik_rows) if lik_rows else None,
                dc["d_pos"],
                dc["d_neg"],
                len(vocab_rows) + 1,
            )],
            schema="n_pos long, n_neg long, d_pos long, d_neg long, v_eff long",
        )
    finally:
        raw.unpersist(False)
    return NBQualityModel(vocab, ll, lt, 1.0)


def nb_log_odds(docs: DataFrame, model: NBQualityModel) -> DataFrame:
    """(doc_id, n_toks, log_odds, mean_llr): per-document NB quality
    score of ``docs`` (doc_id, text).

    log_odds > 0 reads "more like the positive (curated) class";
    mean_llr is the length-normalized per-token margin. Both rounded
    to 4 decimals (the package's engine-neutral double convention).
    The plan broadcasts the bounded model tables; the single exchange
    is the per-doc aggregation, collapsed map-side to ~one row per
    document. Docs with NULL text are dropped (the filter wrappers
    keep them out anyway)."""
    k = F.lit(model.k)
    toks = (
        docs.where(F.col("text").isNotNull())
        .select(F.col("doc_id").alias("id"), F.explode(_tok_col("text")).alias("tok"))
    )
    vb = F.broadcast(model.vocab)
    tm = toks.join(
        vb.select(F.col("token").alias("tok"), F.lit(True).alias("_in")),
        "tok",
        "left",
    ).select(
        "id",
        F.when(F.col("_in").isNotNull(), F.col("tok"))
        .otherwise(F.lit(UNK))
        .alias("tok_m"),
    )
    scored = tm.join(
        F.broadcast(model.likelihoods).select(
            F.col("token").alias("tok_m"), "c_pos", "c_neg"
        ),
        "tok_m",
        "left",
    ).crossJoin(F.broadcast(model.totals))
    lp = F.log(
        (F.coalesce(F.col("c_pos"), F.lit(0)) + k)
        / (F.col("n_pos") + k * F.col("v_eff"))
    )
    ln = F.log(
        (F.coalesce(F.col("c_neg"), F.lit(0)) + k)
        / (F.col("n_neg") + k * F.col("v_eff"))
    )
    prior = F.log(F.col("d_pos") / F.col("d_neg"))
    return (
        scored.select("id", (lp - ln).alias("_llr"), prior.alias("_prior"))
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_toks"),
            # + 0.0 normalizes IEEE -0.0 to +0.0 (round can emit -0.0
            # for tiny negative sums; both engines normalize the same)
            (F.round(F.first("_prior") + F.sum("_llr"), 4) + F.lit(0.0)).alias(
                "log_odds"
            ),
            (F.round(F.avg("_llr"), 4) + F.lit(0.0)).alias("mean_llr"),
        )
    )


def pareto_keep(
    docs: DataFrame,
    model: NBQualityModel,
    seed: int = 0,
) -> DataFrame:
    """The GPT-3 curation action (Brown et al. 2020, Appendix A) over
    ``docs`` (doc_id, text): keep a document iff
    ``pareto_draw(alpha) > 1 - quality_score``, so high-scoring docs are
    (almost) always kept while low-scoring docs survive with small
    probability — importance sampling, not a hard cut, preserving some
    tail diversity. alpha = 9, GPT-3's value.

    quality_score = sigmoid(log_odds) ∈ (0, 1) — NB's posterior
    P(positive | doc). The draw is deterministic: u = xxhash64(doc_id,
    copy-seed) mapped to [0, 1), x = (1 - u)^(-1/alpha) - 1 (the
    inverse CDF of numpy.random.pareto's Lomax distribution), never
    rand() — reruns, retries and repartitionings keep identical rows
    (the weighted_mix / r1_r2 split convention). The kept rows carry
    the input columns only."""
    alpha = _PARETO_ALPHA
    scored = nb_log_odds(docs, model).select("doc_id", "log_odds")
    joined = docs.join(scored, "doc_id", "left")
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("log_odds")))
    # xxhash64 -> uniform in [0, 1): shift the signed 64-bit hash into
    # unsigned range, divide by 2^64. 1 - u stays in (0, 1], so the
    # Lomax inverse CDF below never divides by zero.
    u = (
        F.xxhash64(F.col("doc_id"), F.lit(seed)).cast("double")
        + F.lit(float(2**63))
    ) / F.lit(float(2**64))
    draw = F.pow(F.lit(1.0) - u, F.lit(-1.0 / alpha)) - F.lit(1.0)
    kept = F.col("log_odds").isNotNull() & (draw > (F.lit(1.0) - score))
    return joined.where(kept).drop("log_odds")
