"""Deterministic corpus mixing: per-domain weighted down/up-sampling.

Beyond-reference operator: the final assembly step of public LLM
training corpora (The Pile's per-set epochs, Gopher/MassiveText's
sampling proportions, Dolma's source mixing) — each source/domain gets
a weight w, and the mixed corpus contains each document floor(w) times
plus one more with probability frac(w). Weights < 1 downsample, > 1
upsample by replication (the published convention: small high-quality
sources are repeated for multiple epochs, big crawls are subsampled).

Never rand(): the fractional keep decision is a pure function of
(id, seed) via xxhash64 — re-running the job, at any parallelism, on
any partitioning, emits the SAME mixed corpus (the module-wide
determinism rule; the operators/skew.py docstring states the same stance).
One narrow scan, no shuffle: the weight lookup is a literal CASE chain
compiled from the (small, by construction) domain->weight dict, the
keep test is one hash compare, and upsampled copies come from a
posexplode over a per-row sequence — whole-stage codegen end to end,
with a `copy` ordinal so downstream shuffles can't collapse replicas.

At 100 TB scale this is the right shape: mixing is embarrassingly
parallel, so ANY exchange here would be pure waste; the hash keep-rate
concentrates (Chernoff) to the exact weight at millions of docs per
domain, and determinism makes the mix auditable — the same doc set
falls out of every rerun, so corpus cards can cite exact counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# hash-bucket resolution for the fractional keep decision: frac(w) is
# quantized to 1/2^20 (~1e-6) — exact for the round weights corpus
# cards publish, and the quantization error is documented either way
_BUCKETS = 1 << 20
# weight of a domain absent from the weights dict (0 drops it — the
# explicit-allowlist convention of corpus assembly), and the hash seed
# of the fractional keep decision
_DEFAULT_WEIGHT = 0.0
_SEED = 42


def weighted_mix(df: DataFrame, weights: dict[str, float]) -> DataFrame:
    """Mix ``df`` (doc_id, domain, ...) by ``weights[domain]``: each row
    is emitted floor(w) times, plus once more iff
    xxhash64(doc_id, copy_ordinal, 42) % 2^20 < frac(w) * 2^20.

    Domains absent from ``weights`` are dropped (weight 0 — the
    explicit-allowlist convention of corpus assembly).
    Output = input columns + ``copy`` (0-based replica ordinal), so
    replicas stay distinct rows under any downstream distinct/groupBy
    on (doc_id, copy).

    All weights must be >= 0; a weight's integer part must be small
    (< 1000) — replication beyond that is never what a corpus mix
    means and would explode the output.
    """
    bad = {d: w for d, w in weights.items() if w < 0 or w >= 1000}
    if bad:
        raise ValueError(f"weights must be in [0, 1000): {bad}")

    w_col = F.lit(float(_DEFAULT_WEIGHT))
    for dom, w in sorted(weights.items()):
        w_col = F.when(F.col("domain") == dom, F.lit(float(w))).otherwise(w_col)

    n_whole = F.floor(w_col).cast("int")
    frac_buckets = F.round((w_col - F.floor(w_col)) * _BUCKETS).cast("long")
    # copy ordinals 0..n_whole: the last one is the fractional candidate,
    # kept iff its (id, copy, seed) hash lands under frac(w)'s bucket cut
    out = (
        df.withColumn("_nw", n_whole)
        .withColumn("_fb", frac_buckets)
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.col("_nw"))))
        .where(
            (F.col("copy") < F.col("_nw"))
            | (
                F.pmod(
                    F.xxhash64(F.col("doc_id"), F.col("copy"), F.lit(_SEED)),
                    F.lit(_BUCKETS),
                )
                < F.col("_fb")
            )
        )
        .drop("_nw", "_fb")
    )
    return out
