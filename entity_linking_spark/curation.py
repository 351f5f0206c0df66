"""End-to-end web-corpus curation pipeline: one call from raw crawl
pages to a training-ready corpus.

Beyond-reference composition (the reference repo has no curation
stage): chains the library's individually oracle-backed curation
operators in the order every public LLM-data pipeline uses — cheap
full-scan gates first, shuffle-bearing dedup later, the decontamination
probe and PII redaction last:

1. URL dedup            (functions/web.url_dedup — one shuffle)
2. C4 line cleaning     (operators/quality.c4_line_clean — scan)
3. Gopher quality rules (operators/quality.gopher_quality_signals — scan)
4. Gopher repetition gate (operators/quality.repetition_signals —
   one Arrow pass + an id semi-join back to the surviving pages)
5. exact dedup          (md5 per page, min-id keeper — one shuffle)
6. MinHash-LSH near-dup (operators/dedup.minhash_near_dup_pairs +
   dedup_clusters — banded candidate join + connected components)
7. benchmark decontamination (operators/quality.decontaminate —
   broadcast probe, the corpus itself is never shuffled)
8. PII redaction        (functions/text.redact_pii — scan)

Opt-in between 6 and 7 (``semantic_k``): SemDeDup semantic dedup
(operators/dedup.semantic_dedup over in-chain hash embeddings — catches
paraphrase-grade duplication the token-level gates can't see).

Every stage is the same code path its gate row / pytest suite pins, so
the composition needs no oracle of its own; `tests/test_curation.py`
verifies stage-by-stage row accounting on planted fixtures and
`tools/scale_bench.py curation` prices the whole chain at corpus scale.

Scale shape: stages 2/3/8 are pure-Column scans (no exchange); every
removal gate (1/4/5/6) computes its VICTIM ids on a narrow branch —
(id, canonical) / (id, signals) / (id, md5) / cluster non-keepers —
and anti-joins them back, so the document payload (text + ride-along
columns) never enters an exchange anywhere in the chain: victims are
the removed minority, AQE broadcasts them at typical attrition rates,
and the only full-width shuffles left are the LSH band join's narrow
key tables; stage 7 broadcasts only the benchmark hashes. Nothing in
the chain collects to the driver. With ``with_stats=True`` each stage
boundary is persisted, counted, and released — the per-stage row
accounting of a production curation run (the reference point: Gopher's
Table A1 reports exactly this per-rule attrition); ``with_stats=False``
persists the corpus ONCE (before the first multi-consumer gate) so the
victim branches and probe sides replay cached rows, never the upstream
chain — release it with ``spark.catalog.clearCache()`` (the persist is
mid-plan, not the returned frame) when done. Measured on the round-5
semi-join formulation (tools/scale_bench.py curation, 1M docs x 32 cores):
lazy 117.8 s vs with_stats 72.9 s — the stats pass was FASTER because
its persists stopped the dedup gates recomputing the chain; the single
lazy persist + victim anti-joins close that gap (see
BENCH/BASELINE.md for the re-measurement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from entity_linking_spark import runtime
from entity_linking_spark.functions.text import redact_pii
from entity_linking_spark.functions.web import url_dedup
from entity_linking_spark.operators.dedup import (
    dedup_clusters,
    minhash_near_dup_pairs,
)
from entity_linking_spark.operators.quality import (
    c4_line_clean,
    decontaminate,
    gopher_quality_signals,
    repetition_signals,
)

# repetition gate: a page is dropped when its most frequent 2-gram or
# 3-gram, or its duplicated 5-grams, cover more than this TOKEN fraction
_MAX_TOP2_FRAC = 0.20
_MAX_TOP3_FRAC = 0.18
_MAX_DUP5_FRAC = 0.30


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    url_col: str | None = None,
    benchmark: DataFrame | None = None,
    min_words: int = 50,
    near_dup_jaccard: float = 0.8,
    semantic_k: int | None = None,
    with_stats: bool = True,
) -> tuple[DataFrame, list[dict]]:
    """Run the full curation chain over ``docs``; returns
    ``(curated, stats)`` where ``stats`` is one dict per executed stage
    — ``{"stage": name, "rows_in": n, "rows_out": m}`` — when
    ``with_stats=True``, else ``[]`` (and the returned DataFrame is
    lazy up to one persist of the post-scan-gate corpus, which the
    victim anti-join branches reuse; release it with
    ``spark.catalog.clearCache()`` after the final action).

    Every stage runs except three that the input turns on:
    ``url_col=None`` skips URL dedup, ``benchmark=None`` skips
    decontamination, and ``semantic_k=None`` skips the opt-in SemDeDup
    stage (set it to the cluster budget to enable; numeric ``id_col``
    required there). The thresholds other than ``min_words`` and
    ``near_dup_jaccard`` are fixed: C4 cleaning drops pages left with
    fewer than 3 lines, decontamination matches 13-token windows,
    SemDeDup counts same-cluster documents at cosine 0.95 or more as
    near-duplicates and skips clusters of more than 4,096 documents,
    and the repetition gate drops pages whose
    top-2-gram, top-3-gram or duplicated-5-gram TOKEN fraction exceeds
    0.20, 0.18 or 0.30 (the Gopher paper's limits where one exists, on
    this library's documented token-fraction analogs — see
    operators/quality.repetition_signals).

    C4 cleaning REWRITES the text column (kept lines only), so later
    stages — including dedup hashes and decontamination — operate on
    the cleaned text, matching the published C4 -> dedup order.
    """
    stats: list[dict] = []
    cur = docs
    prev_persisted = None

    def step(name: str, out: DataFrame) -> DataFrame:
        nonlocal cur, prev_persisted, n_cur
        if with_stats:
            out = out.persist()
            n_out = out.count()
            stats.append({"stage": name, "rows_in": n_cur, "rows_out": n_out})
            if prev_persisted is not None:
                prev_persisted.unpersist()
            prev_persisted = out
            n_cur = n_out
        cur = out
        return out

    n_cur = docs.count() if with_stats else -1

    if url_col is not None:
        step("url_dedup", url_dedup(cur, url_col, id_col).drop("canonical_url"))
    step("c4_line_clean", c4_line_clean(cur, text_col, id_col, mode="remove"))
    step(
        "gopher_quality",
        gopher_quality_signals(
            cur, text_col, id_col, min_words=min_words, mode="remove"
        ),
    )
    # ---- multi-consumer gates below: each computes a VICTIM id set on
    # a narrow branch and anti-joins it back, so the document payload
    # (text + ride-along columns) never enters an exchange — victims
    # are the removed minority, so AQE broadcasts them at typical
    # attrition rates. The price is a second consumption of `cur` per
    # gate; with_stats already persists every boundary, and the lazy
    # path persists ONCE here so the upstream scan-gates never replay.
    if not with_stats:
        cur = cur.persist()
    sig = repetition_signals(cur, text_col, id_col)
    ok = (
        (F.col("top2_frac") <= _MAX_TOP2_FRAC)
        & (F.col("top3_frac") <= _MAX_TOP3_FRAC)
        & (F.col("dup5_frac") <= _MAX_DUP5_FRAC)
    )
    # null signals (null text) count as BAD — parity with the
    # previous keep-the-ok-set semi-join, where nulls never matched
    bad_ids = sig.where(~F.coalesce(ok, F.lit(False))).select(id_col)
    step("gopher_repetition", cur.join(bad_ids, id_col, "left_anti"))
    # keep-first exact dedup, min(id) keeper per content hash: the
    # row_number window runs over the narrow (id, md5) projection only
    # — the round-5 full-row window shuffled every surviving
    # document's text by content hash
    from pyspark.sql.window import Window

    w_exact = Window.partitionBy("_h").orderBy(id_col)
    exact_victims = (
        cur.select(id_col, F.md5(F.col(text_col)).alias("_h"))
        .withColumn("_rn", F.row_number().over(w_exact))
        .where(F.col("_rn") > 1)
        .select(id_col)
    )
    step("exact_dedup", cur.join(exact_victims, id_col, "left_anti"))
    toks = cur.select(
        F.col(id_col).alias("url"),
        F.split(F.lower(F.col(text_col)), " ").alias("tokens"),
    )
    nd_caches = runtime.CacheScope()
    pairs = minhash_near_dup_pairs(
        toks, min_jaccard=near_dup_jaccard, cache_registry=nd_caches
    )
    victims = (
        dedup_clusters(toks, pairs)
        .where(F.col("url") != F.col("keeper"))
        .select(F.col("url").alias(id_col))
    )
    step("near_dup", cur.join(victims, id_col, "left_anti"))
    if with_stats:
        # the operator's band table has served the counted boundary
        # above; on the lazy path it must outlive this call, like
        # the semantic step's cache below
        nd_caches.release()
    if semantic_k is not None:
        # opt-in 9th stage (SemDeDup, Abbas et al. 2023): embed the
        # cleaned text with the library's deterministic hash embedding
        # and drop within-cluster near-duplicates the token-level gates
        # can't see (paraphrase-grade duplication). Embeddings live
        # only on a narrow (id, vec) branch; victims anti-join back, so
        # the payload stays out of every exchange like the other gates.
        # semantic_dedup's centroid argmax requires a NUMERIC id column
        # (documented there); on a real cluster the hash embedding maps
        # to the model-encoder batch UDF, everything downstream
        # unchanged. Two contracts stated plainly: (a) this stage is
        # EAGER even with with_stats=False — semantic_dedup collects
        # its k exemplars at plan-construction time, so `cur` is
        # persisted here first and the collect replays cached rows,
        # not the upstream chain; (b) clusters larger than
        # 4,096 members are SKIPPED, not deduped (absent from
        # semantic_dedup's output -> never victims -> kept): size
        # semantic_k so expected cluster size N/k sits well under the
        # cap, or a degenerate boilerplate cluster silently keeps its
        # duplicates (the exact-dedup stage upstream is the cheap
        # guard).
        from entity_linking_spark.functions.vectors import hash_embed_udf
        from entity_linking_spark.operators.dedup import semantic_dedup

        if not with_stats:
            cur = cur.persist()
        emb = cur.select(
            F.col(id_col).alias("vec_id"),
            hash_embed_udf(
                F.split(F.lower(F.col(text_col)), " ")
            ).alias("embedding"),
        )
        sem_caches = runtime.CacheScope()
        sem_victims = (
            semantic_dedup(
                emb,
                k=semantic_k,
                min_cosine=0.95,
                max_cluster_size=4096,
                cache_registry=sem_caches,
            )
            .where(~F.col("keep"))
            .select(F.col("vec_id").alias(id_col))
        )
        step("semantic_dedup", cur.join(sem_victims, id_col, "left_anti"))
        if with_stats:
            # the stage boundary above is persisted+counted, so the
            # operator's internal assignment cache has served its
            # purpose — release it. On the lazy path the cache must
            # outlive this call (the returned frame still references
            # it): the documented chain-wide spark.catalog.clearCache()
            # releases it with the rest.
            sem_caches.release()
    if benchmark is not None:
        step(
            "decontaminate",
            decontaminate(
                cur, benchmark, text_col, id_col, window=13, mode="remove"
            ),
        )
    step("redact_pii", cur.withColumn(text_col, redact_pii(F.col(text_col))))
    return cur, stats


def main() -> None:
    """Run the curation chain as a job: python -m
    entity_linking_spark.curation --input docs.parquet --output out/
    [--url-col url] [--benchmark bench.parquet] [--stats]
    (spark-submit --py-files form on a real cluster). The input parquet
    must carry (id-col, text-col) plus whatever columns should ride
    along; the output parquet is the curated corpus with the same
    schema (text rewritten by C4 + redaction)."""
    import argparse
    import json

    from entity_linking_spark.session import get_spark

    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument("--input", required=True, help="input docs parquet")
    ap.add_argument("--output", required=True, help="output parquet dir")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--url-col", default=None,
                    help="enable URL dedup on this column")
    ap.add_argument("--benchmark", default=None,
                    help="eval-set parquet (text-col) for decontamination")
    ap.add_argument("--min-words", type=int, default=50)
    ap.add_argument("--near-dup-jaccard", type=float, default=0.8)
    ap.add_argument("--semantic-k", type=int, default=None,
                    help="enable the SemDeDup stage with this cluster "
                         "budget (numeric id col required)")
    ap.add_argument("--stats", action="store_true",
                    help="persist+count each stage (JSON line per stage)")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    import time

    spark = get_spark("curate", cores=args.cores)
    docs = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    t0 = time.time()
    curated, stats = curate_corpus(
        docs,
        text_col=args.text_col,
        id_col=args.id_col,
        url_col=args.url_col,
        benchmark=bench,
        min_words=args.min_words,
        near_dup_jaccard=args.near_dup_jaccard,
        semantic_k=args.semantic_k,
        with_stats=args.stats,
    )
    curated.write.mode("overwrite").parquet(args.output)
    seconds = time.time() - t0
    for s in stats:
        print(json.dumps(s))
    n_in = stats[0]["rows_in"] if stats else None
    n_out = (
        stats[-1]["rows_out"]
        if stats
        else spark.read.parquet(args.output).count()
    )
    print(json.dumps({
        "metric": "curate_job",
        "n_in": n_in,
        "n_out": n_out,
        "seconds": round(seconds, 2),
        "docs_per_sec": round(n_in / seconds, 1) if n_in else None,
    }))


if __name__ == "__main__":
    main()
