"""End-to-end curation pipeline (curation.curate_corpus) at corpus scale.

JVM-synthesized multi-line pages (no Python in datagen) with planted
work for every stage, keyed off a per-doc SEED so duplicate families
share their plants exactly:

- seed = doc_id - 1 for doc_id%10==1 (near-dup family: one extra token
  appended -> jaccard ~0.98 vs the seed doc, removed at near_dup),
- seed = doc_id - 2 for doc_id%10==2 (byte-identical twin of the seed
  doc, removed at exact_dedup),
- seed = doc_id otherwise.
- URL: canonical key = seed, plus doc_id%10==3 sharing doc_id-3's
  canonical (removed at url_dedup).
- lorem-ipsum line on seed%17==0 (removed at c4_line_clean), stop-word
  suffix withheld on seed%19==0 (removed at gopher_quality), a
  40-token periodic block on seed%23==0 (removed at gopher_repetition),
- decontamination benchmark = the seed%100==0 slice of the corpus.

Two passes: a with_stats run (per-stage row accounting — the Gopher
Table A1 attrition report) and a timed fully-lazy run (one Catalyst
plan, count of the final corpus only).

Usage: python tools/curation_bench.py [N_DOCS] [CORES]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def forge_corpus(spark, n_docs: int, base: str = "/tmp/el_curation_bench"):
    """Write the planted-work corpus + the C4-cleaned decontamination
    benchmark slice as parquet; returns (docs_path, bench_path). Shared
    by this bench and tools/cluster_scaling_bench.py --job curation."""
    from pyspark.sql import functions as F

    docs = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    did = F.col("doc_id")
    seed = F.when(did % 10 == 1, did - 1).when(did % 10 == 2, did - 2).otherwise(did)

    rand_tok = lambda i: F.concat(  # noqa: E731
        F.lit("w"), F.pmod(F.xxhash64(seed, i), F.lit(5000))
    )
    line_of = lambda i: F.concat(  # noqa: E731
        F.array_join(
            F.transform(F.sequence(i * 10, i * 10 + 9), rand_tok), " "
        ),
        F.when((seed + i) % 2 == 0, F.lit(".")).otherwise(F.lit("")),
    )
    page_lines = F.transform(F.sequence(F.lit(0), F.lit(11)), line_of)
    plant = lambda cond, t: F.when(cond, F.array(F.lit(t))).otherwise(  # noqa: E731
        F.array().cast("array<string>")
    )
    # periodic block: 10x a 4-token seed phrase, '.'-terminated so C4
    # keeps it and the repetition gate sees it
    phrase = F.array_join(
        F.flatten(
            F.array_repeat(
                F.transform(
                    F.sequence(F.lit(0), F.lit(3)),
                    lambda i: F.concat(
                        F.lit("p"), (seed % 50).cast("string"), F.lit("_"),
                        i.cast("string"),
                    ),
                ),
                10,
            )
        ),
        " ",
    )
    # stop words and the near-dup variant ride C4-KEEPABLE lines
    # ('.'-terminated, >= 5 words): the quality and near-dup stages run
    # on the C4-cleaned text, so plants that C4 would drop never reach
    # them (the first cut appended bare suffixes to the last line —
    # stripping its terminal '.' — and C4 removed the stop words before
    # the quality gate could count them: every page died there)
    text = F.array_join(
        F.concat(
            page_lines,
            plant(
                seed % 19 != 0,
                "the of and anchor words stay right here.",
            ),
            plant(seed % 17 == 0, "Lorem Ipsum dolor sit amet boilerplate."),
            F.when(seed % 23 == 0, F.array(F.concat(phrase, F.lit(" end."))))
            .otherwise(F.array().cast("array<string>")),
            plant(
                did % 10 == 1,
                "unique near variant marker sentence lives here.",
            ),
        ),
        "\n",
    )
    # URL collisions ONLY on the %10==3 family: the exact/near twins
    # keep distinct URLs so they reach their own dedup stages instead of
    # dying at url_dedup
    url_key = F.when(did % 10 == 3, did - 3).otherwise(did)
    url = F.concat(
        F.lit("HTTPS://WWW.Site"), (url_key % 7).cast("string"),
        F.lit(".COM:443/Page/"), url_key.cast("string"), F.lit("/?utm_source=x"),
    )
    corpus = docs.select("doc_id", url.alias("url"), text.alias("text"))
    docs_path, bench_path = f"{base}/docs", f"{base}/bench"
    corpus.write.mode("overwrite").parquet(docs_path)
    corpus = spark.read.parquet(docs_path)
    # benchmark = the C4-CLEANED %100==0 slice: the decontamination
    # stage probes the cleaned corpus, so benchmark windows must be
    # over cleaned text too (real eval sets are clean prose; a raw
    # slice's windows straddle lines C4 drops and never align)
    from entity_linking_spark.operators.quality import c4_line_clean

    c4_line_clean(
        corpus.where(F.col("doc_id") % 100 == 0), mode="remove"
    ).select("text").write.mode("overwrite").parquet(bench_path)
    return docs_path, bench_path


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    from entity_linking_spark.curation import curate_corpus
    from entity_linking_spark.session import get_spark

    spark = get_spark("curation-bench", cores=cores)
    docs_path, bench_path = forge_corpus(spark, n_docs)
    corpus = spark.read.parquet(docs_path)
    bench = spark.read.parquet(bench_path)

    # pass 1: per-stage accounting
    t0 = time.time()
    _, stats = curate_corpus(
        corpus, url_col="url", benchmark=bench, min_words=20
    )
    stats_sec = time.time() - t0

    # pass 2: fully lazy single plan, timed
    t0 = time.time()
    final, _ = curate_corpus(
        corpus, url_col="url", benchmark=bench, min_words=20,
        with_stats=False,
    )
    n_final = final.count()
    lazy_sec = time.time() - t0

    print(json.dumps({
        "metric": "curation_pipeline_bench",
        "n_docs": n_docs,
        "cores": cores,
        "lazy_sec": round(lazy_sec, 2),
        "docs_per_sec": round(n_docs / lazy_sec, 1),
        "n_final": int(n_final),
        "stats_sec": round(stats_sec, 2),
        "stages": stats,
    }))


if __name__ == "__main__":
    main()
