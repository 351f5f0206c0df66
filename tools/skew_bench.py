"""Skewed-corpus scale evidence (round-4 directive #2).

Corpus: synth_documents_spark with the HOT_ALIAS_LADDER planted — a
Zipf-ish ladder of stop-word-like aliases (top rung in ~4% of docs,
each shared by 4 entities that pass the ambiguity filter, so the ent:
blocks genuinely go hot — ~1%+ of the corpus behind single blocking
keys) on top of the existing 20%-of-docs hot host. This is the
reference's hot-alias shape (el_process.py:40-43, SURVEY §4 hot-key
row) made adversarial.

Arms (one per invocation, so host-variance A/B protocol applies):
  capped    production config (module defaults): MAX_BLOCK_SIZE=64
            stop-key drop + adaptive salting. Runtime must stay bounded
            and flat-ish per doc.
  uncapped  blocking.MAX_BLOCK_SIZE=10^9 (cap disabled): the hot keys
            reach the self-join; salting at skew.HOT_THRESHOLD=2000 is
            the only defense. Demonstrates the pair explosion the cap
            prevents — run it at SMALL n_docs only.
  uncapped_nosalt  the uncapped arm with HOT_THRESHOLD above every key
            count, so no url is salted: salting isolated.

Reported per arm: wall time, docs/sec, s4 candidate-pair count, block
stats (top-5 block sizes, #blocks over 64, max KEPT block size), max
rows landing in one reduce partition of the pair self-join exchange,
and pairwise F1 vs planted truth (positives = all same-truth pairs, so
recall counts blocking misses; negatives = same-block pairs with
differing truth) — the cap's recall cost is F1_capped vs F1_uncapped
on the SAME corpus.

Usage: python tools/skew_bench.py N_DOCS CORES {capped|uncapped|uncapped_nosalt}
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CAP = 64


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    arm = sys.argv[3] if len(sys.argv) > 3 else "capped"
    assert arm in ("capped", "uncapped", "uncapped_nosalt"), arm

    import pandas as pd
    from pyspark.sql import functions as F

    from entity_linking_spark import schema as S
    from entity_linking_spark.metrics import pairwise_prf, truth_labeled_pairs
    from entity_linking_spark.operators import blocking, skew
    from entity_linking_spark.pipeline import run_pipeline
    from entity_linking_spark.session import get_spark
    from entity_linking_spark.sources import io

    spark = get_spark(f"skew-{arm}", cores=cores)
    n_entities = max(100, n_docs // 10)
    base = f"/tmp/el_skew_{n_docs}"
    docs_path = f"{base}/docs_truth"
    if not os.path.exists(docs_path):
        S.synth_documents_spark(
            spark, n_docs, n_entities, with_truth_column=True,
            hot_alias_ladder=S.HOT_ALIAS_LADDER,
        ).write.mode("overwrite").parquet(docs_path)
    docs = spark.read.parquet(docs_path)
    kb = S.synth_kb(n_entities)
    aliases_pdf = pd.concat(
        [S.kb_to_aliases(kb), S.hot_ladder_aliases()], ignore_index=True
    )
    aliases = spark.createDataFrame(aliases_pdf, schema=S.ALIASES_SCHEMA)

    workdir = f"{base}/run_{arm}"
    shutil.rmtree(workdir, ignore_errors=True)
    if arm != "capped":
        blocking.MAX_BLOCK_SIZE = 10**9
        # uncapped_nosalt: same blown-up pair table, no salt — the A/B
        # partner for the uncapped arm (no key reaches n_docs^2 pairs)
        skew.HOT_THRESHOLD = 2000 if arm == "uncapped" else n_docs**2
    t0 = time.time()
    clusters = run_pipeline(spark, docs.drop("truth_entity"), aliases, workdir)
    n_out = clusters.count()
    elapsed = time.time() - t0

    # --- block-size stats (untimed diagnostics, rebuilt from the
    # checkpointed s1/s3 stages exactly as s4 saw them) ---
    s1 = io.read_stage(spark, workdir, "s1_extract")
    s3 = io.read_stage(spark, workdir, "s3_candidates")
    keys = blocking.blocking_keys(s1, s3)
    sizes = (
        keys.select(F.xxhash64("key").alias("k"), "url")
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )
    top5 = [r["n"] for r in sizes.orderBy(F.col("n").desc()).limit(5).collect()]
    n_over_cap = sizes.where(F.col("n") > CAP).count()
    kept = sizes.where(F.col("n") <= blocking.MAX_BLOCK_SIZE)
    max_kept = kept.agg(F.max("n")).collect()[0][0]
    # max rows in one reduce partition of the pair self-join's exchange
    # (hash-partition the KEPT key rows by key at the session's shuffle
    # width — the same placement the join's exchange produces).
    # anti-join the TINY over-cap list, never broadcast the huge kept
    # list (at 10M docs the kept-key set is ~10^8 rows / 12 GiB — the
    # broadcast of it killed this stats pass; the stop list is <=
    # rows/cap keys)
    stop_keys = sizes.where(F.col("n") > blocking.MAX_BLOCK_SIZE).select("k")
    kept_rows = keys.select(F.xxhash64("key").alias("k"), "url").join(
        F.broadcast(stop_keys), "k", "left_anti"
    )
    part_sizes = (
        kept_rows.repartition(F.col("k"))
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
    )
    max_part = part_sizes.agg(F.max("n")).collect()[0][0]

    n_pairs = io.stage_meta(workdir, "s4_pairs")["rows"]

    # --- pairwise F1 vs planted truth ---
    pairs = io.read_stage(spark, workdir, "s4_pairs")
    prf = pairwise_prf(clusters, truth_labeled_pairs(docs, pairs))

    out = {
        "arm": arm,
        "n_docs": n_docs,
        "cores": cores,
        "seconds": round(elapsed, 2),
        "docs_per_sec": round(n_out / elapsed, 1),
        "s4_pairs": n_pairs,
        "top5_block_sizes": top5,
        "blocks_over_64": n_over_cap,
        "max_kept_block": max_kept,
        "max_reduce_partition_rows": max_part,
    }
    out.update(
        {k: (round(v, 6) if isinstance(v, float) else v) for k, v in prf.items()}
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
