"""End-to-end record-linkage pipeline: extract -> block -> score -> cluster.

Orchestrates the stage graph with resume-from-checkpoint (sources/io.py).
Stage inventory and their shuffle profile:

  extract   narrow map (mapInPandas over html)          no shuffle
  mentions  narrow dictionary UDTF                       no shuffle
  blocking  key explode + stop-key cap                   1 shuffle (groupBy key)
  pairs     within-block self-join + distinct            1-2 shuffles
  scoring   2 hash joins pair->features, each salted     shuffles on url, + 1 small
            for hot urls (ent evidence is a JVM map      count shuffle per side
            intersection, not a join)
  cluster   star rounds while distinct edges exceed      edge distinct, 2 shuffles per
            LOCAL_MAX_EDGES, then union-find on the      star round, 1 window; the
            driver (collect, broadcast map back)         small case: no star round

Run as a job:  python -m entity_linking_spark.pipeline --workdir /tmp/el \
               [--n-docs 2000] [--force]
(spark-submit --py-files form on a real cluster; entry is main()).
"""

from __future__ import annotations

import argparse
import json
import time
from collections.abc import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession

from entity_linking_spark import runtime, schema as S
from entity_linking_spark.metrics import pairwise_prf
from entity_linking_spark.operators import blocking, cluster, extract, scoring
from entity_linking_spark.session import get_spark
from entity_linking_spark.sources import io


def _in_thread(fn: Callable[[], object]) -> Callable[[], object]:
    """Run ``fn`` on an ``InheritableThread``, which keeps the caller's
    Spark job group; the returned join gives its result or re-raises."""
    box: dict[str, object] = {}

    def run() -> None:
        try:
            box["out"] = fn()
        except BaseException as e:  # noqa: BLE001 — re-raised by join
            box["err"] = e

    thread = InheritableThread(target=run, daemon=True)
    thread.start()

    def join() -> object:
        thread.join()
        if "err" in box:
            raise box["err"]
        return box["out"]

    return join


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    aliases: DataFrame,
    workdir: str,
    force: bool = False,
) -> DataFrame:
    """Full linkage run; returns (url, cluster_id). Checkpoints each stage.

    Stage parameters are module constants read at call time
    (``blocking.MAX_BLOCK_SIZE``, ``skew.HOT_THRESHOLD``, ...).

    s2 and s3 share one ``blocking.AliasDictionary``: the KB is
    normalized once per run, and its size picks the mention path (the
    broadcast trie, or the join path that never collects a
    beyond-broadcast KB to the driver — identical output)."""
    # frames an operator pinned while BUILDING a stage are dead weight
    # once that stage's snapshot write commits (downstream stages read
    # the snapshot files, not the lineage). The dictionary's table is
    # read by s2 and s3, so the scope is released after s3; s4-s6 pin
    # nothing in it.
    caches = runtime.CacheScope()
    dictionary = blocking.AliasDictionary(aliases, caches)

    def _extract() -> DataFrame:
        # Extraction and tokenization are FUSED into one mapInPandas over
        # the spread corpus (html never crosses JVM<->Python twice — see
        # extract.extract_and_tokenize)
        return extract.extract_and_tokenize(runtime.spread(documents))

    # the alias-dictionary collect only depends on the INPUT aliases table,
    # not on s1 — submit it from a second thread so the (serial,
    # latency-bound) broadcast prep overlaps the extract stage instead of
    # sitting between s1 and s2 on the critical path. Spark schedules jobs
    # from concurrent driver threads independently (FIFO pools).
    join_aliases = _in_thread(lambda: dictionary.alias_list)

    docs = io.run_stage(spark, workdir, "s1_extract", _extract, force)

    # S9 encodings table: the per-doc embedding as a FIRST-CLASS stage
    # output (url, vec) — written once, reused by scoring and by any
    # ANN/linkage consumer across runs (the reference precomputes and
    # caches entity encodings the same way, eval_biencoder_.py:305-341).
    # The fused s1 pass already computed vec, so building it is a pure
    # projection. s1b depends ONLY on s1, so it runs on a SECOND driver
    # thread concurrently with the s2 -> s4 chain — DAG parallelism a
    # cluster scheduler would exploit; serially it sat on the critical
    # path between s4 and s5 for no reason.
    join_embeddings = _in_thread(
        lambda: io.run_stage(
            spark, workdir, "s1b_embeddings", lambda: docs.select("url", "vec"), force
        )
    )

    join_aliases()

    def _mentions() -> DataFrame:
        return dictionary.mentions(docs, tokens_col="tokens", cache_registry=caches)

    mentions = io.run_stage(spark, workdir, "s2_mentions", _mentions, force)

    def _candidates() -> DataFrame:
        return blocking.candidate_entities(mentions, dictionary)

    candidates = io.run_stage(spark, workdir, "s3_candidates", _candidates, force)
    caches.release()

    def _pairs() -> DataFrame:
        keys = blocking.blocking_keys(docs, candidates)
        # cache_keys=False: docs/candidates are checkpointed stage
        # snapshots, so the two scans of the keys subtree are cheap
        # columnar re-reads — no Python stage to protect, and no reason
        # to pin a corpus-sized key table to executor storage
        return blocking.candidate_pairs(keys, blocking.MAX_BLOCK_SIZE, cache_keys=False)

    pairs = io.run_stage(spark, workdir, "s4_pairs", _pairs, force)

    embeddings = join_embeddings()

    def _scores() -> DataFrame:
        supports, emb, top_mention = scoring.doc_features(
            docs, candidates, embeddings=embeddings
        )
        return scoring.score_pairs(pairs, supports, emb, top_mention)

    scores = io.run_stage(spark, workdir, "s5_scores", _scores, force)

    def _clusters() -> DataFrame:
        edges = scoring.match_edges(scores)
        return cluster.connected_components(edges, docs.select("url"))

    return io.run_stage(spark, workdir, "s6_clusters", _clusters, force)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--n-docs", type=int, default=2000)
    ap.add_argument("--n-entities", type=int, default=300)
    src = ap.add_mutually_exclusive_group()
    src.add_argument("--input-docs", help="parquet path; skips fixture synthesis")
    src.add_argument(
        "--input-warc",
        help="directory of WARC segments (Common-Crawl layout); ingested "
        "via sources/warc.py instead of --input-docs",
    )
    ap.add_argument("--input-aliases", help="parquet path (with --input-docs/-warc)")
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()
    if (args.input_docs or args.input_warc) and not args.input_aliases:
        ap.error("--input-docs/--input-warc require --input-aliases")

    spark = get_spark("el-pipeline", cores=args.cores)
    if args.input_warc:
        from entity_linking_spark.sources import warc

        # ingest is checkpointed as its own stage: a resumed run reads
        # the columnar snapshot instead of re-parsing every WARC segment
        documents = io.run_stage(
            spark,
            args.workdir,
            "s0_ingest",
            lambda: warc.warc_documents(warc.read_warc(spark, args.input_warc)),
            args.force,
        )
        aliases = spark.read.parquet(args.input_aliases)
        labeled_pairs = None
    elif args.input_docs:
        documents = spark.read.parquet(args.input_docs)
        aliases = spark.read.parquet(args.input_aliases)
        labeled_pairs = None
    else:
        fx = S.load_fixtures(spark, n_docs=args.n_docs, n_entities=args.n_entities)
        documents, aliases = fx["documents"], fx["aliases"]
        labeled_pairs = fx["labeled_pairs"]
    t0 = time.time()
    clusters = run_pipeline(spark, documents, aliases, args.workdir, force=args.force)
    # row count from the s6 sidecar (written during the stage's own save)
    # — a final count() action was a pure harness artifact re-scanning
    # the whole output
    n_docs = io.stage_meta(args.workdir, "s6_clusters")["rows"]
    elapsed = time.time() - t0
    out = {
        "docs": n_docs,
        "seconds": round(elapsed, 2),
        "docs_per_sec": round(n_docs / elapsed, 1),
        "cores": spark.sparkContext.defaultParallelism,
    }
    if labeled_pairs is not None:
        prf = pairwise_prf(clusters, labeled_pairs)
        out.update(
            {k: round(v, 4) if isinstance(v, float) else v for k, v in prf.items()}
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
