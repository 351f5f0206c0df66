"""Transitive clustering: connected components via large-star/small-star.

The reference's final grouping is implicit — mentions resolved to the
same subject_id belong together (entity_sort/service_main.py:160-172).
At corpus scale that becomes transitive closure over match edges. We use
the alternating large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public), which
converges in O(log² n) rounds even on path graphs, vs O(diameter) for
naive min-label propagation. Each round is two groupBy-min + join
shuffles; no collect_list (hot vertices never materialize a neighbor
array), so degree skew stays inside the hash aggregate.

Star iterations run on xxhash64 vertex ids (8-byte shuffles instead of
url strings); cluster_id = min(url) per component is recovered with one
window at the end, preserving the string-id contract.

Every iteration localCheckpoints to truncate lineage (the reference's
per-stage pickle checkpoints, SURVEY §2.1 S7, become per-iteration
materialization here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

MAX_ITERATIONS = 50


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u.

    min is computed as a window over the SAME hash partitioning the emit
    needs — one exchange per star round instead of groupBy+join's two.
    """
    from pyspark.sql.window import Window

    sym = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    w = Window.partitionBy("u")
    # no .distinct() here: duplicates cannot change small-star's per-key
    # min, and small_star ends the round with a canonicalizing distinct —
    # dropping it saves one full exchange per fixpoint round
    return (
        sym.withColumn("m", F.least(F.col("u"), F.min("v").over(w)))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient (big, small); for each big b: m = min of its small neighbors;
    emit (s, m) for each small neighbor plus (b, m). Same one-exchange
    window trick as _large_star."""
    from pyspark.sql.window import Window

    o = edges.select(
        F.greatest("src", "dst").alias("b"), F.least("src", "dst").alias("s")
    ).where(F.col("b") != F.col("s"))
    w = Window.partitionBy("b")
    om = o.withColumn("m", F.min("s").over(w))
    relink = (
        om.select(F.col("s").alias("src"), F.col("m").alias("dst"))
        .unionByName(
            om.select(F.col("b").alias("src"), F.col("m").alias("dst")).distinct()
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return relink


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(url, cluster_id) for every vertex; cluster_id = component min url.

    ``edges``: (url_a, url_b) match pairs. ``vertices``: (url) all docs —
    isolated docs become singleton clusters (cluster_id = own url).
    Raises RuntimeError when MAX_ITERATIONS rounds end without a
    fixpoint, instead of returning partial clusters.

    ``checkpoint_dir``: when set, per-iteration lineage truncation uses
    RELIABLE checkpoints (written to this fault-tolerant path via
    sparkContext.setCheckpointDir) instead of localCheckpoint.
    localCheckpoint stores blocks on executors — losing one executor
    mid-fixpoint kills the job on a real cluster; reliable checkpoints
    survive executor loss at the cost of a distributed-FS write per
    iteration. Default None keeps the fast local path (single-JVM tests,
    short fixpoints).

    Side effects of checkpoint_dir: sparkContext.setCheckpointDir is
    GLOBAL session state — concurrent jobs in the same session will also
    checkpoint there. Old per-iteration snapshots are garbage-collected
    only because the session factory sets
    spark.cleaner.referenceTracking.cleanCheckpoints=true (session.py);
    with a foreign session, either set that conf or clean the directory
    after the job.
    """
    # run the star iterations on xxhash64 vertex ids: 8-byte keys shuffle
    # ~5x less than url strings and compare faster. cluster_id = min(url)
    # is recovered per component afterwards (same membership => same min),
    # so the string-id contract is preserved. Collision odds for xxhash64
    # on web-corpus cardinalities are ~n^2/2^65 — negligible, and a
    # collision could only merge two clusters, never corrupt ids.
    e = (
        edges.select(
            F.xxhash64("url_a").alias("src"), F.xxhash64("url_b").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # no isEmpty() pre-action: an empty edge set converges on round 2
    # (signature (0,0) twice) and the left join below yields singletons —
    # paying one extra job only in the empty case instead of one extra
    # job in EVERY case

    if checkpoint_dir is not None:
        spark = edges.sparkSession
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        _ckpt = lambda df: df.checkpoint(eager=False)  # noqa: E731
        e = e.checkpoint()
    else:
        _ckpt = lambda df: df.localCheckpoint(eager=False)  # noqa: E731
        # lazy: round 1's signature action materializes it — one job
        # instead of two before the fixpoint starts
        e = e.localCheckpoint(eager=False)
    prev_sig = None
    for _ in range(MAX_ITERATIONS):
        e = _large_star(e)
        e = _small_star(e)
        # lazy checkpoint: the signature action right after materializes
        # it — one Spark job per iteration instead of two
        e = _ckpt(e)
        sig = _signature(e)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {MAX_ITERATIONS} rounds"
        )

    # fixpoint edges are (member_vid, root_vid); roots map to themselves
    member = e.select(F.col("src").alias("vid"), F.col("dst").alias("root"))
    member = member.groupBy("vid").agg(F.min("root").alias("root"))
    verts = vertices.select("url", F.xxhash64("url").alias("vid"))
    labeled = (
        verts.join(member.hint("shuffle_hash"), "vid", "left")
        .select("url", F.coalesce("root", F.col("vid")).alias("root"))
    )
    w = Window.partitionBy("root")
    return labeled.select(
        "url", F.min("url").over(w).alias("cluster_id")
    )
