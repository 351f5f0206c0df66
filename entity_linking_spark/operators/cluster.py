"""Transitive clustering: connected components of the match-edge graph.

The reference's final grouping is implicit — mentions resolved to the
same subject_id belong together (entity_sort/service_main.py:160-172),
computed in one process. At corpus scale that becomes transitive closure
over match edges. Large edge sets use the alternating large-star/
small-star algorithm (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14 — public), which converges in O(log² n) rounds even
on path graphs, vs O(diameter) for naive min-label propagation. Each
star is one window over the hash partitioning its emit needs (one
exchange), and the round ends with one canonicalizing distinct; no
collect_list (hot vertices never materialize a neighbor array), so
degree skew stays inside the window's sort.

Once the distinct edge set is at most ``LOCAL_MAX_EDGES`` (at the start,
or after some star round), the rest runs on the driver, as the
reference does: the edges are collected, a numpy union-find labels every
vertex with its component's minimum vertex id, and the (vid, root) map
is broadcast-joined back. Small graphs — every perfbench workload, the
flagship's near-dup edges — then skip every star round, each of which
costs a checkpoint, a signature collect and its stage jobs, the last one
only to detect the fixpoint.

Vertex ids are xxhash64 of the url (8-byte shuffles and a compact driver
array instead of url strings); cluster_id = min(url) per component is
recovered with one window at the end, preserving the string-id contract.

Every star round localCheckpoints to truncate lineage (the reference's
per-stage pickle checkpoints, SURVEY §2.1 S7, become per-iteration
materialization here).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

MAX_ITERATIONS = 50

LOCAL_MAX_EDGES = 2_000_000
"""Largest distinct edge set labeled on the driver instead of by star
rounds; read at call time, 0 forces star rounds to the fixpoint. The
driver holds ~120 bytes per edge at the bound's peak (the collected
int64 edge columns, their concatenation and np.unique's sort and
inverse, the union-find arrays over at most two vertices per edge),
so 2,000,000 edges took ~230 MB of driver Python memory (4 cores,
random graph), plus the (vid, root) map the JVM broadcasts: 16 bytes of
data per vertex."""


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u.

    min is computed as a window over the SAME hash partitioning the emit
    needs — one exchange per star round instead of groupBy+join's two.
    """
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


def _local_roots(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(vids, roots): every vertex of the edges (src[i], dst[i]) and the
    minimum vertex id of its component — the root star rounds converge to.

    Union-find on dense ids: np.unique numbers the vertices in vid order,
    each round hooks every edge's larger root onto its smaller one
    (np.minimum.at), and pointer jumping compresses every path to its
    root. parent[x] <= x throughout and dense order is vid order, so a
    component's root is its minimum vid."""
    vids, dense = np.unique(np.concatenate([src, dst]), return_inverse=True)
    a, b = dense[: len(src)], dense[len(src) :]
    parent = np.arange(len(vids))
    while True:
        ra, rb = parent[a], parent[b]
        split = ra != rb
        if not split.any():
            return vids, vids[parent]
        ra, rb = ra[split], rb[split]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


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
    Star rounds run only while the distinct edge set is larger than
    LOCAL_MAX_EDGES; the rest is labeled on the driver. Raises
    RuntimeError when MAX_ITERATIONS star rounds end with neither a
    fixpoint nor a small enough edge set, instead of returning partial
    clusters.

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
    # vertex ids are xxhash64 of the url: 8-byte keys shuffle ~5x less
    # than url strings, compare faster and collect compactly.
    # cluster_id = min(url) is recovered per component afterwards (same
    # membership => same min), so the string-id contract is preserved.
    # Collision odds for xxhash64 on web-corpus cardinalities are
    # ~n^2/2^65 — negligible, and a collision could only merge two
    # clusters, never corrupt ids.
    e = (
        edges.select(
            F.xxhash64("url_a").alias("src"), F.xxhash64("url_b").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )

    if checkpoint_dir is not None:
        spark = edges.sparkSession
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        _ckpt = lambda df: df.checkpoint(eager=False)  # noqa: E731
        e = e.checkpoint()
    else:
        _ckpt = lambda df: df.localCheckpoint(eager=False)  # noqa: E731
        # lazy: the size check's signature action materializes it, and
        # the driver collect or the first star round reads it back
        e = e.localCheckpoint(eager=False)
    sig = _signature(e)
    rounds = 0
    while sig[0] > LOCAL_MAX_EDGES:
        if rounds == MAX_ITERATIONS:
            raise RuntimeError(
                f"connected_components: no fixpoint after {MAX_ITERATIONS} rounds"
            )
        rounds += 1
        # lazy checkpoint: the signature action right after materializes
        # it — one Spark job per round instead of two
        prev_sig = sig
        e = _ckpt(_small_star(_large_star(e)))
        sig = _signature(e)
        if sig == prev_sig:
            # star fixpoint: edges are (member_vid, root_vid)
            member = e.select(F.col("src").alias("vid"), F.col("dst").alias("root"))
            member = member.groupBy("vid").agg(F.min("root").alias("root"))
            member = member.hint("shuffle_hash")
            break
    else:
        # at most LOCAL_MAX_EDGES edges (an empty set included): label on
        # the driver; the collect reads the checkpoint
        pdf = e.toPandas()
        vids, roots = _local_roots(
            pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)
        )
        member = F.broadcast(
            e.sparkSession.createDataFrame(
                pd.DataFrame({"vid": vids, "root": roots}), "vid long, root long"
            )
        )

    verts = vertices.select("url", F.xxhash64("url").alias("vid"))
    labeled = (
        verts.join(member, "vid", "left")
        .select("url", F.coalesce("root", F.col("vid")).alias("root"))
    )
    w = Window.partitionBy("root")
    return labeled.select(
        "url", F.min("url").over(w).alias("cluster_id")
    )
