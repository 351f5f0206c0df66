"""Evaluation metrics: pairwise P/R/F1 and recall@k.

Pairwise F1 uses exactly the reference's pair-classification formula
(entity_sort/el_main.py:303-306 — p = TP/(TP+FP), r = TP/(TP+FN),
f1 = 2pr/(p+r)) applied to cluster agreement on labeled pairs: a pair is
predicted positive iff both urls land in the same cluster. This is the
BASELINE.json acceptance metric (F1 >= 0.99 on labeled same-block pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pairwise_prf(clusters: DataFrame, labeled_pairs: DataFrame) -> dict[str, float]:
    """P/R/F1 of same-cluster prediction against labeled pairs."""
    ca = clusters.select(
        F.col("url").alias("url_a"), F.col("cluster_id").alias("cid_a")
    )
    cb = clusters.select(
        F.col("url").alias("url_b"), F.col("cluster_id").alias("cid_b")
    )
    joined = (
        labeled_pairs.join(ca, "url_a", "left")
        .join(cb, "url_b", "left")
        .withColumn(
            "pred",
            F.col("cid_a").isNotNull()
            & F.col("cid_b").isNotNull()
            & (F.col("cid_a") == F.col("cid_b")),
        )
    )
    agg = joined.agg(
        F.sum((F.col("pred") & F.col("is_match")).cast("long")).alias("tp"),
        F.sum((F.col("pred") & ~F.col("is_match")).cast("long")).alias("fp"),
        F.sum((~F.col("pred") & F.col("is_match")).cast("long")).alias("fn"),
        F.count("*").alias("n"),
    ).collect()[0]
    tp, fp, fn = int(agg["tp"] or 0), int(agg["fp"] or 0), int(agg["fn"] or 0)
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"precision": p, "recall": r, "f1": f1, "tp": tp, "fp": fp, "fn": fn,
            "n_pairs": int(agg["n"])}


def truth_labeled_pairs(truth: DataFrame, candidate_pairs: DataFrame) -> DataFrame:
    """(url_a, url_b, is_match) pairs labeled by a (url, truth_entity) table.

    Positives are every same-truth pair with url_a < url_b, including
    pairs blocking missed, so recall is measured against ground truth.
    Negatives are the candidate (url_a, url_b) pairs whose truth entities
    differ: same-block non-matches the scorer must reject. Urls with a
    NULL truth entity are in neither.
    """
    truth = truth.where(F.col("truth_entity").isNotNull())
    ta = truth.select(F.col("url").alias("url_a"), F.col("truth_entity").alias("t_a"))
    tb = truth.select(F.col("url").alias("url_b"), F.col("truth_entity").alias("t_b"))
    # entity groups are small, so the self-join output is
    # O(n * docs_per_entity), not O(n^2)
    pos = (
        ta.join(tb.hint("shuffle_hash"), ta.t_a == tb.t_b)
        .where(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b", F.lit(True).alias("is_match"))
    )
    neg = (
        candidate_pairs.join(ta, "url_a")
        .join(tb.hint("shuffle_hash"), "url_b")
        .where(F.col("t_a") != F.col("t_b"))
        .select("url_a", "url_b", F.lit(False).alias("is_match"))
    )
    return pos.unionByName(neg)
