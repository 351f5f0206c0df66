"""Pairwise scoring: batched similarity over candidate pairs.

The reference scores each (mention, candidate) with a BERT pair
classifier and sorts by probability (entity_sort/service_main.py:145-172,
el_models.py:52-95). Our batch equivalent scores each candidate *page*
pair with a fused similarity — entity-evidence overlap + embedding
cosine + mention string similarity. Every term is a JVM Column
expression except Jaro-Winkler, which has no JVM builtin: only the two
mention strings of a pair cross Arrow, into one batched pandas UDF.

  ent_score   strongest shared entity evidence: for each doc, each
              candidate entity is supported with weight 1/n_ids (alias
              ambiguity prior, analog of the reference's entity_to_ids
              fan-out + rank); pair score = max over shared entities of
              min(support_a, support_b).
  cos_score   cosine of deterministic hash-embeddings of the full text
              (bi-encoder stand-in, SURVEY §2.10) — catches near-dup
              pages whose alias evidence was mangled.
  name_score  0.5*Jaro-Winkler + 0.5*normalized-Levenshtein over the
              docs' representative mention strings (the north rule's
              Jaro-Winkler + Levenshtein + cosine blend).

  fused = max(ent_score, cos when cos >= dup_threshold, ...) — see
  ``score_pairs``. A pair is an edge when fused >= threshold.

Shuffle inventory: the per-url feature table (``doc_features``) is a
two-level aggregate over the s3 candidates — one exchange on (url,
subject_id), one on url — left-joined to the encodings; the pair table
then takes two hash joins on url, each salted for the urls the
key-frequency pass finds hot (operators/skew.py), plus that pass's small
count shuffle per side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from entity_linking_spark.functions.strings import jaro_winkler
from entity_linking_spark.functions.vectors import cosine_col
from entity_linking_spark.operators import skew


@pandas_udf(DoubleType())
def _jaro_winkler_udf(m_a: pd.Series, m_b: pd.Series) -> pd.Series:
    """Jaro-Winkler of the two representative mention strings — the only
    per-pair kernel with no JVM builtin, so the only one that crosses
    Arrow; the Levenshtein half of the name blend and the cosine run
    JVM-side in score_pairs. A pure-Python O(len^2) Levenshtein DP per
    pair measured 2-3x slower on the whole scoring stage at 3.7M pairs.
    Representative mentions come from a bounded alias vocabulary, so
    (m_a, m_b) pairs repeat heavily across a batch — a batch-local memo
    turns most rows into a dict hit instead of an O(len^2) scan. A NULL
    side scores 0.0."""
    memo: dict[tuple[str, str], float] = {}

    def jw(x, y) -> float:
        if not (isinstance(x, str) and isinstance(y, str)):
            return 0.0
        key = (x, y)
        v = memo.get(key)
        if v is None:
            v = memo[key] = jaro_winkler(x, y)
        return v

    return pd.Series(
        np.fromiter((jw(x, y) for x, y in zip(m_a, m_b)), dtype=np.float64, count=len(m_a))
    )


MATCH_THRESHOLD = 0.75
DUP_COSINE_THRESHOLD = 0.92
STRONG_SUPPORT = 0.9  # support 1/n_ids above this = unambiguous alias
# The threshold sits ABOVE the maximum blend score reachable from
# ambiguous-alias evidence alone (support 1/2 -> 0.55*0.5 + 0.25 + 0.20
# ceiling ≈ 0.72): two pages sharing only a collision alias (e.g. the
# reference's one-alias-many-ids entity_to_ids rows) must not link, no
# matter how similar their top mentions look — blocking already
# guarantees shared keys, so name similarity is not independent evidence.


def doc_features(candidates: DataFrame, embeddings: DataFrame) -> DataFrame:
    """The per-url feature table ``(url, vec, mention, smap)`` of
    score_pairs: every url of ``embeddings`` (the pipeline's s1b
    encodings), with its candidate evidence from ``candidates`` (s3), or
    NULL mention and smap when it has none.

    One two-level aggregate: per (url, subject_id) the support max over
    its aliases of 1/n_ids, and the longest mention (longest-alias-wins,
    reference el_process.py:65; an equal-length tie goes to the smaller
    string); per url the support map (subject_id -> support) and the
    longest of those mentions. The ambiguity cap upstream bounds each
    map to a handful of entries, and shipping it once per pair side lets
    score_pairs intersect maps in the JVM instead of joining the pair
    table to an exploded supports table and re-aggregating."""
    per_entity = candidates.groupBy("url", "subject_id").agg(
        F.max(1.0 / F.col("n_ids")).alias("support"),
        F.min(F.struct((-F.length("mention")).alias("neg_len"), "mention")).alias("top"),
    )
    per_url = per_entity.groupBy("url").agg(
        F.min("top")["mention"].alias("mention"),
        F.map_from_entries(F.collect_list(F.struct("subject_id", "support"))).alias("smap"),
    )
    return embeddings.join(per_url.hint("shuffle_hash"), "url", "left")


def score_pairs(pairs: DataFrame, per_url: DataFrame) -> DataFrame:
    """Fused pair scores: (url_a, url_b, ent_score, cos_score, name_score,
    score).

    When a viral page appears in a disproportionate share of candidate
    pairs (hot url key), the pair->feature joins salt that url so it
    spreads over many reducers (``skew.adaptive_salted_join``); urls
    under ``skew.HOT_THRESHOLD`` join as in a plain equi join, so uniform
    corpora pay only the map-side-combined key-frequency pass."""
    # ``per_url`` (doc_features) holds every per-url feature, so the big
    # pair table is joined exactly twice (a-side, b-side).
    fa = per_url.select(
        F.col("url").alias("url_a"), F.col("vec").alias("vec_a"),
        F.col("mention").alias("m_a"), F.col("smap").alias("smap_a"),
    )
    fb = per_url.select(
        F.col("url").alias("url_b"), F.col("vec").alias("vec_b"),
        F.col("mention").alias("m_b"), F.col("smap").alias("smap_b"),
    )
    # both hot sets come from the RAW pair table: the feature joins are
    # 1:1 per url, so url_b multiplicity after the first join equals its
    # multiplicity in pairs — counting there would re-evaluate the first
    # join just to count keys
    feat = skew.adaptive_salted_join(
        skew.adaptive_salted_join(
            pairs, fa, "url_a", ["url_b"], skew.hot_keys(pairs, "url_a")
        ),
        fb, "url_b", ["url_a"], skew.hot_keys(pairs, "url_b"),
    )

    # ent_score = max over shared candidate entities of min(support_a,
    # support_b) — pure Column expressions (map_filter + try_element_at),
    # no Python, no shuffle.
    shared = F.map_filter(
        F.col("smap_a"), lambda k, v: F.map_contains_key(F.col("smap_b"), k)
    )
    ent_expr = F.array_max(
        F.transform(
            F.map_entries(shared),
            lambda e: F.least(e["value"], F.try_element_at(F.col("smap_b"), e["key"])),
        )
    )
    ent_score = F.when(
        F.col("smap_a").isNotNull() & F.col("smap_b").isNotNull(),
        F.coalesce(ent_expr, F.lit(0.0)),
    ).otherwise(F.lit(0.0))
    feat = feat.withColumn("ent_score", ent_score)
    # name similarity = mean of Jaro-Winkler and normalized Levenshtein —
    # the specified blend. JW rewards shared prefixes (title variants),
    # Levenshtein penalizes mid-string edits JW forgives; both are 1.0 on
    # equal mentions so exact alias matches keep full weight. Levenshtein
    # is Spark's JVM builtin (whole-stage codegen); only JW needs Python.
    lev_sim = F.when(
        F.col("m_a").isNotNull() & F.col("m_b").isNotNull(),
        1.0
        - F.levenshtein("m_a", "m_b")
        / F.greatest(F.length("m_a"), F.length("m_b"), F.lit(1)),
    ).otherwise(F.lit(0.0))
    # a pair whose side found no embedding in the left feature join
    # scores cosine 0.0, not NULL
    feat = feat.withColumn(
        "cos_score", F.coalesce(cosine_col("vec_a", "vec_b"), F.lit(0.0))
    ).withColumn(
        "name_score", 0.5 * _jaro_winkler_udf("m_a", "m_b") + 0.5 * lev_sim
    )
    # fusion: unambiguous shared entity is decisive; near-identical text
    # (near-dup page) is decisive; otherwise a weighted blend.
    fused = F.greatest(
        F.when(F.col("ent_score") >= F.lit(STRONG_SUPPORT), F.col("ent_score")).otherwise(
            F.lit(0.0)
        ),
        F.when(
            F.col("cos_score") >= F.lit(DUP_COSINE_THRESHOLD), F.col("cos_score")
        ).otherwise(F.lit(0.0)),
        F.col("ent_score") * 0.55 + F.col("cos_score") * 0.25 + F.col("name_score") * 0.20,
    )
    return feat.select(
        "url_a", "url_b", "ent_score", "cos_score", "name_score", fused.alias("score")
    )


def match_edges(scored: DataFrame) -> DataFrame:
    """Edges of the linkage graph: pairs scoring >= ``MATCH_THRESHOLD``
    (reference analog: candidates whose pair-classifier prob clears the
    decision, service_main.py:170-172)."""
    return scored.where(F.col("score") >= MATCH_THRESHOLD).select("url_a", "url_b")
