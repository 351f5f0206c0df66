"""J10: p_e_m prior lookup with ordered key fallbacks.

Clean-room re-expression of the reference's FetchCandidateEntities.process
(entity_candidate/candidate_retrieval/dataset.py:300-347): a mention span
is probed against the prior dictionaries with an ORDER-SENSITIVE cascade —

  title      = span.title()               (F14; initcap for 1-word spans)
  title_freq = mention_total_freq[title]  (0 if absent)
  span_freq  = mention_total_freq[span]   (0 if absent)

  if title_freq == 0 and span_freq == 0:
      p_e_m[span.lower()]             # probe 3: lowered span, original map
      else p_e_m_lower[span.lower()]  # probe 4: lowered map
      else []
  elif span_freq > title_freq:  p_e_m[span]    # probe 1: raw wins
  else:                         p_e_m[title]   # probe 2: title-cased wins

Spark-first shape, two phases so probe fallbacks never multiply rows:
phase 1 RESOLVES the winning (key, map) per mention using broadcast
existence/frequency lookups only; phase 2 fans out to candidates with a
single broadcast join against the chosen map. The prior tables are small
side inputs (the reference pickles fit a driver dict), so every join is
a broadcast — the mention stream itself is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def prior_fallback_join(
    mentions: DataFrame,
    freq: DataFrame,
    p_e_m: DataFrame,
    p_e_m_lower: DataFrame,
) -> DataFrame:
    """Attach prior candidates to mentions with the 4-probe cascade.

    mentions:    any DF with a ``span`` column
    freq:        (key string, freq long)        — mention_total_freq
    p_e_m:       (key string, entity string, prior double)
    p_e_m_lower: (key string, entity string, prior double)

    Returns mentions + (matched_key, matched_map, entity, prior) — one row
    per mention x candidate; NULL candidate columns when every probe
    misses (the reference returns [] there).
    """
    span = F.col("span")
    # F14: span.title() — for single-word spans initcap == str.title();
    # multi-word spans can differ on digit-adjacent letters ('44th'.title()
    # == '44Th' but initcap -> '44th'). The cascade itself is what J10
    # pins; single-token parity is documented and golden-tested.
    m = mentions.withColumn("_title", F.initcap(span)).withColumn(
        "_lower", F.lower(span)
    )

    f_title = freq.select(F.col("key").alias("_fk_t"), F.col("freq").alias("_f_title"))
    f_span = freq.select(F.col("key").alias("_fk_s"), F.col("freq").alias("_f_span"))
    pem_keys = p_e_m.select(F.col("key").alias("_pk")).distinct().withColumn(
        "_in_pem", F.lit(True)
    )
    peml_keys = p_e_m_lower.select(F.col("key").alias("_plk")).distinct().withColumn(
        "_in_peml", F.lit(True)
    )

    # Broadcast hints are INTENTIONAL here (audited round 4, kept): the
    # p_e_m prior dict is a bounded precomputed artifact (crosswikis-style
    # key->entity priors, reference loads it whole in memory,
    # el_process.py analog) whose key projections are a few hundred MB at
    # most — and the alternative is FOUR shuffles of the mention table.
    # A beyond-broadcast prior store would need bucket-joins on key, a
    # different operator; documented boundary, not an oversight.
    m = (
        m.join(F.broadcast(f_title), F.col("_title") == F.col("_fk_t"), "left")
        .join(F.broadcast(f_span), span == F.col("_fk_s"), "left")
        .join(F.broadcast(pem_keys), F.col("_lower") == F.col("_pk"), "left")
        .join(F.broadcast(peml_keys), F.col("_lower") == F.col("_plk"), "left")
    )

    tf = F.coalesce(F.col("_f_title"), F.lit(0))
    sf = F.coalesce(F.col("_f_span"), F.lit(0))
    both_zero = (tf == 0) & (sf == 0)

    # phase 1: one (matched_key, matched_map) per mention — order-sensitive
    resolved = m.withColumn(
        "matched_key",
        F.when(both_zero & F.col("_in_pem"), F.col("_lower"))
        .when(both_zero & F.col("_in_peml"), F.col("_lower"))
        .when(both_zero, F.lit(None).cast("string"))
        .when(sf > tf, span)
        .otherwise(F.col("_title")),
    ).withColumn(
        "matched_map",
        F.when(both_zero & F.col("_in_pem"), F.lit("p_e_m"))
        .when(both_zero & F.col("_in_peml"), F.lit("p_e_m_lower"))
        .when(both_zero, F.lit(None).cast("string"))
        .otherwise(F.lit("p_e_m")),
    ).select(*mentions.columns, "matched_key", "matched_map")

    # phase 2: single candidate fan-out against the union of both maps
    cands = p_e_m.select(
        F.lit("p_e_m").alias("matched_map"),
        F.col("key").alias("matched_key"),
        "entity",
        "prior",
    ).unionByName(
        p_e_m_lower.select(
            F.lit("p_e_m_lower").alias("matched_map"),
            F.col("key").alias("matched_key"),
            "entity",
            "prior",
        )
    )
    return resolved.join(F.broadcast(cands), ["matched_map", "matched_key"], "left")
