"""Explicit skew handling: the adaptive salted join.

The north rule requires hot-key skew broken by salting (the reference
has NO skew handling — its hot aliases simply fan out and its ThreadPool
chunks are uneven, SURVEY §4). Three tiers in this repo:

  1. stop-key removal   non-discriminative keys dropped (blocking.py)
  2. THIS MODULE        salting for keys that are hot but must be kept
  3. AQE skew-join      runtime splitting for the residue (session.py)

``adaptive_salted_join`` is the one salted construction: ``hot_keys``
finds the keys over ``HOT_THRESHOLD`` with an exact frequency pass, and
only those are salted on the probe side and replicated on the build
side. Cold keys join exactly as in a plain equi join. Deterministic
(the salt is a hash of row content, never rand()) per the FIXTURES.md
seeding rules. Both constants are read at call time; tests and tools
override them by monkeypatching the module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

N_SALTS = 8
# A key owning more rows than this on the probe side is treated as hot:
# at the default 32-200 shuffle partitions, ~100k rows in ONE reduce
# partition is straggler territory while everything else finishes.
HOT_THRESHOLD = 100_000

def hot_keys(df: DataFrame, key: str) -> DataFrame:
    """Keys owning more than ``HOT_THRESHOLD`` rows of ``df``.

    Exact per-key frequency via two-phase groupBy().count(): map-side
    partial aggregation collapses even a 10^8-row hot key to one partial
    row per task, so finding hot keys costs a tiny count shuffle — the
    same pattern (and argument) as blocking.candidate_pairs' stop list.
    Chosen over a count-min/sample sketch: exact AND deterministic
    (FIXTURES.md seeding rules forbid rand()-dependent plans), at the
    same asymptotic cost."""
    return (
        df.groupBy(key)
        .agg(F.count("*").alias("_cnt"))
        .where(F.col("_cnt") > HOT_THRESHOLD)
        .select(key)
    )


def adaptive_salted_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    salt_cols: list[str],
    hot: DataFrame,
) -> DataFrame:
    """Left equi join of ``large`` (probe) and ``small`` (build) on
    ``key`` that salts ONLY the keys in ``hot`` — uniform workloads pay
    no replication and skewed ones get no straggler.

    ``hot`` is the hot-key set (one column, the join key), normally
    ``hot_keys`` of the probe side. The caller builds it so it can count
    a cheaper table with the same key multiplicities (e.g. the raw pair
    table instead of the pair table after a 1:1 feature join, which the
    frequency pass would otherwise re-evaluate).

    Mechanics: the (tiny by construction: <= rows/threshold keys) hot
    set broadcasts onto both sides as a map-side flag. Hot probe rows
    get a deterministic salt in [0, N_SALTS) hashed from ``salt_cols``
    (columns NOT in the key, e.g. the other id of a pair); cold rows get
    salt 0. The build side is replicated N_SALTS x for hot keys ONLY
    (explode of a conditional salt array) and kept single for cold keys.
    One equi join on (key, salt) then serves both populations —
    identical output to the unsalted left join (pytest-pinned), one
    plan, no union of split branches, and the hot key's rows land in
    N_SALTS reduce partitions instead of one. The join keeps the probe
    side, so a build replica on a salt no probe row hashes to is simply
    unmatched; a right or full join would emit it as a spurious row."""
    flag = F.broadcast(hot.withColumn("_hot", F.lit(True)))
    lg = (
        large.join(flag, [key], "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_hot"),
                F.pmod(F.xxhash64(*salt_cols), F.lit(N_SALTS)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("_hot")
    )
    salts = F.array(*[F.lit(i) for i in range(N_SALTS)])
    sm = (
        small.join(flag, [key], "left")
        .withColumn(
            "_salt", F.explode(F.when(F.col("_hot"), salts).otherwise(F.array(F.lit(0))))
        )
        .drop("_hot")
    )
    return lg.join(sm.hint("shuffle_hash"), [key, "_salt"], "left").drop("_salt")
