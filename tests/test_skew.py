"""Adaptive salted join: correctness equivalence + partition-spread evidence."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from entity_linking_spark.operators import skew


def _skewed(spark):
    # one viral key owning 90% of the probe side
    rows = [Row(key="hot", other=f"o{i}", v=i) for i in range(900)]
    rows += [Row(key=f"k{i}", other=f"o{i}", v=i) for i in range(100)]
    large = spark.createDataFrame(rows)
    small = spark.createDataFrame(
        [Row(key="hot", label="HOT")] + [Row(key=f"k{i}", label=f"L{i}") for i in range(100)]
    )
    return large, small


@pytest.fixture
def hot_over_100(monkeypatch):
    """The 900-row key is hot, the 1-row keys are not."""
    monkeypatch.setattr(skew, "HOT_THRESHOLD", 100)


@pytest.fixture
def static_shuffle(spark):
    """AQE off and 8 shuffle partitions, so the join's reduce partitions
    are the plain hash placement of (key, salt)."""
    conf = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "8"}
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def _hot_rows_per_partition(spark) -> list[int]:
    """Rows of the hot key in each reduce partition of the salted join."""
    large, small = _skewed(spark)
    out = skew.adaptive_salted_join(
        large, small, "key", ["other"], skew.hot_keys(large, "key")
    )
    rows = (
        out.select("key", F.spark_partition_id().alias("p"))
        .where(F.col("key") == "hot")
        .groupBy("p")
        .count()
        .collect()
    )
    return [c for _, c in sorted((r["p"], r["count"]) for r in rows)]


def test_salt_spreads_hot_key(spark, hot_over_100, static_shuffle):
    counts = _hot_rows_per_partition(spark)
    assert sum(counts) == 900
    assert len(counts) > 1  # the hot key spans several reduce partitions
    assert max(counts) < 900  # no single straggler partition


def test_deterministic_salted_repartition_spreads(spark, hot_over_100, static_shuffle):
    """The salt is a hash of row content (never rand() or a row id), so
    a rerun places every hot row in the same reduce partition."""
    first = _hot_rows_per_partition(spark)
    assert len(first) > 1
    assert _hot_rows_per_partition(spark) == first


def test_adaptive_salted_join_equals_plain(spark, hot_over_100):
    large, small = _skewed(spark)
    plain = large.join(small, "key", "left").select("key", "other", "v", "label")
    adaptive = skew.adaptive_salted_join(
        large, small, "key", ["other"], skew.hot_keys(large, "key")
    ).select("key", "other", "v", "label")
    assert plain.exceptAll(adaptive).count() == 0
    assert adaptive.exceptAll(plain).count() == 0


def test_adaptive_salted_join_left_semantics(spark, hot_over_100):
    large, small = _skewed(spark)
    some = small.where("key <> 'hot'")
    out = skew.adaptive_salted_join(
        large, some, "key", ["other"], skew.hot_keys(large, "key")
    )
    assert out.count() == large.count()
    assert out.where("label IS NULL").count() == 900


def test_adaptive_salts_only_hot_keys(spark, hot_over_100):
    """Cold keys must not be replicated: build-side fan-out equals
    n_small + (N_SALTS-1) * n_hot, not n_small * N_SALTS."""
    large, small = _skewed(spark)
    hot = skew.hot_keys(large, "key")
    assert [r["key"] for r in hot.collect()] == ["hot"]
    hot_b = F.broadcast(hot.withColumn("_hot", F.lit(True)))
    salts = F.array(*[F.lit(i) for i in range(skew.N_SALTS)])
    sm = small.join(hot_b, "key", "left").withColumn(
        "_salt", F.explode(F.when(F.col("_hot"), salts).otherwise(F.array(F.lit(0))))
    )
    assert sm.count() == small.count() + (skew.N_SALTS - 1) * 1


def test_score_pairs_auto_salting_identical_output(spark, monkeypatch):
    """scoring.score_pairs with a salted viral url must be row-identical
    to the same call with no url hot, on a skewed pair table (one viral
    url in most pairs)."""
    from entity_linking_spark.operators import scoring

    pairs = spark.createDataFrame(
        [Row(url_a="viral", url_b=f"u{i}") for i in range(200)]
        + [Row(url_a=f"u{i}", url_b=f"u{i+1}") for i in range(50)]
    )
    urls = ["viral"] + [f"u{i}" for i in range(201)]
    feats = spark.createDataFrame(
        [
            Row(
                url=u,
                vec=[float((hash(u) >> s) % 7 - 3) for s in range(8)],
                mention=f"m {u}",
                smap={f"e{abs(hash(u)) % 5}": 0.5},
            )
            for u in urls
        ]
    )
    cols = ["url_a", "url_b", "ent_score", "cos_score", "name_score", "score"]

    monkeypatch.setattr(skew, "HOT_THRESHOLD", pairs.count())
    base = scoring.score_pairs(pairs, feats).select(cols).collect()
    monkeypatch.setattr(skew, "HOT_THRESHOLD", 20)
    assert skew.hot_keys(pairs, "url_a").count() > 0  # the salted path runs
    salted = scoring.score_pairs(pairs, feats).select(cols).collect()
    assert sorted(base) == sorted(salted)
