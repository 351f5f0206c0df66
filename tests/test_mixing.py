"""Deterministic domain-weighted corpus mixing (operators/mixing.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_linking_spark.operators import mixing
from entity_linking_spark.operators.mixing import weighted_mix


def _docs(spark, n=2000, domains=("web", "wiki", "code")):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(*[F.lit(d) for d in domains]),
            (F.col("id") % len(domains) + 1).cast("int"),
        ).alias("domain"),
    )


def test_weighted_mix_exact_integer_weights(spark):
    df = _docs(spark)
    out = weighted_mix(df, {"web": 1.0, "wiki": 3.0, "code": 0.0})
    counts = {
        r.domain: r.n
        for r in out.groupBy("domain").agg(F.count("*").alias("n")).collect()
    }
    n_web = df.where("domain = 'web'").count()
    n_wiki = df.where("domain = 'wiki'").count()
    assert counts == {"web": n_web, "wiki": 3 * n_wiki}  # code dropped
    # replicas are distinct rows keyed by (doc_id, copy)
    assert out.select("doc_id", "copy").distinct().count() == out.count()
    assert out.where("domain = 'wiki'").groupBy("doc_id").count().agg(
        F.min("count"), F.max("count")
    ).collect()[0][0:2] == (3, 3)


def test_weighted_mix_fractional_concentration_and_determinism(spark, monkeypatch):
    df = _docs(spark, n=6000)
    out1 = weighted_mix(df, {"web": 0.25, "wiki": 1.5, "code": 1.0})
    # fractional keep-rate concentrates on the weight (n=2000/domain,
    # binomial 3-sigma ~ 3%)
    n = {
        r.domain: r.n
        for r in out1.groupBy("domain").agg(F.count("*").alias("n")).collect()
    }
    assert abs(n["web"] / 2000 - 0.25) < 0.03
    assert abs(n["wiki"] / 2000 - 1.5) < 0.03
    assert n["code"] == 2000
    # deterministic: same rows out regardless of partitioning or rerun
    out2 = weighted_mix(df.repartition(17), {"web": 0.25, "wiki": 1.5, "code": 1.0})
    assert out1.exceptAll(out2).count() == 0
    assert out2.exceptAll(out1).count() == 0
    # a different seed picks a different (but equally sized-ish) subset
    monkeypatch.setattr(mixing, "_SEED", 7)
    out3 = weighted_mix(df, {"web": 0.25, "wiki": 1.5, "code": 1.0})
    assert out1.exceptAll(out3).count() > 0


def test_weighted_mix_default_weight_and_validation(spark, monkeypatch):
    df = _docs(spark, n=300)
    # unknown domains drop by default, ride along with a default weight 1
    assert weighted_mix(df, {"web": 1.0}).select("domain").distinct().count() == 1
    with monkeypatch.context() as m:
        m.setattr(mixing, "_DEFAULT_WEIGHT", 1.0)
        out = weighted_mix(df, {"web": 2.0})
        assert out.select("domain").distinct().count() == 3
    with pytest.raises(ValueError):
        weighted_mix(df, {"web": -0.1})
    with pytest.raises(ValueError):
        weighted_mix(df, {"web": 1000.0})
