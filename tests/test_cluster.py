"""Connected-components (large-star/small-star) unit tests."""

from __future__ import annotations

from pyspark.sql import Row

from entity_linking_spark.operators.cluster import connected_components


def _run(spark, edges, vertices):
    e = spark.createDataFrame(
        [Row(url_a=a, url_b=b) for a, b in edges] or [], "url_a string, url_b string"
    )
    v = spark.createDataFrame([Row(url=u) for u in vertices], "url string")
    out = connected_components(e, v)
    return {r["url"]: r["cluster_id"] for r in out.collect()}


def test_triangle_and_isolated(spark):
    got = _run(spark, [("b", "a"), ("b", "c")], ["a", "b", "c", "d"])
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d"}


def test_long_path(spark):
    # path graph: worst case for naive propagation; log rounds for star alg
    n = 40
    vs = [f"v{i:03d}" for i in range(n)]
    edges = [(vs[i], vs[i + 1]) for i in range(n - 1)]
    got = _run(spark, edges, vs)
    assert set(got.values()) == {"v000"}


def test_two_components_and_dup_edges(spark):
    edges = [("a", "b"), ("b", "a"), ("a", "b"), ("x", "y"), ("y", "z")]
    got = _run(spark, edges, ["a", "b", "x", "y", "z"])
    assert got["a"] == got["b"] == "a"
    assert got["x"] == got["y"] == got["z"] == "x"


def test_no_edges(spark):
    got = _run(spark, [], ["a", "b"])
    assert got == {"a": "a", "b": "b"}


def test_star_already(spark):
    got = _run(spark, [("a", "b"), ("a", "c"), ("a", "d")], ["a", "b", "c", "d"])
    assert set(got.values()) == {"a"}


def test_no_fixpoint_raises(spark, monkeypatch):
    # a round budget too small for the path must fail loudly, never
    # return the partial clusters of the last round
    import pytest

    from entity_linking_spark.operators import cluster

    monkeypatch.setattr(cluster, "MAX_ITERATIONS", 1)
    vs = [f"v{i:03d}" for i in range(40)]
    with pytest.raises(RuntimeError, match="no fixpoint after 1 rounds"):
        _run(spark, [(vs[i], vs[i + 1]) for i in range(39)], vs)
