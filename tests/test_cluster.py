"""Connected-components unit tests: star rounds, the driver finish and
the hybrid of both."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row, functions as F

from entity_linking_spark.operators import cluster
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
    # return the partial clusters of the last round (bound 0: star rounds)
    monkeypatch.setattr(cluster, "LOCAL_MAX_EDGES", 0)
    monkeypatch.setattr(cluster, "MAX_ITERATIONS", 1)
    vs = [f"v{i:03d}" for i in range(40)]
    with pytest.raises(RuntimeError, match="no fixpoint after 1 rounds"):
        _run(spark, [(vs[i], vs[i + 1]) for i in range(39)], vs)


def _frames(spark, edges, vertices):
    e = spark.createDataFrame(
        pd.DataFrame(edges, columns=["url_a", "url_b"], dtype=object),
        "url_a string, url_b string",
    )
    v = spark.createDataFrame(pd.DataFrame({"url": vertices}), "url string")
    return e, v


def _labels(spark, edges, vertices, bound, monkeypatch):
    monkeypatch.setattr(cluster, "LOCAL_MAX_EDGES", bound)
    out = connected_components(*_frames(spark, edges, vertices)).toPandas()
    return dict(zip(out["url"], out["cluster_id"]))


def _random_graph(seed=11, n=1500, n_edges=1200):
    rng = random.Random(seed)
    vs = [f"r{i:05d}" for i in range(n)]
    edges = [(rng.choice(vs), rng.choice(vs)) for _ in range(n_edges)]
    return edges, vs


def _shuffled_path(n, seed=5):
    vs = [f"p{i:06d}" for i in range(n)]
    order = vs[:]
    random.Random(seed).shuffle(order)
    return [(order[i], order[i + 1]) for i in range(n - 1)], vs


def _python_components(edges, vertices):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in vertices}


def test_local_roots_is_the_component_minimum():
    rng = np.random.default_rng(3)
    for n, m in [(50, 30), (400, 390), (2000, 500)]:
        src = rng.integers(-(2**62), 2**62, n)[rng.integers(0, n, m)]
        dst = rng.integers(-(2**62), 2**62, n)[rng.integers(0, n, m)]
        vids, roots = cluster._local_roots(src, dst)
        want = _python_components(zip(src.tolist(), dst.tolist()), vids.tolist())
        assert dict(zip(vids.tolist(), roots.tolist())) == want
    vids, roots = cluster._local_roots(np.array([], np.int64), np.array([], np.int64))
    assert len(vids) == len(roots) == 0


@pytest.mark.parametrize("graph", ["random", "path"])
def test_star_and_local_paths_agree(spark, monkeypatch, graph):
    edges, vs = _random_graph() if graph == "random" else _shuffled_path(50_000)
    star = _labels(spark, edges, vs, 0, monkeypatch)
    local = _labels(spark, edges, vs, 10**9, monkeypatch)
    assert star == local
    want = _python_components(edges, vs)
    assert star == want
    if graph == "random":
        assert 1 < len(set(star.values())) < len(vs)
    else:
        assert set(star.values()) == {"p000000"}


def test_hybrid_star_rounds_then_local_finish(spark, monkeypatch):
    # dense enough that star rounds drop edges (a tree keeps n - 1)
    edges, vs = _random_graph(n=600, n_edges=3000)
    counts = []
    signature = cluster._signature

    def counted(e):
        sig = signature(e)
        counts.append(sig[0])
        return sig

    monkeypatch.setattr(cluster, "_signature", counted)
    star = _labels(spark, edges, vs, 0, monkeypatch)
    n0, n1, n2 = counts[:3]
    # the bound sits between round 1's and round 2's edge count: round 1
    # and round 2 run as star rounds, the driver finishes from round 2's edges
    assert n0 > n1 > n2, counts
    counts.clear()
    hybrid = _labels(spark, edges, vs, n2, monkeypatch)
    assert counts == [n0, n1, n2]
    assert hybrid == star


def test_million_vertex_path_local(spark, monkeypatch):
    # star rounds on this path take minutes; the driver finish labels it
    monkeypatch.setattr(cluster, "LOCAL_MAX_EDGES", 10**9)
    n = 1_000_000
    url = lambda c: F.format_string("u%07d", c)  # noqa: E731
    ids = spark.range(n)
    edges = ids.where(F.col("id") < n - 1).select(
        url(F.col("id")).alias("url_a"), url(F.col("id") + 1).alias("url_b")
    )
    out = connected_components(edges, ids.select(url(F.col("id")).alias("url")))
    row = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("cluster_id").alias("k"),
        F.min("cluster_id").alias("cid"),
    ).collect()[0]
    assert (row["n"], row["k"], row["cid"]) == (n, 1, "u0000000")


def test_empty_edges_local_singletons(spark, monkeypatch):
    calls = []
    signature = cluster._signature
    monkeypatch.setattr(cluster, "_signature", lambda e: calls.append(1) or signature(e))
    vs = [f"s{i}" for i in range(5)]
    assert _labels(spark, [], vs, 10**9, monkeypatch) == {v: v for v in vs}
    assert len(calls) == 1  # the size check only: no star round ran
