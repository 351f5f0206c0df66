"""The runtime seam: scan spreading, footer row counts, cache lifetime."""

from __future__ import annotations

import os
import sys
import threading
from types import SimpleNamespace

import pytest
from pyspark.sql import Row, functions as F

import __spark_entry__ as entry
from entity_linking_spark import runtime, session
from entity_linking_spark.operators import ann

SF_DIR = entry.SF0001
SF01_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.1")
TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _aliases(spark, rows):
    return spark.createDataFrame(
        [Row(alias=a, subject_id=s) for a, s in rows], "alias string, subject_id string"
    )


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_input_rows_filters_joins_partitions(spark, tmp_path):
    p = str(tmp_path / "aliases_pq")
    _aliases(spark, [(f"alias {i}", f"e{i}") for i in range(37)]).write.parquet(p)
    a = spark.read.parquet(p)
    # rows are counted BEFORE filters: a filtered plan sizes its input
    assert runtime.input_rows(a.where("subject_id < 'e5'")) == 37
    # a join sums the footer rows of both inputs
    q = str(tmp_path / "other_pq")
    _aliases(spark, [(f"other {i}", f"o{i}") for i in range(11)]).write.parquet(q)
    assert runtime.input_rows(a.join(spark.read.parquet(q), "alias")) == 48
    # a persisted plan still reads its files, before and after the cache fills
    cached = a.where("subject_id < 'e5'").persist()
    try:
        assert runtime.input_rows(cached) == 37
        cached.count()
        assert runtime.input_rows(cached) == 37
        assert runtime.input_rows(cached.select("alias")) == 37
    finally:
        cached.unpersist()
    # partitionBy nests files under key=value/ directories
    r = str(tmp_path / "partitioned_pq")
    _aliases(spark, [(f"a{i}", f"e{i % 3}") for i in range(20)]).write.partitionBy(
        "subject_id"
    ).parquet(r)
    assert runtime.input_rows(spark.read.parquet(r)) == 20
    per_file = runtime.parquet_rows(r)
    assert sum(per_file.values()) == 20
    assert all(f.startswith("subject_id=") for f in per_file)


def test_spread_only_below_the_core_count(spark):
    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 100, 1, par)
    assert runtime.spread(wide) is wide
    assert "Repartition" not in wide._jdf.queryExecution().logical().toString()
    narrow = spark.range(0, 100, 1, 1)
    out = runtime.spread(narrow)
    assert out.rdd.getNumPartitions() == par
    assert "Repartition" in out._jdf.queryExecution().logical().toString()


def test_cache_scope_releases_appends_from_concurrent_threads(spark):
    scope = runtime.CacheScope()
    before = _persisted(spark)

    def pin(t: int) -> None:
        for i in range(3):
            df = spark.range(1000 * t + 100 * i, 1000 * t + 100 * i + 50).persist()
            df.count()
            scope.append(df)

    threads = [threading.Thread(target=pin, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    assert len(_persisted(spark) - before) == 12
    scope.release()
    assert not _persisted(spark) - before


def test_cache_scope_loses_no_append_under_concurrent_release():
    # more threads than cores appending while another thread releases:
    # every frame must be unpersisted exactly once, none dropped or doubled
    class Frame:
        def __init__(self):
            self.unpersisted = 0

        def unpersist(self, blocking):
            self.unpersisted += 1

    scope = runtime.CacheScope()
    frames = [[Frame() for _ in range(500)] for _ in range(16)]
    done = threading.Event()

    def add(batch):
        for f in batch:
            scope.append(f)

    def release_loop():
        while not done.is_set():
            scope.release()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        releaser = threading.Thread(target=release_loop)
        releaser.start()
        adders = [threading.Thread(target=add, args=(b,)) for b in frames]
        for t in adders:
            t.start()
        for t in adders:
            t.join(timeout=60)
            assert not t.is_alive()
        done.set()
        releaser.join(timeout=60)
        assert not releaser.is_alive()
    finally:
        sys.setswitchinterval(old)
    scope.release()
    assert all(f.unpersisted == 1 for batch in frames for f in batch)


def test_entries_release_the_previous_querys_pins(spark):
    # mention_detect_greedy pins the corpus-token and alias tables
    # (detect_mentions_join); building the next entry — a plain
    # __spark_entry__ function or an @query one — must drop them
    queries = entry.queries()
    for follower in ("rolling_fingerprint", "p3_p4_p5_p6_p7_filter_suite"):
        before = _persisted(spark)
        queries["mention_detect_greedy"](spark, SF_DIR).count()
        pinned = _persisted(spark) - before
        assert len(pinned) == 2
        queries[follower](spark, SF_DIR)
        assert not pinned & _persisted(spark), follower


def test_lm_gate_answer_survives_the_next_query_releasing_its_pins(spark):
    # building the next entry releases lm_perplexity's pinned scores
    # before lm's own action runs; neither answer may change
    queries = entry.queries()
    lm_q, follower = queries["lm_perplexity"], queries["mention_detect_greedy"]
    want_lm = sorted(map(tuple, lm_q(spark, SF_DIR).collect()))
    want_follower = sorted(map(tuple, follower(spark, SF_DIR).collect()))
    before = _persisted(spark)
    lm_df = lm_q(spark, SF_DIR)
    pinned = _persisted(spark) - before
    follower_df = follower(spark, SF_DIR)
    assert pinned and not pinned & _persisted(spark)
    assert sorted(map(tuple, lm_df.collect())) == want_lm
    assert sorted(map(tuple, follower_df.collect())) == want_follower


@pytest.mark.parametrize(
    "name",
    [
        "semantic_dedup",
        "lm_perplexity",
        "dedup_minhash_pairs",
        "mention_detect_greedy",
        "minhash_near_dup_clusters",
        "entry",
    ],
)
def test_answer_survives_a_cleared_cache(spark, name):
    """Every entry that pins frames gives the same value hash when all
    caches are dropped between two collects of the same DataFrame."""
    if TOOLS not in sys.path:
        sys.path.insert(0, TOOLS)
    from oracle_check import value_hash

    df = entry.entry(spark) if name == "entry" else entry.queries()[name](spark, SF_DIR)
    first = value_hash(df.columns, [tuple(r) for r in df.collect()])
    spark.catalog.clearCache()
    assert value_hash(df.columns, [tuple(r) for r in df.collect()]) == first
    spark.catalog.clearCache()


def test_global_offsets_is_the_exact_prefix_sum(spark):
    # heavy ties on the first key, and a key beyond 2^53 where
    # long -> double collides: the exact (k, id) order still decides
    big = 2**60
    df = spark.range(500).select(
        "id",
        F.when(F.col("id") % 3 == 0, F.lit(big) + F.col("id") % 5)
        .otherwise(F.col("id") % 11).alias("k"),
        (F.col("id") % 7 + 1).alias("w"),
    )
    out, total = runtime.global_offsets(df, ["k", "id"], F.col("w"))
    rows = sorted(out.collect(), key=lambda r: (r.k, r.id))
    acc = 0
    for r in rows:
        assert r._off == acc
        acc += r.w
    assert total == acc and len(rows) == 500
    empty, total = runtime.global_offsets(df.where("id < 0"), ["k", "id"], F.lit(1))
    assert empty.collect() == [] and total == 0
    for bad in ("CAST(NULL AS DOUBLE)", "CAST('NaN' AS DOUBLE)"):
        keyed = df.withColumn("k", F.expr(f"IF(id = 7, {bad}, CAST(k AS DOUBLE))"))
        with pytest.raises(ValueError):
            runtime.global_offsets(keyed, ["k", "id"], F.lit(1))


def test_ann_lsh_plane_count_from_footers(spark, monkeypatch):
    import pyarrow.parquet as pq

    seen = []
    monkeypatch.setattr(ann, "lsh_topk", lambda *a, **kw: seen.append(kw["n_planes"]))
    for sf, planes in ((SF_DIR, 4), (SF01_DIR, 6)):
        n = pq.ParquetFile(f"{sf}/embeddings.parquet").metadata.num_rows
        assert max(2, min(16, (max(n, 64) // 32).bit_length())) == planes
        entry._ann_lsh(spark, sf)
        assert seen[-1] == planes


def test_failed_warmup_is_tried_once_per_session():
    attempts = []

    class _Conf(dict):
        def set(self, k, v):
            self[k] = v

    def _range(*_args):
        attempts.append(1)
        raise RuntimeError("warm-up job failed")

    stub = SimpleNamespace(
        conf=_Conf(), sparkContext=SimpleNamespace(defaultParallelism=2), range=_range
    )
    session._warm_python_workers(stub)
    session._warm_python_workers(stub)
    assert len(attempts) == 1


def test_session_conf_overrides_shuffle_partitions(spark):
    """The test session's extra_conf wins over get_spark's default of
    max(DEFAULT_SHUFFLE_PARTITIONS, cores)."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
