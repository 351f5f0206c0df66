"""Sequence packing: exact replay, token conservation, determinism."""

import random

import pytest
from pyspark.sql import functions as F

from entity_linking_spark.operators.packing import pack_sequences


def _mk(spark, docs):
    return spark.createDataFrame(docs, "doc_id long, text string")


def _hash_order(spark, df, seed=42):
    """The deterministic corpus order pack_sequences uses, read back
    from Spark (xxhash64 is not replayable in pure Python)."""
    rows = df.select(
        "doc_id", F.xxhash64(F.col("doc_id"), F.lit(seed)).alias("k")
    ).collect()
    return [r.doc_id for r in sorted(rows, key=lambda r: (r.k, r.doc_id))]


def _replay(docs_by_id, order, seq_len, drop_last=True):
    """From-first-principles packing replay over the given order."""
    stream = []  # (doc_id, token_index_within_doc)
    for did in order:
        toks = docs_by_id[did].split(" ")
        stream.extend((did, i) for i in range(len(toks)))
    n_seqs = (
        len(stream) // seq_len
        if drop_last
        else -(-len(stream) // seq_len)
    )
    out = set()
    for s in range(n_seqs):
        chunk = stream[s * seq_len : (s + 1) * seq_len]
        runs = {}
        for off, (did, ti) in enumerate(chunk):
            if did not in runs:
                runs[did] = [ti, 0, off]
            runs[did][1] += 1
        for did, (start, ln, off) in runs.items():
            out.add((s, did, start, ln, off))
    return out


def test_packing_exact_replay(spark):
    rng = random.Random(7)
    docs = [
        (i, " ".join(f"d{i}t{j}" for j in range(rng.randint(1, 37))))
        for i in range(40)
    ]
    df = _mk(spark, docs)
    L = 25
    got = {
        (r.seq_id, r.doc_id, r.slice_start, r.slice_len, r.seq_off)
        for r in pack_sequences(df, L).collect()
    }
    expect = _replay(dict(docs), _hash_order(spark, df), L)
    assert got == expect


def test_packing_token_conservation_and_lengths(spark):
    rng = random.Random(11)
    docs = [
        (i, " ".join(f"w{j}" for j in range(rng.randint(1, 90))))
        for i in range(60)
    ]
    df = _mk(spark, docs)
    L = 64
    total = sum(len(t.split(" ")) for _, t in docs)
    packed = pack_sequences(df, L).collect()
    # every complete sequence holds exactly L tokens
    per_seq = {}
    for r in packed:
        per_seq[r.seq_id] = per_seq.get(r.seq_id, 0) + r.slice_len
    assert set(per_seq) == set(range(total // L))
    assert all(v == L for v in per_seq.values())


def test_packing_deterministic_across_partitionings(spark):
    docs = [(i, " ".join(f"x{j}" for j in range(1 + i % 23))) for i in range(80)]
    df = _mk(spark, docs)
    a = {tuple(r) for r in pack_sequences(df, 32).collect()}
    b = {tuple(r) for r in pack_sequences(df.repartition(7), 32).collect()}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        c = {tuple(r) for r in pack_sequences(df.coalesce(1), 32).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b == c


def test_packing_survives_a_cleared_cache(spark):
    """Dropping every cache between build and action must not change
    the packing: token offsets are keyed on data, not on a partition id."""
    docs = [(i, " ".join(f"x{j}" for j in range(1 + i % 23))) for i in range(300)]
    df = _mk(spark, docs).repartition(4)
    want = sorted(map(tuple, pack_sequences(df, 32).collect()))
    built = pack_sequences(df, 32)
    spark.catalog.clearCache()
    assert sorted(map(tuple, built.collect())) == want


def test_packing_plan_reads_no_partition_id(spark):
    df = _mk(spark, [(i, "a b c") for i in range(10)])
    plan = pack_sequences(df, 4)._jdf.queryExecution().analyzed().toString()
    assert "SPARK_PARTITION_ID" not in plan


def test_packing_scope_releases_its_pins(spark):
    """Every call pins its narrow projection; one caller-owned scope
    releases the pins of all of them."""
    from entity_linking_spark import runtime

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    df = _mk(spark, [(i, " ".join(["w"] * (1 + i % 7))) for i in range(60)])
    before = persisted()
    scope = runtime.CacheScope()
    for i in range(3):
        pack_sequences(df.where(F.col("doc_id") >= i), 8, cache_registry=scope).count()
    assert len(persisted() - before) == 3
    scope.release()
    assert not persisted() - before


def test_packing_doc_spanning_many_sequences(spark):
    """A single giant doc stripes across consecutive sequences with
    contiguous slices at seq_off 0."""
    df = _mk(spark, [(1, " ".join(f"t{j}" for j in range(100)))])
    rows = sorted(
        pack_sequences(df, 16).collect(), key=lambda r: r.seq_id
    )
    assert len(rows) == 6  # 100 // 16 complete sequences
    for i, r in enumerate(rows):
        assert (r.seq_id, r.doc_id, r.slice_start, r.slice_len, r.seq_off) == (
            i, 1, i * 16, 16, 0
        )


def test_packing_validates_and_handles_edges(spark):
    with pytest.raises(ValueError, match="seq_len"):
        pack_sequences(_mk(spark, [(1, "a b")]), 0)
    # null text dropped; corpus smaller than one sequence -> empty map
    df = spark.createDataFrame(
        [(1, "a b c"), (2, None)], "doc_id long, text string"
    )
    assert pack_sequences(df, 10).collect() == []
