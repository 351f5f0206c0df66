"""Unit tests for similarity functions: minhash, vectors, strings."""

from __future__ import annotations

import numpy as np

from entity_linking_spark.functions.minhash import (
    band_hashes,
    est_jaccard,
    minhash_signature,
)
from entity_linking_spark.functions.strings import jaro, jaro_winkler
from entity_linking_spark.functions.vectors import hash_embed_matrix


def test_minhash_deterministic():
    toks = "a b c d e f g".split()
    assert list(minhash_signature(toks)) == list(minhash_signature(toks))
    assert band_hashes(minhash_signature(toks)) == band_hashes(minhash_signature(toks))


def test_minhash_estimates_jaccard():
    a = [f"w{i}" for i in range(100)]
    b = [f"w{i}" for i in range(50, 150)]  # true 3-shingle overlap ~ 1/3
    est = est_jaccard(minhash_signature(a), minhash_signature(b))
    assert 0.15 <= est <= 0.55


def test_minhash_identical_and_disjoint():
    a = "x y z w v u t s".split()
    assert est_jaccard(minhash_signature(a), minhash_signature(a)) == 1.0
    b = "p q r m n o k l".split()
    assert est_jaccard(minhash_signature(a), minhash_signature(b)) < 0.2


def test_jaro_winkler_known_values():
    # public reference values
    assert abs(jaro("martha", "marhta") - 0.9444) < 1e-3
    assert abs(jaro_winkler("martha", "marhta") - 0.9611) < 1e-3
    assert jaro_winkler("abc", "abc") == 1.0
    assert jaro_winkler("", "abc") == 0.0
    assert jaro("abc", "xyz") == 0.0


def test_hash_embed_normalized_and_deterministic():
    m = hash_embed_matrix([["a", "b", "c"], ["a", "b", "c"], []])
    assert np.allclose(np.linalg.norm(m[0]), 1.0)
    assert np.allclose(m[0], m[1])
    assert np.allclose(m[2], 0.0)
    # similar token lists -> higher cosine than dissimilar
    m2 = hash_embed_matrix([["a", "b", "c", "d"], ["x", "y", "z", "w"]])
    cos_sim = float(m[0] @ m2[0])
    cos_dis = float(m[0] @ m2[1])
    assert cos_sim > cos_dis


def test_minhash_batch_matches_single_and_handles_edges():
    """Batch OPH path is bit-identical to the single-doc wrapper for
    every doc class: >=k tokens, short (densified from one bin), empty,
    and None."""
    from entity_linking_spark.functions.minhash import (
        bands_from_signatures,
        minhash_signatures_batch,
    )

    docs = [
        [f"w{i}" for i in range(40)],
        ["solo"],
        ["two", "tokens"],
        [],
        None,
        [f"v{i}" for i in range(5)],
    ]
    bat = minhash_signatures_batch(docs)
    for d, s in zip(docs, bat):
        if d is None:
            assert s is None
        else:
            assert np.array_equal(s, minhash_signature(d))
    bands = bands_from_signatures(bat)
    assert bands[4] is None
    assert bands[0] == band_hashes(bat[0])
    # short docs densify deterministically and still produce full bands
    assert len(bat[1]) == 64 and len(bands[1]) == 16
    assert list(bat[1]) != list(bat[2])


def test_minhash_banding_recall_on_near_dups():
    """A j~0.97 pair must share at least one LSH band (the blocking
    guarantee the near-dup pipeline rests on)."""
    base = [f"tok{i}" for i in range(100)]
    near = base[:97] + ["x1", "x2", "x3"]
    ba = band_hashes(minhash_signature(base))
    bb = band_hashes(minhash_signature(near))
    assert any(x == y for x, y in zip(ba, bb))
    # and a disjoint pair must share none
    other = [f"z{i}" for i in range(100)]
    bc = band_hashes(minhash_signature(other))
    assert not any(x == y for x, y in zip(ba, bc))


def test_cosine_col_tolerates_null_and_ragged_rows(spark):
    """A NULL (or wrong-dim) vector must give NULL for that row, not fail
    the task: one poison row once killed the whole scoring stage. s5
    turns such a pair's cosine into 0.0, which is what it scored before
    the cosine moved into the JVM."""
    from pyspark.sql import Row

    from entity_linking_spark.functions.vectors import cosine_col
    from entity_linking_spark.operators import scoring

    rows = [
        Row(a=[1.0, 0.0], b=[1.0, 0.0]),   # cos 1
        Row(a=None, b=[0.0, 1.0]),          # null side -> NULL
        Row(a=[1.0, 0.0], b=None),          # other side -> NULL
        Row(a=[1.0], b=[0.0, 1.0]),         # ragged dims -> NULL
    ]
    df = spark.createDataFrame(rows, "a array<float>, b array<float>")
    got = [r.c for r in df.coalesce(1).select(cosine_col("a", "b").alias("c")).collect()]
    assert got == [1.0, None, None, None]

    # s5: "c" has a NULL vec row, "d" no per-url feature row at all
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d")], "url_a string, url_b string"
    )
    per_url = spark.createDataFrame(
        [("a", [1.0, 0.0], "x", None), ("b", [1.0, 0.0], "x", None), ("c", None, "x", None)],
        "url string, vec array<float>, mention string, smap map<string, double>",
    )
    scored = scoring.score_pairs(pairs, per_url)
    cos = {r.url_b: r.cos_score for r in scored.collect()}
    assert cos == {"b": 1.0, "c": 0.0, "d": 0.0}


def test_cosine_col_matches_float64_numpy(spark):
    """The one cosine agrees with a float64 numpy cosine of the same
    float32 inputs within 1e-12; a zero vector scores 0.0, not NaN."""
    from entity_linking_spark.functions.vectors import EMBED_DIM, cosine_col

    rng = np.random.default_rng(7)
    a = rng.standard_normal((200, EMBED_DIM)).astype(np.float32)
    b = rng.standard_normal((200, EMBED_DIM)).astype(np.float32)
    b[:50] = a[:50] + np.float32(0.05) * b[:50]  # near-duplicates, cos ~ 1
    a[7] = 0.0
    b[9] = 0.0
    a64, b64 = a.astype(np.float64), b.astype(np.float64)
    denom = np.linalg.norm(a64, axis=1) * np.linalg.norm(b64, axis=1)
    want = np.divide(
        np.einsum("ij,ij->i", a64, b64), denom, out=np.zeros(len(a)), where=denom != 0
    )
    df = spark.createDataFrame(
        [(i, a[i].tolist(), b[i].tolist()) for i in range(len(a))],
        "i int, a array<float>, b array<float>",
    )
    got = dict(df.select("i", cosine_col("a", "b").alias("c")).collect())
    got = np.array([got[i] for i in range(len(a))])
    assert got[7] == 0.0 and got[9] == 0.0
    assert np.max(np.abs(got - want)) <= 1e-12
