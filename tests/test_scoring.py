"""Scoring: the per-url feature table and the pair scores built on it."""

from __future__ import annotations

from entity_linking_spark.operators import scoring


def test_doc_features_one_table(spark):
    """Per url: the longest mention (an equal-length tie goes to the
    smaller string), each entity's support = max over its aliases of
    1/n_ids, and NULL mention and smap for a url with no candidates —
    whose pairs score ent_score 0.0 and name_score 0.0."""
    candidates = spark.createDataFrame(
        [
            ("u1", "bb", "e1", 2), ("u1", "aa", "e2", 2), ("u1", "x", "e1", 1),
            ("u2", "long mention", "e1", 4), ("u2", "short", "e3", 1),
            ("u2", "short", "e3", 1),
        ],
        "url string, mention string, subject_id string, n_ids bigint",
    )
    embeddings = spark.createDataFrame(
        [(u, [1.0, float(i)]) for i, u in enumerate(["u1", "u2", "u3"])],
        "url string, vec array<float>",
    )
    per_url = scoring.doc_features(candidates, embeddings)
    assert sorted(per_url.columns) == ["mention", "smap", "url", "vec"]
    got = {r.url: (r.mention, r.smap) for r in per_url.collect()}
    assert got == {
        "u1": ("aa", {"e1": 1.0, "e2": 0.5}),
        "u2": ("long mention", {"e1": 0.25, "e3": 1.0}),
        "u3": (None, None),
    }

    pairs = spark.createDataFrame([("u1", "u2"), ("u1", "u3")], "url_a string, url_b string")
    scored = {r.url_b: r for r in scoring.score_pairs(pairs, per_url).collect()}
    assert scored["u2"].ent_score == 0.25  # min(1.0, 0.25) over shared e1
    assert (scored["u3"].ent_score, scored["u3"].name_score) == (0.0, 0.0)
