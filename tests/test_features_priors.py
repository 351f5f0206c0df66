"""Tests for F4/F5 feature building and the J10 prior join.

Goldens mirror the reference arithmetic (biencoder/data_process_.py:44-119
quota math; candidate_retrieval/dataset.py:300-347 probe cascade).
"""

from __future__ import annotations

from entity_linking_spark.functions.features import (
    get_candidate_representation,
    get_context_representation,
    split_context_quota,
)


# ---------------------------------------------------------------- F4 quotas


def test_quota_base_split():
    # max=32, mention 4 tokens -> lq=(32-4)//2-1=13, rq=32-4-13-2=13
    lq, rq = split_context_quota(["w"] * 20, 4, ["w"] * 20, 32)
    assert (lq, rq) == (13, 13)


def test_quota_left_donates_to_right():
    # left has 3 < 13 -> right gets 13-3=10 extra when it overflows
    lq, rq = split_context_quota(["w"] * 3, 4, ["w"] * 40, 32)
    assert (lq, rq) == (13, 23)


def test_quota_right_donates_to_left():
    lq, rq = split_context_quota(["w"] * 40, 4, ["w"] * 3, 32)
    assert (lq, rq) == (23, 13)


def test_quota_no_borrow_when_both_fit():
    lq, rq = split_context_quota(["w"] * 2, 4, ["w"] * 2, 32)
    assert (lq, rq) == (13, 13)


def test_context_representation_golden():
    out = get_context_representation(
        "alpha beta gamma", "delta epsilon", "zeta eta theta", max_seq_length=24
    )
    assert out[0] == "[CLS]" and out[-1] == "[SEP]"
    assert out[1:4] == ["alpha", "beta", "gamma"]
    assert out[4:8] == ["[unused1]", "delta", "epsilon", "[unused2]"]
    assert out[8:11] == ["zeta", "eta", "theta"]


def test_context_representation_truncates_left_tail():
    left = " ".join(f"l{i}" for i in range(30))
    out = get_context_representation(left, "m", "", max_seq_length=16)
    # mention_tokens = 3 -> lq=(16-3)//2-1=5, rq=16-3-5-2=6 -> left borrows
    # right's unused 6 -> lq=11 -> LAST 11 left tokens kept
    kept = out[1 : out.index("[unused1]")]
    assert kept == [f"l{i}" for i in range(19, 30)]


def test_candidate_representation_golden():
    out = get_candidate_representation("My Title", "some description here", 10)
    # tokens: my title [unused3] some description here -> truncate to 8
    assert out == [
        "[CLS]", "my", "title", "[unused3]", "some", "description", "here", "[SEP]",
    ]
    assert len(out) <= 10


def test_candidate_representation_no_title():
    out = get_candidate_representation(None, "plain words", 10)
    assert out == ["[CLS]", "plain", "words", "[SEP]"]


# ---------------------------------------------------------------- J10 cascade


def test_prior_fallback_cascade(spark):
    """All four probe branches of FetchCandidateEntities.process."""
    from entity_linking_spark.operators.priors import prior_fallback_join

    mentions = spark.createDataFrame(
        [("spanwins",), ("titlewins",), ("loworg",), ("lowlow",), ("nomatch",)],
        "span string",
    )
    freq = spark.createDataFrame(
        [("spanwins", 10), ("Spanwins", 5), ("Titlewins", 9)],
        "key string, freq long",
    )
    p_e_m = spark.createDataFrame(
        [
            ("spanwins", "E_RAW", 0.9),
            ("Spanwins", "E_TITLE_VARIANT", 0.8),
            ("Titlewins", "E_TITLE", 0.7),
            ("loworg", "E_LOW_ORG", 0.6),
        ],
        "key string, entity string, prior double",
    )
    p_e_m_lower = spark.createDataFrame(
        [("lowlow", "E_LOW_LOW", 0.5), ("loworg", "E_NEVER", 0.1)],
        "key string, entity string, prior double",
    )
    out = {
        r["span"]: (r["matched_key"], r["matched_map"], r["entity"])
        for r in prior_fallback_join(mentions, freq, p_e_m, p_e_m_lower).collect()
    }
    # span_freq(10) > title_freq(5) -> raw probe
    assert out["spanwins"] == ("spanwins", "p_e_m", "E_RAW")
    # span_freq 0, title_freq 9 -> title probe
    assert out["titlewins"] == ("Titlewins", "p_e_m", "E_TITLE")
    # both freqs 0, lower in p_e_m -> probe 3 (p_e_m wins over p_e_m_lower)
    assert out["loworg"] == ("loworg", "p_e_m", "E_LOW_ORG")
    # both freqs 0, lower only in p_e_m_lower -> probe 4
    assert out["lowlow"] == ("lowlow", "p_e_m_lower", "E_LOW_LOW")
    # no probe hits -> NULL candidate (reference returns [])
    assert out["nomatch"] == (None, None, None)


def test_prior_fallback_fanout_one_row_per_candidate(spark):
    from pyspark.sql import functions as F

    from entity_linking_spark.operators.priors import prior_fallback_join

    mentions = spark.createDataFrame([("multi",)], "span string")
    freq = spark.createDataFrame([("multi", 3)], "key string, freq long")
    p_e_m = spark.createDataFrame(
        [("multi", "E1", 0.6), ("multi", "E2", 0.4)],
        "key string, entity string, prior double",
    )
    empty = p_e_m.where(F.lit(False))
    rows = prior_fallback_join(mentions, freq, p_e_m, empty).collect()
    assert sorted(r["entity"] for r in rows) == ["E1", "E2"]
