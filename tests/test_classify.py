"""Tests for operators/classify.py — NB quality classifier + Pareto keep.

The gate row (plans/queries.py::nb_quality_classifier) replays
train+score against DuckDB at sf0.01; these tests pin the math from
first principles on hand-checkable corpora, the <unk> fold, vocab
tie-breaks, the degenerate one-class behavior, and the deterministic
Pareto importance-sampling keep (which the oracle cannot replay —
xxhash64 — so it is pinned here, the weighted_mix convention).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from entity_linking_spark import runtime
from entity_linking_spark.operators import classify
from entity_linking_spark.operators.classify import (
    NBQualityModel,
    nb_log_odds,
    pareto_keep,
    train_nb_quality,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, label boolean")


def _replay_log_odds(corpus, vocab_size, k=1.0):
    """Pure-Python from-first-principles replay of train + score."""
    toks = [(lab, t) for lab, text in corpus for t in text.lower().split(" ")]
    counts: dict[str, int] = {}
    for _, t in toks:
        if t != "<unk>":
            counts[t] = counts.get(t, 0) + 1
    vocab = set(
        t for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            :vocab_size
        ]
    )
    fold = lambda t: t if t in vocab else "<unk>"
    c_pos: dict[str, int] = {}
    c_neg: dict[str, int] = {}
    for lab, t in toks:
        d = c_pos if lab else c_neg
        tm = fold(t)
        d[tm] = d.get(tm, 0) + 1
    n_pos, n_neg = sum(c_pos.values()), sum(c_neg.values())
    v_eff = len(vocab) + 1
    d_pos = sum(1 for lab, _ in corpus if lab)
    d_neg = len(corpus) - d_pos
    out = {}
    for i, (lab, text) in enumerate(corpus):
        llrs = [
            math.log((c_pos.get(fold(t), 0) + k) / (n_pos + k * v_eff))
            - math.log((c_neg.get(fold(t), 0) + k) / (n_neg + k * v_eff))
            for t in text.lower().split(" ")
        ]
        out[i] = (
            len(llrs),
            round(math.log(d_pos / d_neg) + sum(llrs), 4),
            round(sum(llrs) / len(llrs), 4),
        )
    return out


def test_hand_replay_exact(spark):
    corpus = [
        (True, "good clean prose about cats"),
        (True, "clean prose about dogs and cats"),
        (False, "zz zz spam spam buy buy"),
        (False, "spam buy zz prose"),
    ]
    rows = [(i, text, lab) for i, (lab, text) in enumerate(corpus)]
    df = _docs(spark, rows)
    model = train_nb_quality(df, vocab_size=100)
    got = {
        r.doc_id: (r.n_toks, r.log_odds, r.mean_llr)
        for r in nb_log_odds(df, model).collect()
    }
    want = _replay_log_odds(corpus, vocab_size=100)
    assert got == want


def test_unk_fold_and_vocab_cap(spark):
    # vocab_size=2 -> only the two most frequent tokens survive; every
    # other token (and a literal '<unk>' in the corpus) folds to UNK
    # and scores identically to any other OOV token.
    rows = [
        (0, "a a a b b rare1", True),
        (1, "a b <unk>", False),
        (2, "a b rare2", False),
    ]
    df = _docs(spark, rows)
    model = train_nb_quality(df, vocab_size=2)
    assert {r.token for r in model.vocab.collect()} == {"a", "b"}
    scored = {r.doc_id: r.log_odds for r in nb_log_odds(df, model).collect()}
    # doc 1 ('<unk>' literal) and doc 2 ('rare2' OOV) have identical
    # token sequences after the fold -> identical scores
    assert scored[1] == scored[2]


def test_vocab_tiebreak_deterministic(spark):
    # four tokens with equal counts: tie breaks token ASC
    rows = [(0, "d c b a", True), (1, "a b c d", False)]
    model = train_nb_quality(_docs(spark, rows), vocab_size=2)
    assert sorted(r.token for r in model.vocab.collect()) == ["a", "b"]


def test_separation_on_structured_corpus(spark):
    # natural docs share phrase structure; junk is distinct gibberish.
    nat = [(i, "the quick brown fox jumps over the lazy dog", True) for i in range(20)]
    junk = [(100 + i, f"qz{i} wx{i} vv{i} kj{i} zz{i}", False) for i in range(10)]
    df = _docs(spark, nat + junk)
    model = train_nb_quality(df, vocab_size=64)
    rows = nb_log_odds(df, model).collect()
    nat_scores = [r.mean_llr for r in rows if r.doc_id < 100]
    junk_scores = [r.mean_llr for r in rows if r.doc_id >= 100]
    assert min(nat_scores) > max(junk_scores)


def test_null_text_and_label_skipped(spark):
    rows = [(0, "a b", True), (1, None, True), (2, "a c", None), (3, "b c", False)]
    df = _docs(spark, rows)
    model = train_nb_quality(df, vocab_size=10)
    # training saw only docs 0 and 3 -> totals reflect 2 docs, 4 tokens
    t = model.totals.collect()[0]
    assert (t.d_pos, t.d_neg, t.n_pos + t.n_neg) == (1, 1, 4)
    # scoring drops only NULL text (doc 2 has text, scores fine)
    scored = nb_log_odds(df, model)
    assert sorted(r.doc_id for r in scored.collect()) == [0, 2, 3]


def test_one_class_training_is_visible_not_silent(spark):
    # a model trained on a single class must not produce ordinary-
    # looking scores: the prior's ln(d_pos/d_neg) hits d_neg = 0 and
    # the scoring job FAILS with Spark's ANSI DIVIDE_BY_ZERO — loud,
    # never a silently-plausible number.
    rows = [(0, "a b", True), (1, "b c", True)]
    model = train_nb_quality(_docs(spark, rows), vocab_size=10)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        nb_log_odds(_docs(spark, rows), model).collect()


def test_validation_errors(spark):
    df = _docs(spark, [(0, "a", True)])
    with pytest.raises(ValueError):
        train_nb_quality(df, vocab_size=0)


def _structured(spark, n_nat=30, n_junk=15):
    nat = [(i, "the quick brown fox jumps over the lazy dog", True) for i in range(n_nat)]
    junk = [(1000 + i, f"qz{i} wx{i} vv{i} kj{i} zz{i}", False) for i in range(n_junk)]
    return _docs(spark, nat + junk)


def test_pareto_keep_biased_and_deterministic(spark):
    df = _structured(spark)
    model = train_nb_quality(df, vocab_size=64)
    kept_ids = sorted(r.doc_id for r in pareto_keep(df, model, seed=7).collect())
    nat_kept = sum(1 for i in kept_ids if i < 1000)
    junk_kept = sum(1 for i in kept_ids if i >= 1000)
    # high-quality docs survive (GPT-3's draw keeps score~1 docs w.p.
    # ~1); junk survives only via the pareto tail
    assert nat_kept == 30
    assert junk_kept < 15
    # deterministic: a repartitioned rerun gives the identical keep set
    again = pareto_keep(df.repartition(7), model, seed=7)
    assert sorted(r.doc_id for r in again.collect()) == kept_ids
    # the kept rows carry the original columns (score dropped)
    assert set(again.columns) == {"doc_id", "text", "label"}


def test_pareto_seed_sensitivity(spark, monkeypatch):
    # junk docs' survival set depends on the seed (the draw moves);
    # use alpha small enough that some junk survives under some seed
    monkeypatch.setattr(classify, "_PARETO_ALPHA", 2.0)
    df = _structured(spark, n_nat=5, n_junk=40)
    model = train_nb_quality(df, vocab_size=64)
    sets = []
    for seed in (1, 2, 3):
        kept = pareto_keep(df, model, seed=seed)
        sets.append(tuple(sorted(r.doc_id for r in kept.collect())))
    assert len(set(sets)) > 1


def test_model_roundtrips_through_parquet(spark, tmp_path):
    # the bounded-artifact contract: persist + reload the model tables,
    # scores unchanged (how a 100 TB run ships the trained classifier)
    df = _structured(spark)
    model = train_nb_quality(df, vocab_size=64)
    base = str(tmp_path / "nbmodel")
    for name, part in (
        ("vocab", model.vocab),
        ("lik", model.likelihoods),
        ("tot", model.totals),
    ):
        part.write.parquet(f"{base}/{name}")
    reloaded = NBQualityModel(
        spark.read.parquet(f"{base}/vocab"),
        spark.read.parquet(f"{base}/lik"),
        spark.read.parquet(f"{base}/tot"),
        model.k,
    )
    a = {(r.doc_id, r.log_odds) for r in nb_log_odds(df, model).collect()}
    b = {(r.doc_id, r.log_odds) for r in nb_log_odds(df, reloaded).collect()}
    assert a == b


def test_materialize_matches_lazy(spark, tmp_path, monkeypatch):
    # materializing only changes how the model tables are held (collected
    # local tables vs training lineage), never their contents; a parquet
    # input at or above the footer-row threshold takes that path
    rows = [(i, f"tok{i % 7} tok{i % 3} common w{i % 11}", i % 2 == 0) for i in range(60)]
    rows += [(100, "<unk> rare", True), (101, "common common", False)]
    _docs(spark, rows).write.parquet(str(tmp_path / "docs"))
    df = spark.read.parquet(str(tmp_path / "docs"))
    lazy = train_nb_quality(df, vocab_size=8)
    monkeypatch.setattr(classify, "_MATERIALIZE_MIN_ROWS", len(rows))
    mat = train_nb_quality(df, vocab_size=8)
    # only the lazy vocab still reads the corpus files
    assert runtime.input_rows(lazy.vocab) == len(rows)
    assert runtime.input_rows(mat.vocab) is None
    for table in ("vocab", "likelihoods", "totals"):
        got = sorted(map(tuple, getattr(mat, table).collect()))
        assert got == sorted(map(tuple, getattr(lazy, table).collect())), table
    assert sorted(map(tuple, nb_log_odds(df, mat).collect())) == sorted(
        map(tuple, nb_log_odds(df, lazy).collect())
    )
