"""LM perplexity scoring (operators/lm.py, beyond-reference D14).

Evidence model: the gate row `lm_perplexity` pins the Spark plan against
a full train+score DuckDB replay at sf0.01; these tests pin it against a
from-first-principles pure-Python replay (hand corpus + randomized), the
<unk>/pruning edge cases, and NULL-text handling.
"""

from __future__ import annotations

import collections
import math
import random

import pytest

from entity_linking_spark.operators import lm as lm_mod
from entity_linking_spark.operators.lm import (
    UNK,
    perplexity,
    train_bigram_lm,
)


def _python_replay(texts, vocab_size, bigram_size, k, lam):
    """From-first-principles replay of train_bigram_lm + perplexity."""
    toks = {i: t.lower().split(" ") for i, t in texts.items()}
    raw = collections.Counter(t for ts in toks.values() for t in ts if t != UNK)
    vocab = set(
        t for t, _ in sorted(raw.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    )

    def m(t):
        return t if t in vocab else UNK

    uni = collections.Counter(m(t) for ts in toks.values() for t in ts)
    bi = collections.Counter(
        (m(a), m(b)) for ts in toks.values() for a, b in zip(ts, ts[1:])
    )
    bi = dict(
        sorted(bi.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:bigram_size]
    )
    n = sum(uni.values())
    v_eff = len(vocab) + 1
    out = {}
    for i, ts in toks.items():
        nll, prev = [], None
        for t in ts:
            tm = m(t)
            p1 = (uni.get(tm, 0) + k) / (n + k * v_eff)
            if prev is None:
                p = p1
            else:
                p2 = (bi.get((prev, tm), 0) + k) / (uni.get(prev, 0) + k * v_eff)
                p = lam * p2 + (1 - lam) * p1
            nll.append(-math.log(p))
            prev = tm
        out[i] = (len(ts), round(math.exp(sum(nll) / len(nll)), 4))
    return out


HAND = {
    0: "the cat sat on the mat",
    1: "the dog sat on the log",
    2: "zebra quokka xylophone",   # all-OOV at small vocab caps
    3: "the the the the",          # degenerate repetition
    4: "cat",                      # single token: unigram-only path
    5: "The CAT sat",              # case folding
}


def _run(spark, texts, vocab_size, bigram_size):
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    lm = train_bigram_lm(df, vocab_size=vocab_size, bigram_size=bigram_size)
    got = {
        r["doc_id"]: (r["n_toks"], r["ppl"])
        for r in perplexity(df, lm).collect()
    }
    return got, lm


def test_hand_corpus_exact_vs_python_replay(spark):
    got, _ = _run(spark, HAND, vocab_size=4, bigram_size=6)
    assert got == _python_replay(HAND, 4, 6, 1.0, 0.75)


def test_uncapped_model_exact(spark, monkeypatch):
    monkeypatch.setattr(lm_mod, "_K", 0.5)
    monkeypatch.setattr(lm_mod, "_LAM", 0.5)
    got, _ = _run(spark, HAND, vocab_size=1000, bigram_size=1000)
    assert got == _python_replay(HAND, 1000, 1000, 0.5, 0.5)


def test_randomized_corpus_exact(spark):
    rng = random.Random(41)
    words = [f"w{i}" for i in range(30)]
    texts = {
        i: " ".join(rng.choices(words, k=rng.randint(1, 40))) for i in range(60)
    }
    got, _ = _run(spark, texts, vocab_size=12, bigram_size=25)
    assert got == _python_replay(texts, 12, 25, 1.0, 0.75)


def test_literal_unk_token_folds_into_unk_class(spark):
    """A corpus '<unk>' token is excluded from the vocabulary and scores
    as the UNK class — identical to any other OOV token with the same
    context, never as a privileged real type."""
    texts = {0: "<unk> b b b", 1: "zzz b b b"}
    got, lm = _run(spark, texts, vocab_size=10, bigram_size=10)
    assert got == _python_replay(texts, 10, 10, 1.0, 0.75)
    vocab = {r["token"] for r in lm.vocab.collect()}
    assert UNK not in vocab and "zzz" in vocab
    # the two docs are indistinguishable after the fold
    assert got[0] == got[1]


def test_vocab_cap_tie_break_is_deterministic(spark):
    """Equal-count tokens at the cap boundary: count DESC, token ASC."""
    texts = {0: "bb aa bb aa cc"}
    _, lm = _run(spark, texts, vocab_size=1, bigram_size=10)
    assert [r["token"] for r in lm.vocab.collect()] == ["aa"]


def test_model_tables_are_bounded(spark):
    _, lm = _run(spark, HAND, vocab_size=3, bigram_size=2)
    assert lm.vocab.count() == 3
    assert lm.bigrams.count() == 2
    assert lm.unigrams.count() <= 3 + 1  # vocab + unk
    t = lm.totals.collect()
    assert len(t) == 1 and t[0]["v_eff"] == 4


def test_perplexity_orders_natural_text_below_gibberish(spark):
    """The signal the CCNet pass exists for: a doc drawn from the
    training distribution scores lower ppl than token soup."""
    rng = random.Random(7)
    base = "the cat sat on the mat and the dog sat on the log".split()
    texts = {i: " ".join(base) for i in range(20)}
    texts[100] = " ".join(rng.choices([f"junk{i}" for i in range(50)], k=12))
    got, _ = _run(spark, texts, vocab_size=50, bigram_size=200)
    assert got[0][1] < got[100][1]


def test_all_oov_doc_scores_artificially_well(spark):
    """Pins the vocab-pruned-LM pathology surfaced by tools/scale_bench.py lm's
    first corpus draft: a doc whose EVERY token is OOV folds to a pure
    <unk> run, and because (unk, unk) is then one of the model's
    highest-count bigrams the doc scores LOWER perplexity than in-vocab
    text in unseen order — ppl is not monotone in quality at the OOV
    extreme. This is a property of any vocab-capped interpolated n-gram
    LM; it is why CCNet keeps the low-perplexity HEAD band rather than
    treating lower-is-better, and why a real pipeline gates on unk
    fraction before this pass."""
    train = {i: f"x{i}a x{i}b x{i}c x{i}d" for i in range(10)}  # all OOV
    train.update({100 + i: "a b c d" for i in range(3)})        # the vocab
    tdf = spark.createDataFrame(list(train.items()), "doc_id long, text string")
    lm = train_bigram_lm(tdf, vocab_size=4, bigram_size=8)
    probes = spark.createDataFrame(
        [(0, "zzz yyy xxx www"), (1, "d c b a")], "doc_id long, text string"
    )
    ppls = {r["doc_id"]: r["ppl"] for r in perplexity(probes, lm).collect()}
    # the all-OOV doc (0) beats the in-vocab-but-unseen-order doc (1)
    assert ppls[0] < ppls[1]
    # and both engines agree this is the model's arithmetic, not a bug
    replay = _python_replay(train, 4, 8, 1.0, 0.75)
    got = {
        r["doc_id"]: (r["n_toks"], r["ppl"]) for r in perplexity(tdf, lm).collect()
    }
    assert got == replay


def test_filter_modes(spark):
    """In-vocab rare tokens in unseen order score high ppl (the CCNet
    signal); an all-OOV doc would instead fold to a self-consistent
    <unk> run and score LOW — which is why the vocab cap here keeps
    every token in-vocab."""
    texts = {0: "a b a b a b a b", 1: "a b a b a b a b", 2: "q w e r t y u i"}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    lm = train_bigram_lm(df, vocab_size=16, bigram_size=32)
    ppls = {r["doc_id"]: r["ppl"] for r in perplexity(df, lm).collect()}
    assert ppls[2] > max(ppls[0], ppls[1])


def test_null_text_dropped_from_scores_and_filter(spark):
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, None)], "doc_id long, text string"
    )
    lm = train_bigram_lm(df, vocab_size=5, bigram_size=5)
    assert [r["doc_id"] for r in perplexity(df, lm).collect()] == [0]


def test_param_validation(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    for kwargs in (
        {"vocab_size": 0},
        {"bigram_size": -1},
    ):
        with pytest.raises(ValueError):
            train_bigram_lm(df, **kwargs)


def test_determinism_across_partitionings(spark):
    rng = random.Random(13)
    words = [f"t{i}" for i in range(20)]
    rows = [(i, " ".join(rng.choices(words, k=15))) for i in range(40)]
    a = spark.createDataFrame(rows, "doc_id long, text string").repartition(1)
    b = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    lm_a = train_bigram_lm(a, vocab_size=8, bigram_size=20)
    lm_b = train_bigram_lm(b, vocab_size=8, bigram_size=20)
    ra = sorted(map(tuple, perplexity(a, lm_a).collect()))
    rb = sorted(map(tuple, perplexity(b, lm_b).collect()))
    assert ra == rb


def test_scoring_plan_is_broadcast_only(spark):
    """Scale contract: every model join broadcasts; the scoring plan
    contains no sort-merge or shuffled hash join."""
    df = spark.createDataFrame(list(HAND.items()), "doc_id long, text string")
    lm = train_bigram_lm(df, vocab_size=4, bigram_size=6)
    plan = perplexity(df, lm)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_buckets_exact_split_and_order_consistency(spark):
    # 9 docs with strictly ordered perplexities (distinct texts of
    # rising surprise under a model trained on the same corpus):
    # thirds must land 3/3/3 and the head must hold the 3 lowest ppls.
    from entity_linking_spark.operators.lm import perplexity_buckets

    rows = [(i, " ".join(["common"] * (12 - i) + [f"rare{i}"] * i)) for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lm = train_bigram_lm(df, vocab_size=50, bigram_size=200)
    out = perplexity_buckets(df, lm).collect()
    by_bucket = collections.defaultdict(list)
    for r in out:
        by_bucket[r.bucket].append((r.ppl, r.doc_id))
    assert {b: len(v) for b, v in by_bucket.items()} == {
        "head": 3, "middle": 3, "tail": 3,
    }
    # rank consistency: max(head) <= min(middle) <= ... under (ppl, id)
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])
    # buckets agree with a driver-side sort of the scored output
    ranked = sorted((r.ppl, r.doc_id) for r in out)
    want_head = set(d for _, d in ranked[:3])
    assert set(d for _, d in by_bucket["head"]) == want_head


def test_buckets_deterministic_across_partitionings(spark):
    from entity_linking_spark.operators.lm import perplexity_buckets

    rng = random.Random(17)
    words = [f"w{i}" for i in range(15)]
    rows = [(i, " ".join(rng.choices(words, k=12))) for i in range(50)]
    a = spark.createDataFrame(rows, "doc_id long, text string").repartition(1)
    b = spark.createDataFrame(rows, "doc_id long, text string").repartition(9)
    lm = train_bigram_lm(a, vocab_size=10, bigram_size=30)
    ra = sorted(map(tuple, perplexity_buckets(a, lm).collect()))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        rb = sorted(map(tuple, perplexity_buckets(b, lm).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert ra == rb


def test_buckets_frac_validation(spark):
    from entity_linking_spark.operators.lm import perplexity_buckets

    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    lm = train_bigram_lm(df, vocab_size=4, bigram_size=4)
    for h, m in ((-0.1, 0.5), (0.6, 0.6), (0.5, -0.2)):
        with pytest.raises(ValueError):
            perplexity_buckets(df, lm, head_frac=h, middle_frac=m)


def test_buckets_no_single_task_global_window(spark):
    """Scale contract: the bucket rank must never be a one-partition
    global window — the plan's window sort is partitioned by the bucket
    column, not Window.orderBy over everything."""
    from entity_linking_spark.operators.lm import perplexity_buckets

    rows = [(i, f"a b c{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lm = train_bigram_lm(df, vocab_size=8, bigram_size=16)
    plan = (
        perplexity_buckets(df, lm)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # a global window would show 'Window [... windowspecdefinition(...)'
    # with no partitionBy column; ours partitions by the bucket column
    assert "windowspecdefinition(_bkt#" in plan
    assert "SinglePartition" not in plan.split("Window")[1][:400]


def _bucket_corpus(spark, n=200):
    rng = random.Random(5)
    words = [f"w{i}" for i in range(15)]
    rows = [(i, " ".join(rng.choices(words, k=10))) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    return df, train_bigram_lm(df, vocab_size=10, bigram_size=30)


def test_buckets_survive_a_cleared_cache(spark):
    """Dropping every cache between build and action must not change
    the buckets: their offsets are keyed on data, not on a partition id."""
    from entity_linking_spark.operators.lm import perplexity_buckets

    df, lm = _bucket_corpus(spark)
    want = sorted(map(tuple, perplexity_buckets(df, lm).collect()))
    built = perplexity_buckets(df, lm)
    spark.catalog.clearCache()
    assert sorted(map(tuple, built.collect())) == want


def test_buckets_plan_reads_no_partition_id(spark):
    from entity_linking_spark.operators.lm import perplexity_buckets

    df, lm = _bucket_corpus(spark, n=30)
    plan = perplexity_buckets(df, lm)._jdf.queryExecution().analyzed().toString()
    assert "SPARK_PARTITION_ID" not in plan
