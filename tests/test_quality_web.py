"""Repetition-signal quality operator + URL canonicalization tests."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from entity_linking_spark.functions.web import canonical_url, url_dedup
from entity_linking_spark.operators.quality import repetition_signals


# ----------------------------------------------------- repetition signals


def _replay_signals(text, top_ns=(2, 3), dup_n=5, min_repeats=2):
    """From-first-principles replay of repetition_signals for one doc."""
    toks = text.lower().split(" ")
    out = {"n_tokens": len(toks)}
    for n in top_ns:
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        out[f"top{n}_count"] = (
            max(grams.count(g) for g in set(grams)) if grams else 0
        )
    grams = [" ".join(toks[i : i + dup_n]) for i in range(len(toks) - dup_n + 1)]
    counts = {}
    for g in grams:
        counts[g] = counts.get(g, 0) + 1
    covered = set()
    for i, g in enumerate(grams):
        if counts[g] >= min_repeats:
            covered.update(range(i, i + dup_n))
    out[f"dup{dup_n}_covered_tokens"] = len(covered)
    return out


def test_repetition_signals_hand_cases(spark):
    docs = [
        (1, "a b a b a b c d e f g h i j"),  # 'a b' x3
        (2, "x y z x y z x y z q w e r t y u i o p a s d f"),
        (3, "unique tokens only here now"),
        (4, "t"),  # shorter than every n: all signals 0
        (5, "p q p q p q p q p q"),  # fully periodic: dup5 covers all
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in repetition_signals(df).collect()}
    for did, text in docs:
        want = _replay_signals(text)
        for k, v in want.items():
            assert got[did][k] == v, (did, k, got[did], want)
    # spot-check the worked example: windows {0,3} and {1,4} merge to [0,9)
    assert got[2]["dup5_covered_tokens"] == 9
    assert got[5]["dup5_covered_tokens"] == 10
    assert got[5]["dup5_frac"] == 1.0
    assert got[4]["top2_count"] == 0 and got[4]["dup5_covered_tokens"] == 0


def test_repetition_signals_randomized_replay(spark):
    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(12)]  # tiny vocab -> heavy repetition
    docs = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60))))
        for d in range(25)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in repetition_signals(df).collect()}
    for did, text in docs:
        want = _replay_signals(text)
        for k, v in want.items():
            assert got[did][k] == v, (did, k)
        # invariants: coverage bounded by doc length, fracs in [0, 1]
        assert 0 <= got[did]["dup5_covered_tokens"] <= want["n_tokens"]
        assert 0.0 <= got[did]["top2_frac"] <= 1.0


# ----------------------------------------------------- decontamination


def test_decontaminate_flags_and_removes(spark):
    from entity_linking_spark.operators.quality import decontaminate

    bench_text = " ".join(f"q{i}" for i in range(13))  # one 13-gram
    docs = [
        (1, " ".join(f"a{i}" for i in range(30))),                    # clean
        (2, " ".join(f"b{i}" for i in range(10)) + " " + bench_text), # tainted
        (3, bench_text),                                              # the item itself
        (4, "short doc"),                                             # < window, clean
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bench = spark.createDataFrame([(bench_text,)], "text string")
    got = {
        r.doc_id: r
        for r in decontaminate(df, bench, window=13).collect()
    }
    assert not got[1].is_contaminated and got[1].n_contaminated_windows == 0
    assert got[2].is_contaminated and got[2].n_contaminated_windows == 1
    # doc 3 IS the benchmark text: its single whole-doc window matches
    assert got[3].is_contaminated
    assert not got[4].is_contaminated
    # original columns survive, flag columns appended
    assert set(got[1].asDict()) == {
        "doc_id", "text", "n_contaminated_windows", "is_contaminated"
    }
    removed = decontaminate(df, bench, window=13, mode="remove")
    assert sorted(r.doc_id for r in removed.collect()) == [1, 4]
    assert removed.columns == ["doc_id", "text"]


def test_decontaminate_counts_every_overlapping_window(spark):
    """A benchmark doc longer than the window contributes ALL its
    windows; a corpus doc overlapping it in a long run counts one hit
    per matching window position."""
    from entity_linking_spark.operators.quality import decontaminate

    run = " ".join(f"r{i}" for i in range(20))  # 8 distinct 13-grams
    df = spark.createDataFrame(
        [(1, run + " tail0 tail1"), (2, "x y z")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(run,)], "text string")
    got = {r.doc_id: r for r in decontaminate(df, bench, window=13).collect()}
    assert got[1].n_contaminated_windows == 8  # positions 0..7 of the run
    assert not got[2].is_contaminated


def test_decontaminate_preserves_corpus_id_column(spark):
    """A corpus column literally named 'id' (or id_col='id') must
    survive: the join key gets a private name, so drop-by-name can
    never delete the caller's columns."""
    from entity_linking_spark.operators.quality import decontaminate

    bench_text = " ".join(f"q{i}" for i in range(13))
    df = spark.createDataFrame(
        [(1, "keep-me", "x y z"), (2, "and-me", bench_text)],
        "id long, ride_along string, text string",
    )
    bench = spark.createDataFrame([(bench_text,)], "text string")
    got = {r.id: r for r in decontaminate(df, bench, id_col="id", window=13).collect()}
    assert set(got) == {1, 2}
    assert got[1].ride_along == "keep-me" and not got[1].is_contaminated
    assert got[2].is_contaminated
    removed = decontaminate(df, bench, id_col="id", window=13, mode="remove")
    assert removed.columns == ["id", "ride_along", "text"]
    assert [r.id for r in removed.collect()] == [1]


def test_decontaminate_rejects_bad_mode(spark):
    import pytest as _pytest

    from entity_linking_spark.operators.quality import decontaminate

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        decontaminate(df, df, mode="drop")


# ------------------------------------------------------- URL canonical form


def _canon(spark, pairs):
    df = spark.createDataFrame(pairs, "url string")
    return [
        r.c for r in df.select(canonical_url("url").alias("c")).collect()
    ]


def test_canonical_url_cases(spark):
    cases = [
        # case folding: scheme+host lowered, path case preserved
        ("HTTPS://WWW.Example.COM/Path", "https://example.com/Path"),
        # default ports stripped only for the matching scheme
        ("https://example.com:443/a", "https://example.com/a"),
        ("http://example.com:80/a", "http://example.com/a"),
        ("https://example.com:80/a", "https://example.com:80/a"),
        ("ftp://example.com:443/a", "ftp://example.com:443/a"),
        # trailing slash + root path
        ("http://example.com/", "http://example.com"),
        ("http://example.com/a//", "http://example.com/a"),
        # fragment dropped, even when it contains a '?'
        ("http://example.com/a#frag?x=1", "http://example.com/a"),
        # tracking params dropped, survivors byte-sorted
        (
            "https://example.com/p?b=2&utm_source=x&a=1&fbclid=z",
            "https://example.com/p?a=1&b=2",
        ),
        # all params tracking -> no '?'
        ("https://example.com/p?utm_a=1&gclid=2", "https://example.com/p"),
        # empty query
        ("https://example.com/p?", "https://example.com/p"),
        # non-URL strings pass through untouched
        ("not a url", "not a url"),
        ("", ""),
        # userinfo/unusual authority stays inside the lowered authority
        ("HTTP://User@Host.COM/x", "http://user@host.com/x"),
    ]
    got = _canon(spark, [(u,) for u, _ in cases])
    for (raw, want), g in zip(cases, got):
        assert g == want, (raw, g, want)


def test_canonical_url_idempotent(spark):
    """Canonicalizing a canonical URL is a no-op (fixpoint)."""
    raws = [
        ("HTTPS://WWW.Site1.COM:443/A/B/?b=2&utm_x=9&a=1#f",),
        ("http://x.org/only/path",),
        ("https://h.net/p?z=1&y=2&x=3",),
    ]
    once = _canon(spark, raws)
    twice = _canon(spark, [(u,) for u in once])
    assert once == twice


def test_url_dedup_keeps_min_id(spark):
    rows = [
        (3, "https://example.com/a?x=1&utm_s=1"),
        (1, "HTTPS://WWW.EXAMPLE.COM:443/a/?x=1"),
        (2, "https://example.com/a?x=1#frag"),
        (9, "https://other.com/b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = url_dedup(df, "url", "doc_id").orderBy("doc_id").collect()
    assert [(r.doc_id, r.canonical_url) for r in kept] == [
        (1, "https://example.com/a?x=1"),
        (9, "https://other.com/b"),
    ]
    # id-less variant: one row per canonical key, arbitrary representative
    assert url_dedup(df, "url").select("canonical_url").distinct().count() == 2
    assert url_dedup(df, "url").count() == 2


def test_url_dedup_null_urls_pass_through(spark):
    """Docs without a URL must NOT be collapsed into one survivor —
    null canonical forms are not 'the same URL'."""
    rows = [
        (1, "https://example.com/a"),
        (2, None),
        (3, None),
        (4, "https://www.example.com/a"),  # dup of 1
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = url_dedup(df, "url", "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2, 3, 5]
    # id-less branch: every null-url row survives too
    assert url_dedup(df, "url").count() == 4


# ----------------------------------------------------- C4 line cleaning


def _replay_c4(text, min_words=5, min_kept=3):
    """From-first-principles replay of c4_line_clean for one page."""
    lines = [l.strip() for l in text.split("\n")]
    kept = [
        l
        for l in lines
        if len(l.split(" ")) >= min_words
        and l[-1:] in ('.', '!', '?', '"')
        and "javascript" not in l.lower()
    ]
    dropped = (
        "lorem ipsum" in text.lower()
        or "{" in text
        or len(kept) < min_kept
    )
    return {
        "n_lines": len(lines),
        "n_lines_kept": len(kept),
        "clean_text": "\n".join(kept),
        "is_page_dropped": dropped,
    }


def test_c4_line_clean_hand_cases(spark):
    from entity_linking_spark.operators.quality import c4_line_clean

    docs = [
        # survives: three kept lines, two dropped (short / no punct)
        (0, "This is a good long line with punctuation.\nshort line\n"
            "Another fine sentence with enough words here!\n"
            "A third proper sentence keeps this page alive.\nno punct here now ok"),
        # javascript line dropped -> only 1 kept -> page dropped
        (1, "Please enable javascript to see this content.\n"
            "Only one good sentence lives on this page."),
        # lorem ipsum -> page dropped even with 3 kept lines
        (2, "Lorem Ipsum dolor sit amet consectetur adipiscing elit.\n"
            "Second decent sentence with plenty of words here.\n"
            "Third decent sentence with plenty of words here."),
        # curly brace -> page dropped
        (3, 'function() { return 1; }\nFirst decent sentence with plenty of words.\n'
            "Second decent sentence with plenty of words.\n"
            "Third decent sentence with plenty of words."),
        # quote-terminated line counts as terminal punctuation
        (4, 'He said the quote ends this line properly."\n'
            "Second decent sentence with plenty of words here?\n"
            "Third decent sentence with plenty of words here!"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in c4_line_clean(df).collect()}
    for did, text in docs:
        want = _replay_c4(text)
        for k, v in want.items():
            assert got[did][k] == v, (did, k, got[did].get(k), v)
    assert not got[0]["is_page_dropped"]
    assert got[1]["is_page_dropped"] and got[2]["is_page_dropped"]
    assert got[3]["is_page_dropped"]
    assert not got[4]["is_page_dropped"]
    # remove mode keeps only surviving pages and swaps in the clean text
    kept = {
        r.doc_id: r.text
        for r in c4_line_clean(df, mode="remove").collect()
    }
    assert set(kept) == {0, 4}
    assert kept[0] == _replay_c4(docs[0][1])["clean_text"]


def test_c4_line_clean_randomized_replay(spark):
    from entity_linking_spark.operators.quality import c4_line_clean

    rng = random.Random(23)
    vocab = ["alpha", "beta", "Gamma", "delta,", "epsilon"]
    enders = [".", "!", "?", '"', "", " ", ";"]
    extras = ["", "javascript", "Lorem ipsum", "{", "JavaScript here"]
    docs = []
    for d in range(30):
        lines = []
        for _ in range(rng.randint(1, 8)):
            words = [rng.choice(vocab) for _ in range(rng.randint(0, 8))]
            extra = rng.choice(extras)
            if extra:
                words.append(extra)
            lines.append(" ".join(words) + rng.choice(enders))
        docs.append((d, "\n".join(lines)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in c4_line_clean(df).collect()}
    for did, text in docs:
        want = _replay_c4(text)
        for k, v in want.items():
            assert got[did][k] == v, (did, k, got[did].get(k), v)


# ------------------------------------------------- Gopher quality rules


def _replay_gopher(
    text,
    min_words=50,
    max_words=100_000,
    min_mean=3.0,
    max_mean=10.0,
    max_symbol=0.1,
    max_bullet=0.9,
    max_ellipsis=0.3,
    min_alpha=0.8,
    min_stops=2,
):
    """From-first-principles replay of gopher_quality_signals."""
    import re

    words = text.split(" ")
    n_words = len(words)
    mean_len = sum(len(w) for w in words) / n_words
    symbol_ratio = len(re.findall(r"#|…|\.\.\.", text)) / n_words
    lines = [l.strip() for l in text.split("\n")]
    bullets = ("•", "‣", "▶", "◦", "·", "-", "*")
    bullet_frac = sum(
        any(l.startswith(p) for p in bullets) for l in lines
    ) / len(lines)
    ellipsis_frac = sum(
        l.endswith("…") or l.endswith("...") for l in lines
    ) / len(lines)
    alpha_frac = sum(
        bool(re.search("[a-zA-Z]", w)) for w in words
    ) / n_words
    lower = {w.lower() for w in words}
    stops = ("the", "be", "to", "of", "and", "that", "have", "with")
    n_stop_hits = sum(s in lower for s in stops)
    passes = (
        min_words <= n_words <= max_words
        and min_mean <= mean_len <= max_mean
        and symbol_ratio <= max_symbol
        and bullet_frac <= max_bullet
        and ellipsis_frac <= max_ellipsis
        and alpha_frac >= min_alpha
        and n_stop_hits >= min_stops
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_len,
        "symbol_word_ratio": symbol_ratio,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "alpha_word_frac": alpha_frac,
        "n_stop_hits": n_stop_hits,
        "is_quality_dropped": not passes,
    }


def _gopher_assert(spark, docs, min_words=50):
    from entity_linking_spark.operators import quality

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.asDict()
        for r in quality.gopher_quality_signals(df, min_words=min_words).collect()
    }
    for did, text in docs:
        want = _replay_gopher(
            text, min_words=min_words, min_stops=quality._GOPHER_MIN_STOP_HITS
        )
        for k, v in want.items():
            if isinstance(v, float):
                assert abs(got[did][k] - v) < 1e-12, (did, k, got[did][k], v)
            else:
                assert got[did][k] == v, (did, k, got[did][k], v)
    return got


def test_gopher_quality_hand_cases(spark):
    from entity_linking_spark.operators.quality import gopher_quality_signals

    good = " ".join(
        ["the quick brown fox jumps over the lazy dog and that"] * 6
    )  # 66 words, mean ~3.9, stop hits: the/and/that/... >= 2
    docs = [
        (0, good),                                   # passes every rule
        (1, "too few words here."),                  # n_words < 50
        (2, " ".join(["####"] * 60)),                # symbols + no alpha + no stops
        (3, "\n".join(["• " + good] * 4)),           # 100% bullet lines
        (4, "\n".join([good + "..."] * 2 + [good])), # 2/3 ellipsis lines
        (5, " ".join(["ab"] * 60) + " the of"),      # mean word len < 3
    ]
    got = _gopher_assert(spark, docs)
    assert not got[0]["is_quality_dropped"]
    for did in (1, 2, 3, 4, 5):
        assert got[did]["is_quality_dropped"], did
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kept = gopher_quality_signals(df, mode="remove")
    assert [r.doc_id for r in kept.collect()] == [0]
    assert kept.columns == ["doc_id", "text"]


def test_gopher_quality_randomized_replay(spark, monkeypatch):
    from entity_linking_spark.operators import quality

    rng = random.Random(31)
    vocab = ["the", "of", "and", "alpha", "beta#", "…", "12345", "-", "to"]
    docs = []
    for d in range(40):
        lines = []
        for _ in range(rng.randint(1, 5)):
            n = rng.randint(1, 30)
            lines.append(" ".join(rng.choice(vocab) for _ in range(n))
                         + rng.choice(["", "...", "…", "."]))
        docs.append((d, "\n".join(lines)))
    # lax thresholds so both outcomes occur at these tiny sizes
    monkeypatch.setattr(quality, "_GOPHER_MIN_STOP_HITS", 1)
    _gopher_assert(spark, docs, min_words=10)
