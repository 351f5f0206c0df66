"""Blocking: mention detection, candidate join, keys, caps."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from entity_linking_spark import runtime
from entity_linking_spark.operators import blocking


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(url=u, text=t) for u, t in rows], "url string, text string"
    )


def test_detect_mentions_longest_wins(spark):
    # 'acme corp' and 'acme' both aliases: longest must win (reference
    # el_process.py:65 ordering)
    docs = _docs(spark, [("u1", "we met Acme Corp yesterday")])
    out = blocking.detect_mentions(docs, ["acme", "acme corp"]).collect()
    assert [(r.mention) for r in out] == ["acme corp"]


def test_detect_mentions_word_boundaries(spark):
    docs = _docs(spark, [("u1", "acme 10 is not acme 1")])
    out = blocking.detect_mentions(docs, ["acme 1"]).collect()
    assert len(out) == 1  # must not fire inside 'acme 10'


def test_detect_mentions_positions_in_normalized_text(spark):
    from entity_linking_spark.functions.normalize import normalize_text

    text = "Hello, ACME-Corp!"
    docs = _docs(spark, [("u1", text)])
    out = blocking.detect_mentions(docs, ["acme-corp"]).collect()
    assert len(out) == 1
    norm = normalize_text(text)
    m = out[0]
    assert norm[m.start_pos : m.end_pos] == m.mention == "acme - corp"


def test_candidate_entities_ambiguity(spark, monkeypatch):
    """n_ids counts DISTINCT entities per normalized alias: a duplicated
    (alias, subject_id) row counts once but still yields its own
    candidate row, and raw aliases that normalize to one share a count.
    The ambiguity cap is read at call time, also by a dictionary whose
    pinned table (and its n_ids) is already built."""
    mentions = spark.createDataFrame(
        [Row(url="u1", mention="foo", start_pos=0, end_pos=3)]
    )
    aliases = spark.createDataFrame(
        [Row(alias="foo", subject_id="e1"), Row(alias="foo", subject_id="e1"),
         Row(alias="Foo", subject_id="e2"), Row(alias="bar", subject_id="e3")]
    )
    dictionary = blocking.AliasDictionary(aliases)
    out = blocking.candidate_entities(mentions, dictionary)
    assert dict(out.dtypes)["n_ids"] == "bigint"
    assert sorted((r.subject_id, r.n_ids) for r in out.collect()) == [
        ("e1", 2), ("e1", 2), ("e2", 2)
    ]
    monkeypatch.setattr(blocking, "MAX_CANDIDATE_AMBIGUITY", 1)
    assert blocking.candidate_entities(mentions, dictionary).count() == 0
    dictionary.table.unpersist()


def test_candidate_pairs_cap_drops_stop_keys(spark, monkeypatch):
    monkeypatch.setattr(blocking, "MAX_BLOCK_SIZE", 5)
    rows = [Row(url=f"u{i}", key="hot") for i in range(10)]
    rows += [Row(url="a", key="cold"), Row(url="b", key="cold")]
    keys = spark.createDataFrame(rows)
    out = blocking.candidate_pairs(keys).collect()
    assert [(r.url_a, r.url_b) for r in out] == [("a", "b")]


def test_candidate_pairs_dedup_across_keys(spark, monkeypatch):
    monkeypatch.setattr(blocking, "MAX_BLOCK_SIZE", 5)
    keys = spark.createDataFrame(
        [Row(url="a", key="k1"), Row(url="b", key="k1"),
         Row(url="a", key="k2"), Row(url="b", key="k2")]
    )
    out = blocking.candidate_pairs(keys).collect()
    assert len(out) == 1


def _with_bands(spark, rows):
    """(url, tokens, bands) rows, the bands folded from each token list
    exactly as the featurize pass does."""
    from entity_linking_spark.functions.minhash import (
        bands_from_signatures,
        minhash_signatures_batch,
    )

    bands = bands_from_signatures(minhash_signatures_batch([t for _, t in rows]))
    return spark.createDataFrame(
        [Row(url=u, tokens=t, bands=b) for (u, t), b in zip(rows, bands)],
        "url string, tokens array<string>, bands array<bigint>",
    )


def test_minhash_bands_identical_texts_collide(spark):
    toks = "the quick brown fox jumps over the lazy dog".split()
    df = _with_bands(spark, [("a", toks), ("b", toks)])
    pairs = blocking.candidate_pairs(blocking.minhash_keys(df)).collect()
    assert [(r.url_a, r.url_b) for r in pairs] == [("a", "b")]


def test_blocking_keys_drop_null_host_keys(spark):
    """P2 analog (candidate_generators.py:112-116): docs whose url has no
    parseable host yield NO host: key (parse_url -> NULL, dropped by the
    isNotNull filter) instead of a null-key block that would union every
    malformed-url doc into one giant bogus blocking group."""
    docs = _with_bands(
        spark,
        [
            ("https://a.example.org/x", ["t1", "t2", "t3"]),
            ("not a url at all", ["t4", "t5", "t6"]),
        ],
    )
    keys = (
        blocking.host_keys(docs).unionByName(blocking.minhash_keys(docs)).collect()
    )
    host_keys = [r for r in keys if r.key.startswith("host:")]
    assert [r.url for r in host_keys] == ["https://a.example.org/x"]
    assert all(r.key is not None for r in keys)
    # the malformed-url doc still blocks via its minhash bands
    assert any(r.url == "not a url at all" and r.key.startswith("mh:") for r in keys)


def _aliases(spark, pairs):
    return spark.createDataFrame(
        [Row(alias=a, subject_id=s) for a, s in pairs],
        "alias string, subject_id string",
    )


def test_detect_mentions_join_identical_to_trie(spark, tmp_path, monkeypatch):
    """The beyond-broadcast join path must reproduce the trie path's
    output byte-identically (same rows; row ORDER is unspecified on both
    sides) — including longest-match-wins, greedy non-overlap jumps,
    shared-first-token aliases, repeats, and empty/None docs."""
    docs = _docs(
        spark,
        [
            ("d1", "I visited New York City and new york is big"),
            ("d2", "the new york city marathon and york minster"),
            ("d3", "nothing matching here at all"),
            ("d4", "acme corp acme acme corp industries"),
            ("d5", ""),
            ("d6", None),
            ("d7", "overlap a b c overlap test: a b then b c then c"),
            ("d8", "Hyphen-Case ACME-Corp matches too"),
        ],
    )
    aliases = _aliases(
        spark,
        [
            ("New York", "e1"),
            ("New York City", "e2"),
            ("york", "e3"),
            ("acme corp", "e4"),
            ("acme corp industries", "e5"),
            ("acme", "e6"),
            ("a b", "e7"),
            ("b c", "e8"),
            ("c", "e9"),
            ("acme-corp", "e10"),  # normalizes to multi-token 'acme - corp'
        ],
    )
    alias_list = [r.alias for r in aliases.select("alias").collect()]
    dictionary = blocking.AliasDictionary(aliases)
    trie = sorted(map(tuple, blocking.detect_mentions(docs, alias_list).collect()))
    join = sorted(map(tuple, blocking.detect_mentions_join(docs, dictionary).collect()))
    assert trie == join
    assert len(trie) > 10  # corpus actually exercises the matcher
    # the alias-token broadcast prefilter is a pure plan optimization:
    # on (a parquet corpus past the row gate, the vocabulary fits) and
    # off (the vocabulary does not fit) must emit the identical row set
    p = str(tmp_path / "docs_pq")
    docs.write.parquet(p)
    monkeypatch.setattr(blocking, "PREFILTER_MIN_DOC_ROWS", 0)
    for vocab_max, on in ((blocking.ALIAS_TOKEN_BROADCAST_MAX, True), (0, False)):
        monkeypatch.setattr(blocking, "ALIAS_TOKEN_BROADCAST_MAX", vocab_max)
        out = blocking.detect_mentions_join(
            spark.read.parquet(p), blocking.AliasDictionary(aliases)
        )
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert ("LeftSemi" in plan) == on, on
        assert sorted(map(tuple, out.collect())) == trie, on


def test_detect_mentions_join_precomputed_tokens(spark):
    """tokens_col path (the pipeline's fused-s1 output) agrees too."""
    from entity_linking_spark.functions.normalize import tokenize_udf

    docs = _docs(spark, [("u1", "we met Acme Corp and ACME yesterday")])
    toked = docs.withColumn("tokens", tokenize_udf(F.col("text")))
    aliases = _aliases(spark, [("acme corp", "e1"), ("acme", "e2")])
    out = sorted(
        map(
            tuple,
            blocking.detect_mentions_join(
                toked, blocking.AliasDictionary(aliases), tokens_col="tokens"
            ).collect(),
        )
    )
    trie = sorted(
        map(
            tuple,
            blocking.detect_mentions(toked, ["acme corp", "acme"], tokens_col="tokens").collect(),
        )
    )
    assert out == trie == [("u1", "acme", 21, 25), ("u1", "acme corp", 7, 16)]


def test_alias_row_estimate_parquet_footer(spark, tmp_path):
    p = str(tmp_path / "aliases_pq")
    _aliases(spark, [(f"alias {i}", f"e{i}") for i in range(37)]).write.parquet(p)
    assert blocking.alias_row_estimate(spark.read.parquet(p)) == 37
    # in-memory fallback
    assert blocking.alias_row_estimate(_aliases(spark, [("x", "e1")])) == 1
    # metadata-only variant: exact on parquet, None (NO count job) on
    # in-memory plans — the prefilter gate's "unknown means small"
    assert runtime.input_rows(spark.read.parquet(p)) == 37
    assert runtime.input_rows(_aliases(spark, [("x", "e1")])) is None


def test_alias_dictionary_lazy_and_once(spark, monkeypatch):
    """Building an AliasDictionary runs no Spark job; every member is
    computed at most once; the size gates read the module constants
    when first asked."""
    estimate = blocking.alias_row_estimate
    calls = []
    monkeypatch.setattr(
        blocking, "alias_row_estimate", lambda a: calls.append(a) or estimate(a)
    )
    aliases = _aliases(spark, [("Acme Corp", "e1"), ("acme", "e2"), ("", "e3")])
    sc = spark.sparkContext
    sc.setJobGroup("alias_dictionary_build", "build only")
    try:
        d = blocking.AliasDictionary(aliases)
        assert list(sc.statusTracker().getJobIdsForGroup("alias_dictionary_build")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(d.alias_list) == ["", "Acme Corp", "acme"]
    assert d.rows == 3 and d.broadcast and d.token_vocab_fits
    assert d.alias_list is d.alias_list and d.table is d.table
    assert len(calls) == 1
    assert sorted(map(tuple, d.table.collect())) == [
        ("acme", "e2", 1),
        ("acme corp", "e1", 1),
    ]
    monkeypatch.setattr(blocking, "ALIAS_BROADCAST_MAX_ROWS", 2)
    monkeypatch.setattr(blocking, "CANDIDATE_BROADCAST_MAX_ROWS", 2)
    assert d.alias_list is not None  # decided once, not re-read
    big = blocking.AliasDictionary(aliases)
    assert big.alias_list is None and not big.broadcast
    d.table.unpersist()


def test_alias_dictionary_members_once_across_threads(monkeypatch):
    """The pipeline asks for the dictionary from two driver threads: a
    member asked for concurrently is still computed exactly once."""
    import sys
    import threading
    import time

    calls = []

    def slow_estimate(aliases):
        calls.append(aliases)
        time.sleep(0.05)  # widen the check-then-compute window
        return 7

    monkeypatch.setattr(blocking, "alias_row_estimate", slow_estimate)
    d = blocking.AliasDictionary(aliases=object())
    seen = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=lambda: seen.append((d.rows, d.broadcast)))
            for _ in range(16)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert seen == [(7, True)] * 16
    assert len(calls) == 1


def test_detect_mentions_join_randomized_equivalence(spark):
    """Seeded randomized corpora x alias sets: the join path must equal
    the trie path on every draw — multi-token aliases built FROM corpus
    vocabulary (so anchors collide), plus aliases with corpus-absent
    tokens (join path drops them outright; trie simply never matches)."""
    import random

    rng = random.Random(404)
    vocab = [f"w{i}" for i in range(30)]
    for trial in range(3):
        docs_rows = []
        for d in range(40):
            n = rng.randint(0, 25)
            docs_rows.append(
                (f"d{trial}_{d}", " ".join(rng.choice(vocab) for _ in range(n)))
            )
        alias_set = set()
        for _ in range(25):
            k = rng.randint(1, 4)
            alias_set.add(" ".join(rng.choice(vocab) for _ in range(k)))
        alias_set.add("w0 neverintext")  # corpus-absent token
        alias_set.add("")  # degenerate
        docs = _docs(spark, docs_rows)
        aliases = _aliases(spark, [(a, f"e{i}") for i, a in enumerate(alias_set)])
        trie = sorted(
            map(tuple, blocking.detect_mentions(docs, sorted(alias_set)).collect())
        )
        join = sorted(
            map(
                tuple,
                blocking.detect_mentions_join(
                    docs, blocking.AliasDictionary(aliases)
                ).collect(),
            )
        )
        assert trie == join, f"trial {trial}: {len(trie)} vs {len(join)}"
        assert len(trie) > 0


def test_p2_malformed_url_drops_from_host_keys_only(spark):
    """P2 isNotNull gate: a malformed crawl url must not kill the
    blocking stage (Spark 4 parse_url THROWS; we use try_parse_url) —
    the row silently loses its host: key but still blocks via its other
    keys."""
    docs = _with_bands(
        spark,
        [
            ("https://ok.example.org/p/1", ["alpha", "beta"]),
            ("http://bad url with spaces", ["alpha", "beta"]),
        ],
    )
    keys = (
        blocking.host_keys(docs).unionByName(blocking.minhash_keys(docs)).collect()
    )
    host_keys = {r.url for r in keys if r.key.startswith("host:")}
    mh_keys = {r.url for r in keys if r.key.startswith("mh:")}
    assert host_keys == {"https://ok.example.org/p/1"}
    assert mh_keys == {"https://ok.example.org/p/1", "http://bad url with spaces"}
