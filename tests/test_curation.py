"""End-to-end curation pipeline: stage-by-stage row accounting on
planted fixtures. Every stage reuses an operator whose semantics are
already gate/pytest-pinned; what THIS suite verifies is the chain —
ordering, column plumbing (C4 rewrites text before dedup hashes see
it), keeper selection, and the stats contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_linking_spark.curation import curate_corpus


def _page(d: int, n_lines: int = 5, word: str | None = None) -> str:
    """A clean page: n_lines C4-keepable lines, Gopher-passing stats.
    Five doc+line-specific tokens per 15-token line keep every template
    run under 5 tokens (no within-doc duplicated 5-grams -> passes the
    repetition gate) and hold cross-doc jaccard well below the 0.8
    near-dup gate."""
    w = word or f"tok{d}"
    return "\n".join(
        f"the quick {w}a{i} brown {w}b{i} jumps {w}c{i} over that"
        f" {w}d{i} lazy dog {w}e{i} today."
        for i in range(n_lines)
    )


def _fixture_docs():
    distinct_line = (
        "aurora borealis shimmers above quiet fjords while patient "
        "reindeer wander across frozen meadows beneath silent stars."
    )  # 16 words; the probe below uses an INTERIOR 14-word slice —
    # the window hasher splits on single spaces, so the line's first
    # word is glued to the preceding newline and must stay outside
    bench_slice = " ".join(distinct_line.split(" ")[1:15])
    return [
        # d0 survives everything; carries an email for the redaction check
        (0, "https://example.com/a",
         _page(0) + "\ncontact the editor at bob@example.com for details."),
        # d1: same canonical URL as d0 -> dropped at url_dedup (d0 = min id)
        (1, "HTTPS://EXAMPLE.COM:443/a/", _page(1)),
        # d2: lorem-ipsum page rule -> dropped at c4_line_clean
        (2, "https://example.com/c",
         _page(2) + "\nLorem Ipsum dolor sit amet boilerplate."),
        # d3: zero stop words -> dropped at gopher_quality
        (3, "https://example.com/d",
         "\n".join(
             f"zxqva{i} zxqvb{i} zxqvc{i} zxqvd{i} zxqve{i} zxqvf{i}."
             for i in range(5)
         )),
        # d4: one 2-gram dominates -> dropped at gopher_repetition
        (4, "https://example.com/e",
         "\n".join(
             ["the of " + "spam ham " * 30 + "spam ham."] * 3
         )),
        # d5/d6: byte-identical pages -> d6 dropped at exact_dedup
        (5, "https://example.com/f", _page(5, word="twin")),
        (6, "https://example.com/g", _page(5, word="twin")),
        # d7/d8: near-dups (one token differs across 8 lines) -> d8
        # dropped at near_dup (keeper = component min id)
        (7, "https://example.com/h", _page(7, n_lines=8, word="near")),
        (8, "https://example.com/i",
         _page(7, n_lines=8, word="near").replace("neara0", "neara9")),
        # d9: shares a >13-token line with the benchmark -> decontaminated
        (9, "https://example.com/j", _page(9) + "\n" + distinct_line),
    ], bench_slice


def test_curate_corpus_stage_accounting(spark):
    docs, bench_slice = _fixture_docs()
    df = spark.createDataFrame(docs, "doc_id long, url string, text string")
    bench = spark.createDataFrame([(bench_slice,)], "text string")

    curated, stats = curate_corpus(
        df, url_col="url", benchmark=bench, min_words=20
    )
    by_stage = {s["stage"]: s for s in stats}
    assert [s["stage"] for s in stats] == [
        "url_dedup", "c4_line_clean", "gopher_quality",
        "gopher_repetition", "exact_dedup", "near_dup",
        "decontaminate", "redact_pii",
    ]
    assert by_stage["url_dedup"] == {"stage": "url_dedup", "rows_in": 10, "rows_out": 9}
    assert by_stage["c4_line_clean"]["rows_out"] == 8
    assert by_stage["gopher_quality"]["rows_out"] == 7
    assert by_stage["gopher_repetition"]["rows_out"] == 6
    assert by_stage["exact_dedup"]["rows_out"] == 5
    assert by_stage["near_dup"]["rows_out"] == 4
    assert by_stage["decontaminate"]["rows_out"] == 3
    assert by_stage["redact_pii"]["rows_out"] == 3
    # rows_in of each stage == rows_out of the previous (chained attrition)
    for prev, nxt in zip(stats, stats[1:]):
        assert nxt["rows_in"] == prev["rows_out"]

    rows = {r.doc_id: r for r in curated.collect()}
    assert set(rows) == {0, 5, 7}  # min-id keepers survive each dedup
    assert curated.columns == ["doc_id", "url", "text"]
    # C4 rewrote the text (kept lines only) and PII was redacted
    assert "bob@example.com" not in rows[0].text
    assert "[EMAIL]" in rows[0].text


def test_curate_corpus_lazy_and_toggles(spark):
    docs, _ = _fixture_docs()
    df = spark.createDataFrame(docs, "doc_id long, url string, text string")
    # with_stats=False: single lazy plan, no stats (no benchmark here,
    # so the contaminated d9 legitimately survives)
    curated, stats = curate_corpus(
        df, url_col="url", min_words=20, with_stats=False
    )
    assert stats == []
    assert {r.doc_id for r in curated.select("doc_id").collect()} == {0, 5, 7, 9}


def test_curate_corpus_semantic_stage(spark):
    docs, _ = _fixture_docs()
    # d10/d11: token-level distinct enough to clear the 0.8-jaccard
    # near-dup gate, but hash-embedding-identical: d11 permutes the
    # WORD ORDER inside every line (adjacent swaps, terminal word
    # pinned so C4 still keeps the lines), which destroys the minhash
    # shingles while leaving the bag-of-tokens embedding identical
    # (cosine 1.0) — exactly the paraphrase-grade duplication class
    # SemDeDup exists for
    lines_a = [
        f"the quick par{i} brown qar{i} jumps rar{i} over that"
        f" sar{i} lazy dog tar{i} today."
        for i in range(8)
    ]
    # every fixed-word run in B is <= 2 tokens (a 3-token fixed run
    # repeated per line would trip the top3 repetition gate at 8/105),
    # and both docs' lines START with 'the' so the newline-glued tokens
    # ('today.\nthe') match too — the bags are then exactly equal and
    # the pair cosine is exactly 1.0, while template pages sit ~0.75
    # apart (the shared function words dominate every cross cosine)
    lines_b = [
        f"the par{i} quick brown qar{i} jumps over rar{i} that"
        f" lazy sar{i} dog tar{i} today."
        for i in range(8)
    ]
    docs = docs + [
        (10, "https://example.com/k", "\n".join(lines_a)),
        (11, "https://example.com/l", "\n".join(lines_b)),
    ]
    df = spark.createDataFrame(docs, "doc_id long, url string, text string")
    base, base_stats = curate_corpus(
        df, url_col="url", min_words=20
    )
    base_ids = {r.doc_id for r in base.select("doc_id").collect()}
    assert {10, 11} <= base_ids, "token-level gates must NOT catch the pair"
    curated, stats = curate_corpus(
        df, url_col="url", min_words=20, semantic_k=2
    )
    by_stage = {s["stage"]: s for s in stats}
    assert "semantic_dedup" in by_stage
    # exactly one of the embedding-identical pair is removed, nothing else
    ids = {r.doc_id for r in curated.select("doc_id").collect()}
    assert len({10, 11} & ids) == 1
    assert ids - {10, 11} == base_ids - {10, 11}
    assert by_stage["semantic_dedup"]["rows_in"] - by_stage[
        "semantic_dedup"]["rows_out"] == 1


def test_curate_corpus_releases_near_dup_bands(spark, monkeypatch):
    """With stats, the near-dup step releases the band table its MinHash
    operator pinned once the step's boundary is counted; on the lazy path
    the pin outlives the call, since the returned frame still reads it."""
    from conftest import SF_DIR

    from entity_linking_spark import runtime

    pinned = []

    class RecordedScope(runtime.CacheScope):
        def append(self, df):
            pinned.append(df)
            super().append(df)

    monkeypatch.setattr(runtime, "CacheScope", RecordedScope)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    for with_stats in (True, False):
        pinned.clear()
        spark.catalog.clearCache()
        curate_corpus(docs, min_words=5, with_stats=with_stats)
        assert pinned, with_stats
        held = {df.storageLevel.useMemory or df.storageLevel.useDisk for df in pinned}
        assert held == {not with_stats}, with_stats
    spark.catalog.clearCache()
