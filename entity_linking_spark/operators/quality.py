"""Intra-document repetition signals for web-corpus quality filtering.

Beyond-reference operator (the reference repo has no corpus-curation
stage): the repetition family of the Gopher quality rules (Rae et al.
2021, "Scaling Language Models", Table A1), the standard first-pass
filter of public LLM training-data pipelines — a document whose text is
dominated by one repeated n-gram, or largely covered by duplicated
n-grams, is boilerplate/spam and gets dropped before dedup ever runs.

Conventions (documented divergence from the paper, which measures
CHARACTER fractions): signals here are TOKEN-based — the most-frequent-
n-gram signal is its occurrence COUNT and the duplicated-n-gram signal
is the number of token positions covered by any within-doc duplicated
n-gram, islands-merged so overlapping occurrences are not double-
counted (the same overlap-aware convention as the public DataTrove
GopherRepetitionFilter, transposed from chars to tokens). Token and
char fractions are monotonically related on whitespace-tokenized text;
callers thresholding fractions use ``*_frac`` columns.

Gram identity is the SAME combined two-multiplier polynomial window
hash as operators/dedup.window_hash_positions (muls 31/131 packed as
h31*p + h131, ~2^60 key space): within-doc gram-pair collision odds are
~5e-7 even for a million-gram document, and the DuckDB gate oracle
replays the identical hash, so the gate row is exact by construction
(the decontamination and duplicated-span oracles set the precedent).

Scale notes: every signal is INTRA-document, so the operator needs NO
shuffle at all — one mapInPandas pass whose per-doc work is the
O(chars) vectorized prefix-hash machinery of functions/text.py (shared
across both multipliers and all three window sizes) plus a few small
numpy sorts. Embarrassingly parallel: one narrow scan of (id, text),
no exchange, no hot keys, per-doc cost O(G log G) bounded by the
longest document, never by the corpus. Two slower formulations were
measured and rejected on the way here (tools/scale_bench.py quality, 200k
docs x 32 cores): the round-5 first cut shuffled ~460 (id, gram) rows
per doc through two partial-agg exchanges per n (5,046 docs/s); a
shuffle-free rewrite as JVM higher-order-function expressions (sorted
gram arrays + scalar aggregate() folds) was 2.3x SLOWER still (2,215
docs/s) — HOFs evaluate interpreted, outside whole-stage codegen, and
the per-element expression-tree walks cost more than the exchanges
they saved. The vectorized-Arrow pass beats both by an order of
magnitude; outputs are pinned identical by the gate row's DuckDB twin
and the pytest from-first-principles string replay.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)


# repetition_signals' n-gram sizes: the most-frequent-n-gram signal
# for each n in _TOP_NS, the duplicated-n-gram coverage for _DUP_N
_TOP_NS = (2, 3)
_DUP_N = 5


def _doc_signals(
    text: str,
    top_ns: tuple[int, ...],
    dup_n: int,
) -> tuple[int, list[int], int]:
    """(n_tokens, [top_n counts], dup-coverage) for one document — all
    numpy over the combined window keys of functions/text._window_keys.
    n-grams are full windows only: a doc of fewer than n tokens has
    none (its whole-doc window is dropped)."""
    from entity_linking_spark.functions.text import _window_keys

    keys = _window_keys(text, tuple(dict.fromkeys(list(top_ns) + [dup_n])))
    n_tokens = text.count(" ") + 1
    tops = []
    for n in top_ns:
        if n_tokens < n:
            tops.append(0)
            continue
        _, counts = np.unique(keys[n], return_counts=True)
        tops.append(int(counts.max()))
    cov = 0
    if len(keys[dup_n]) >= 2:
        _, inverse, counts = np.unique(
            keys[dup_n], return_inverse=True, return_counts=True
        )
        # positions of duplicated windows, ascending by construction
        pos = np.nonzero(counts[inverse] >= 2)[0]
        if len(pos):
            # overlap-merged coverage in one vectorized line: the first
            # flagged window contributes dup_n tokens; each later one
            # contributes min(gap to its predecessor, dup_n) — the
            # closed form of the gaps-and-islands merge for fixed-width
            # intervals on sorted starts
            cov = int(dup_n + np.minimum(np.diff(pos), dup_n).sum())
    return n_tokens, tops, cov


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per document with its Gopher-style repetition signals:

    - ``n_tokens``
    - ``top{n}_count`` for n = 2 and 3: occurrences of the doc's most
      frequent n-gram (0 when the doc has fewer than n tokens)
    - ``top{n}_frac``: top{n}_count * n / n_tokens — the token-fraction
      analog of the paper's "fraction of characters in the most
      frequent n-gram"
    - ``dup5_covered_tokens`` and ``dup5_frac``: overlap-merged token
      coverage of within-doc duplicated 5-grams — the "fraction of
      characters in duplicate n-grams" analog.

    All counts are exact integers (the fractions are single divisions
    of exact integers, so they are deterministic across engines). A
    null text yields null n_tokens/fractions and zero counts (the
    left-join convention of the first-cut implementation, kept).

    ONE narrow mapInPandas pass — no join, no shuffle, a single scan of
    (id, text); see the module docstring for the two slower
    formulations this replaced.
    """
    top_ns, dup_n = _TOP_NS, _DUP_N
    id_type = df.schema[id_col].dataType
    fields = [
        StructField(id_col, id_type, True),
        StructField("n_tokens", IntegerType(), True),
    ]
    for n in top_ns:
        fields += [
            StructField(f"top{n}_count", LongType(), True),
            StructField(f"top{n}_frac", DoubleType(), True),
        ]
    fields += [
        StructField(f"dup{dup_n}_covered_tokens", LongType(), True),
        StructField(f"dup{dup_n}_frac", DoubleType(), True),
    ]
    schema = StructType(fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in fields}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                out[id_col].append(did)
                if text is None:
                    out["n_tokens"].append(None)
                    for n in top_ns:
                        out[f"top{n}_count"].append(0)
                        out[f"top{n}_frac"].append(None)
                    out[f"dup{dup_n}_covered_tokens"].append(0)
                    out[f"dup{dup_n}_frac"].append(None)
                    continue
                nt, tops, cov = _doc_signals(text, top_ns, dup_n)
                out["n_tokens"].append(nt)
                for n, c in zip(top_ns, tops):
                    out[f"top{n}_count"].append(c)
                    out[f"top{n}_frac"].append(c * n / nt)
                out[f"dup{dup_n}_covered_tokens"].append(cov)
                out[f"dup{dup_n}_frac"].append(cov / nt)
            yield pd.DataFrame(
                {f.name: pd.Series(out[f.name], dtype="object") for f in fields}
            )

    return df.select(id_col, text_col).mapInPandas(run, schema=schema)


# C4's published terminal-punctuation set (Raffel et al. 2020 §2.2 /
# the public T5 text-cleaning code): a retained line must end in one.
_C4_TERMINAL = (".", "!", "?", '"')
# C4's other published line and page rules
_C4_MIN_WORDS_PER_LINE = 5
_C4_MIN_KEPT_LINES = 3
_C4_DROP_LINE_PHRASES = ("javascript",)
_C4_DROP_PAGE_PHRASES = ("lorem ipsum", "{")


def c4_line_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "flag",
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning", §2.2) — the canonical public
    web-corpus heuristic pass. Line rules (a line is kept iff ALL
    hold, after trimming):

    - ends in terminal punctuation (``. ! ? "``);
    - has at least 5 whitespace words;
    - does not contain the word "javascript" case-insensitively.

    Page rules (the whole document is dropped iff ANY hold):

    - raw text contains "lorem ipsum" or the curly brace
      case-insensitively;
    - fewer than 3 lines survive the line rules
      (documented approximation of C4's "fewer than 3 sentences" —
      every kept line ends in terminal punctuation, so kept lines are
      the natural sentence proxy at line granularity).

    C4's remaining rule — dedup of repeated three-sentence spans across
    the corpus — is the cross-document operator this module does NOT
    own: operators/dedup.dedup_repeated_substrings covers it.

    Word counts split on single spaces on both engines, so runs of
    spaces count empty words identically here and in the DuckDB twin.

    mode='flag' returns (id, n_lines, n_lines_kept, clean_text,
    is_page_dropped); mode='remove' returns surviving pages with
    text_col replaced by the cleaned text. Pure Column expressions —
    per-row transform/filter over the line array, no shuffle, no
    Python; the per-element lambda bodies are a handful of scalar
    string predicates, the shape the HOF interpreter prices fine (the
    repetition-signal rewrite above documents where HOFs do NOT pay:
    per-element sorts and probe loops)."""
    if mode not in ("flag", "remove"):
        raise ValueError(f"mode must be 'flag' or 'remove', got {mode!r}")

    def line_ok(line):
        ok = (F.size(F.split(line, " ")) >= _C4_MIN_WORDS_PER_LINE) & (
            F.substring(line, -1, 1).isin(*_C4_TERMINAL)
        )
        for ph in _C4_DROP_LINE_PHRASES:
            ok = ok & ~F.contains(F.lower(line), F.lit(ph))
        return ok

    lines = F.transform(
        F.split(F.col(text_col), "\n"), lambda l: F.trim(l)
    )
    kept = F.filter(lines, line_ok)
    page_bad = F.lit(False)
    for ph in _C4_DROP_PAGE_PHRASES:
        page_bad = page_bad | F.contains(
            F.lower(F.col(text_col)), F.lit(ph)
        )
    out = df.withColumns(
        {
            "n_lines": F.size(lines),
            "n_lines_kept": F.size(kept),
            "clean_text": F.array_join(kept, "\n"),
            "is_page_dropped": page_bad
            | (F.size(kept) < _C4_MIN_KEPT_LINES),
        }
    )
    if mode == "remove":
        keep_cols = [
            F.col("clean_text").alias(c) if c == text_col else F.col(c)
            for c in df.columns
        ]
        return out.where(~F.col("is_page_dropped")).select(*keep_cols)
    return out


# Gopher's required-stopword list (Rae et al. 2021 Table A1): a quality
# document must contain at least two of these as whitespace words.
_GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
# Bullet prefixes / ellipsis suffixes: the paper says "bullet point" /
# "ellipsis"; this is the small published set of the public DataTrove
# GopherQualityFilter, kept identical in the DuckDB gate twin.
_BULLET_PREFIXES = ("•", "‣", "▶", "◦", "·", "-", "*")
_ELLIPSIS_SUFFIXES = ("…", "...")
# required DISTINCT stop words per document (Gopher: 2)
_GOPHER_MIN_STOP_HITS = 2


def gopher_quality_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    mode: str = "flag",
) -> DataFrame:
    """The NON-repetition half of the Gopher quality rules (Rae et al.
    2021 Table A1) — the standard heuristic quality gate of public
    LLM-data pipelines, companion to ``repetition_signals`` above. A
    document PASSES iff all of:

    - ``min_words <= n_words <= 100,000`` (Gopher: 50..100,000);
    - ``3 <= mean_word_len <= 10`` characters;
    - symbol-to-word ratio (occurrences of ``#``, ``…``, ``...``
      over words) at most 0.1;
    - at most 90% of lines start with a bullet;
    - at most 30% of lines end with an ellipsis;
    - at least 80% of words contain an ASCII letter;
    - at least 2 DISTINCT required stop words present (of
      the/be/to/of/and/that/have/with).

    Documented divergence from the paper (same stance as
    ``repetition_signals``): words are single-space splits and lines
    are trimmed newline splits, so every signal is an exact-integer
    count or a single division of exact integers — bit-identical here
    and in the DuckDB gate twin. The paper's "non-symbol words" /
    tokenizer-level counts need a tokenizer both engines would have to
    share; whitespace is the engine-neutral convention this module
    already uses everywhere.

    mode='flag' returns ``df`` + the seven signal columns +
    ``is_quality_dropped``; mode='remove' returns passing rows with the
    original columns. Pure Column expressions in whole-stage codegen —
    per-row scalar work only, no shuffle, no Python.
    """
    if mode not in ("flag", "remove"):
        raise ValueError(f"mode must be 'flag' or 'remove', got {mode!r}")
    text = F.col(text_col)
    words = F.split(text, " ")
    n_words = F.size(words)
    mean_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    ).cast("double") / n_words
    n_symbols = F.size(
        F.regexp_extract_all(text, F.lit(r"#|…|\.\.\."), 0)
    )
    lines = F.transform(F.split(text, "\n"), lambda l: F.trim(l))
    n_lines = F.size(lines)

    def starts_bullet(line):
        c = F.lit(False)
        for p in _BULLET_PREFIXES:
            c = c | line.startswith(p)
        return c

    def ends_ellipsis(line):
        c = F.lit(False)
        for s in _ELLIPSIS_SUFFIXES:
            c = c | line.endswith(s)
        return c

    bullet_frac = F.size(F.filter(lines, starts_bullet)).cast("double") / n_lines
    ellipsis_frac = (
        F.size(F.filter(lines, ends_ellipsis)).cast("double") / n_lines
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))).cast("double")
        / n_words
    )
    lower_words = F.transform(words, F.lower)
    stop_hits = sum(
        F.array_contains(lower_words, w).cast("int")
        for w in _GOPHER_STOP_WORDS
    )
    symbol_ratio = n_symbols.cast("double") / n_words
    passes = (
        n_words.between(min_words, 100_000)
        & mean_len.between(3.0, 10.0)
        & (symbol_ratio <= 0.1)
        & (bullet_frac <= 0.9)
        & (ellipsis_frac <= 0.3)
        & (alpha_frac >= 0.8)
        & (stop_hits >= _GOPHER_MIN_STOP_HITS)
    )
    if mode == "remove":
        return df.where(passes)
    return df.withColumns(
        {
            "n_words": n_words,
            "mean_word_len": mean_len,
            "symbol_word_ratio": symbol_ratio,
            "bullet_line_frac": bullet_frac,
            "ellipsis_line_frac": ellipsis_frac,
            "alpha_word_frac": alpha_frac,
            "n_stop_hits": stop_hits,
            "is_quality_dropped": ~passes,
        }
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 13,
    mode: str = "flag",
) -> DataFrame:
    """Benchmark decontamination: flag (or drop) every training document
    that shares at least one ``window``-token n-gram with the benchmark
    set — the published curation step of GPT-3 (Brown et al. 2020,
    13-gram overlap) and Gopher/MassiveText (Rae et al. 2021), here as
    a relational pass over the window-hash postings that
    operators/dedup.window_hash_positions already produces.

    Shape at scale: the benchmark side (eval sets — thousands to low
    millions of windows, ALWAYS tiny next to a training corpus) is
    hashed, deduplicated, and broadcast; the corpus side is ONE
    mapInPandas hash pass probed against that broadcast — the training
    corpus is never shuffled. The benchmark's text is read from its
    ``text_col``, the same column name as the corpus. The window key is
    the combined two-multiplier poly hash (false-positive rate ~5e-7 per
    window — a stray FP flags one extra doc, it never drops a benchmark
    hit).

    Docs (or benchmark rows) of <= window tokens emit one whole-doc
    window, so a short benchmark item only matches documents containing
    its exact full text as a short doc's full text — the conservative
    direction for decontamination.

    mode='flag' returns ``docs`` + is_contaminated +
    n_contaminated_windows; mode='remove' returns only the clean rows
    (original columns). Lowercasing is inherited from the window
    hasher's tokenization, matching the dedup operators.
    """
    if mode not in ("flag", "remove"):
        raise ValueError(f"mode must be 'flag' or 'remove', got {mode!r}")
    from entity_linking_spark.operators.dedup import window_hash_positions

    # the benchmark id is a throwaway (only whash survives); xxhash64 of
    # the text keeps it deterministic, per the module-wide never-rand rule
    bench = benchmark.select(
        F.xxhash64(F.col(text_col)).alias("_bid"),
        F.col(text_col).alias("text"),
    )
    bh = F.broadcast(
        window_hash_positions(bench, "text", "_bid", window)
        .select("whash")
        .distinct()
    )
    dh = window_hash_positions(docs, text_col, id_col, window)
    # the hits key gets a private name: drop-by-name drops EVERY column
    # called "id", so joining on hits["id"] and dropping it would also
    # delete a corpus column named "id" (or the key itself when
    # id_col="id")
    hits = (
        dh.join(bh, "whash")
        .groupBy("id")
        .agg(F.count("*").alias("n_contaminated_windows"))
        .withColumnRenamed("id", "_cid")
    )
    flagged = (
        docs.join(
            hits, docs[id_col].cast("string") == hits["_cid"], "left"
        )
        .drop("_cid")
        .withColumn(
            "n_contaminated_windows",
            F.coalesce(F.col("n_contaminated_windows"), F.lit(0)).cast("long"),
        )
        .withColumn(
            "is_contaminated", F.col("n_contaminated_windows") > 0
        )
    )
    if mode == "remove":
        return flagged.where(~F.col("is_contaminated")).drop(
            "is_contaminated", "n_contaminated_windows"
        )
    return flagged
