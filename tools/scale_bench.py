"""Operator throughput at corpus scale: one registry over a shared harness.

    python tools/scale_bench.py <op> [--docs N] [--cores C]
        [--seq-len L] [--group G] [--segments S]

Each op forges its corpus in the JVM (``spark.range`` expressions; only
warc's segment writer runs Python), times the operator's calls and
asserts the outcomes its corpus makes derivable before any number is
printed: a rep that lost its signal is a broken operator, not a timing
point. The harness adds ``n_docs`` and ``cores`` to the op's fields and
prints them as one JSON line. ``--seq-len`` is packing's sequence
length, ``--group`` semdedup's planted group size and ``--segments``
warc's segment count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from entity_linking_spark import runtime  # noqa: E402
from entity_linking_spark.curation import curate_corpus  # noqa: E402
from entity_linking_spark.functions.web import url_dedup  # noqa: E402
from entity_linking_spark.operators import dedup  # noqa: E402
from entity_linking_spark.operators.classify import (  # noqa: E402
    nb_log_odds,
    pareto_keep,
    train_nb_quality,
)
from entity_linking_spark.operators.extract import with_extracted_text  # noqa: E402
from entity_linking_spark.operators.lm import perplexity, train_bigram_lm  # noqa: E402
from entity_linking_spark.operators.packing import pack_sequences  # noqa: E402
from entity_linking_spark.operators.quality import (  # noqa: E402
    c4_line_clean,
    decontaminate,
    gopher_quality_signals,
    repetition_signals,
)
from entity_linking_spark.schema import make_html  # noqa: E402
from entity_linking_spark.session import get_spark  # noqa: E402
from entity_linking_spark.sources import warc  # noqa: E402

OPS: dict = {}


def op(name: str, docs: int = 200_000, cores: int = 32):
    """Register ``run(spark, n_docs, args) -> dict`` as ``name`` with its
    default corpus size and core count."""

    def register(run):
        OPS[name] = (run, docs, cores)
        return run

    return register


# ---- shared forges ---------------------------------------------------


def roundtrip(df, path: str):
    """Write ``df`` as parquet and read it back, so the timed passes scan
    files instead of replaying datagen."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def tokens(key, lo, hi):
    """Tokens ``lo..hi`` of the doc keyed ``key``: one of 5k types each,
    pseudo-random in (key, position)."""
    return F.transform(
        F.sequence(lo, hi),
        lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(key, i), F.lit(5000))),
    )


def page_lines(key):
    """12 lines of 10 tokens, '.'-terminated when (key + line) is even:
    exactly 6 C4-kept lines per page."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(11)),
        lambda i: F.concat(
            F.array_join(tokens(key, i * 10, i * 10 + 9), " "),
            F.when((key + i) % 2 == 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )


def plant(cond, text: str):
    """A one-line array holding ``text`` where ``cond`` holds, else empty."""
    return F.when(cond, F.array(F.lit(text))).otherwise(F.array().cast("array<string>"))


def periodic_block(key):
    """40 tokens: 10x the 4-token phrase of family ``key % 50``."""
    phrase = F.transform(
        F.sequence(F.lit(0), F.lit(3)),
        lambda i: F.concat(F.lit("p"), F.pmod(key, F.lit(50)), F.lit("_"), i),
    )
    return F.flatten(F.array_repeat(phrase, 10))


N_PHRASES = 20_000
PHRASE_LEN = 6
N_SLOTS = 20  # 20 phrases/doc -> 120 tokens
JUNK_TYPES = 5_000 * PHRASE_LEN  # head of the type space, surely in-vocab


def zipf_corpus(spark, n_docs: int, path: str, label):
    """Zipf-phrase docs with every 9th doc junk, plus the ``label`` column.

    The LM and the NB classifier need real structure to learn, or their
    score split has nothing to find:
      - NATURAL docs are 20 phrases of 6 tokens (120 tokens). The phrase
        bank is 20k phrases over a 120k-type space (phrase p owns tokens
        w[6p..6p+5] in order), with Zipf-ish phrase popularity. Within-
        phrase bigrams are deterministic, so a trained LM predicts 100 of
        a natural doc's 119 bigrams with high confidence, and a
        multinomial NB sees token mass concentrated on popular types.
      - JUNK docs (every 9th) are 120 i.i.d. uniform tokens over the
        30k-type HEAD of the same space (phrases 0..4999, types surely
        inside the 50k vocab cap, so junk does NOT fold to <unk>): same
        vocabulary, no sequence structure and a different token
        distribution.
      - The 120k-type space exceeds the 50k vocab cap, so rare types
        exercise the <unk> fold at scale and the model artifacts are
        full-size (50k vocab + 500k bigrams broadcast).
    A first draft drew junk from a DISJOINT type tail: every junk token
    folded to <unk> and junk docs scored ppl ~1.4, because (unk, unk)
    became the model's most confident bigram. That inversion is a real
    property of any vocab-pruned interpolated LM (and why CCNet keeps the
    low-perplexity HEAD band rather than treating lower-is-better); it
    is pinned by tests/test_lm.py::test_all_oov_doc_scores_artificially_well.
    """
    docs = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    h = lambda i, salt: F.xxhash64(F.col("doc_id"), i, F.lit(salt))  # noqa: E731
    # Zipf-ish phrase popularity: id = h % (1 + h2 % N_PHRASES) — the
    # modulus itself varies per draw, so low phrase ids collect mass.
    phrase_id = lambda s: F.pmod(  # noqa: E731
        h(s, 1), F.lit(1) + F.pmod(h(s, 2), F.lit(N_PHRASES))
    )
    natural = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(N_SLOTS - 1)),
            lambda s: F.transform(
                F.sequence(F.lit(0), F.lit(PHRASE_LEN - 1)),
                lambda j: F.concat(F.lit("w"), phrase_id(s) * PHRASE_LEN + j),
            ),
        )
    )
    junk = F.transform(
        F.sequence(F.lit(0), F.lit(N_SLOTS * PHRASE_LEN - 1)),
        lambda i: F.concat(F.lit("w"), F.pmod(h(i, 3), F.lit(JUNK_TYPES))),
    )
    text = F.when(F.col("doc_id") % 9 == 0, junk).otherwise(natural)
    return roundtrip(
        docs.select("doc_id", label, F.array_join(text, " ").alias("text")), path
    )


def class_means(scored, corpus, label: str, col: str, n_docs: int) -> dict:
    """Mean ``col`` per ``label`` class; asserts every doc was scored and
    the True class scores above the False class."""
    stats = (
        scored.join(corpus.select("doc_id", label), "doc_id")
        .groupBy(label)
        .agg(F.count("*").alias("n"), F.avg(col).alias("mean"))
        .collect()
    )
    n_scored = sum(r["n"] for r in stats)
    assert n_scored == n_docs, (n_scored, n_docs)
    by = {r[label]: r["mean"] for r in stats}
    assert by[True] > by[False], stats
    return by


# ---- ops -------------------------------------------------------------


@op("lm")
def run_lm(spark, n_docs: int, args) -> dict:
    """CCNet-style LM perplexity (operators/lm.py): train the bigram LM on
    the Zipf corpus and score all of it. Asserts every doc is scored and
    junk docs' mean ppl exceeds natural docs'.

    Fields: bench, train_sec, score_sec, score_docs_per_sec,
    mean_ppl_natural, mean_ppl_junk.
    """
    corpus = zipf_corpus(
        spark, n_docs, "/tmp/el_lm_bench/docs", (F.col("doc_id") % 9 == 0).alias("is_junk")
    )
    t0 = time.time()
    lm = train_bigram_lm(corpus, vocab_size=50_000, bigram_size=500_000)
    # materialize the bounded model tables once so the score phase
    # prices SCORING, not re-training (a real pipeline persists the
    # model artifact exactly like this)
    for t in (lm.vocab, lm.unigrams, lm.bigrams, lm.totals):
        t.persist().count()
    train_sec = time.time() - t0

    t0 = time.time()
    ppl = class_means(perplexity(corpus, lm), corpus, "is_junk", "ppl", n_docs)
    score_sec = time.time() - t0
    return {
        "bench": "lm_perplexity",
        "train_sec": round(train_sec, 2),
        "score_sec": round(score_sec, 2),
        "score_docs_per_sec": round(n_docs / score_sec, 1),
        "mean_ppl_natural": round(ppl[False], 2),
        "mean_ppl_junk": round(ppl[True], 2),
    }


@op("classifier")
def run_classifier(spark, n_docs: int, args) -> dict:
    """GPT-3-style NB quality classifier + Pareto keep
    (operators/classify.py) on the Zipf corpus: natural docs are the
    positive class, junk the negative. Training simulates GPT-3's setup
    (curated positives vs crawl negatives) on a 10% deterministic hash
    slice and scores ALL of the corpus, the 100 TB-shaped pass. Asserts
    every doc is scored, positives' mean log-odds exceed negatives', and
    the Pareto keep rate is biased the right way.

    Fields: bench, train_sec, score_sec, score_docs_per_sec, keep_sec,
    mean_llr_pos, mean_llr_neg, pareto_keep_rate_pos,
    pareto_keep_rate_neg.
    """
    corpus = zipf_corpus(
        spark, n_docs, "/tmp/el_classifier_bench/docs", (F.col("doc_id") % 9 != 0).alias("label")
    )
    train_slice = corpus.where(F.pmod(F.xxhash64("doc_id", F.lit(99)), F.lit(10)) == 0)
    t0 = time.time()
    model = train_nb_quality(train_slice, vocab_size=50_000)
    for t in (model.vocab, model.likelihoods, model.totals):
        t.persist().count()
    train_sec = time.time() - t0

    t0 = time.time()
    llr = class_means(nb_log_odds(corpus, model), corpus, "label", "mean_llr", n_docs)
    score_sec = time.time() - t0

    t0 = time.time()
    kept = dict(
        pareto_keep(corpus, model, seed=1)
        .groupBy("label")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    keep_sec = time.time() - t0
    pos_rate = kept.get(True, 0) / max(1, n_docs * 8 // 9)
    neg_rate = kept.get(False, 0) / max(1, n_docs // 9 + 1)
    assert pos_rate > neg_rate, (pos_rate, neg_rate)
    return {
        "bench": "nb_quality_classifier",
        "train_sec": round(train_sec, 2),
        "score_sec": round(score_sec, 2),
        "score_docs_per_sec": round(n_docs / score_sec, 1),
        "keep_sec": round(keep_sec, 2),
        "mean_llr_pos": round(llr[True], 4),
        "mean_llr_neg": round(llr[False], 4),
        "pareto_keep_rate_pos": round(pos_rate, 4),
        "pareto_keep_rate_neg": round(neg_rate, 4),
    }


@op("quality")
def run_quality(spark, n_docs: int, args) -> dict:
    """Web-quality operators (operators/quality.py, functions/web.py):
      - repetition_signals over 120 tokens/doc from a 5k vocabulary,
        every 4th doc carrying a planted periodic block (heavy top-n-gram
        + dup-5-gram coverage), so both signal families do real work;
      - url_dedup over one messy URL per doc in the gate row's forge
        shape (mixed case, default ports, www, trailing slash, tracking
        params, fragments), so the dedup actually collapses rows;
      - decontaminate against a 1000-doc "benchmark" slice of the corpus;
      - c4_line_clean and gopher_quality_signals over 12-line pages with
        planted lines: asserts c4 drops ceil(N/17) pages and Gopher keeps
        ceil(N/2).

    Fields: metric, repetition_signals_sec, repetition_docs_per_sec,
    docs_with_dup_coverage, total_covered_tokens, max_top2_count,
    url_dedup_sec, url_docs_per_sec, urls_kept, decontaminate_sec,
    decontaminate_docs_per_sec, n_contaminated, c4_line_clean_sec,
    c4_docs_per_sec, c4_pages_dropped, c4_pages_dropped_expected,
    gopher_quality_sec, gopher_quality_docs_per_sec, gopher_quality_kept,
    gopher_quality_kept_expected.
    """
    docs = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    did = F.col("doc_id")
    # 120 pseudo-random tokens; every 4th doc gets the periodic block
    # spliced in after token 60
    body = tokens(did, F.lit(0), F.lit(119))
    text = F.when(
        did % 4 == 0, F.concat(F.slice(body, 1, 60), periodic_block(did), F.slice(body, 61, 60))
    ).otherwise(body)
    corpus = roundtrip(
        docs.select("doc_id", F.array_join(text, " ").alias("text")), "/tmp/el_quality_bench/docs"
    )
    t0 = time.time()
    agg = repetition_signals(corpus).agg(
        F.sum((F.col("dup5_covered_tokens") > 0).cast("long")).alias("docs_with_dup"),
        F.sum("dup5_covered_tokens").alias("covered"),
        F.max("top2_count").alias("max_top2"),
    ).collect()[0]
    rep_sec = time.time() - t0

    s = lambda c: c.cast("string")  # noqa: E731
    url = F.concat(
        F.lit("HTTPS://WWW.Site"), s(did % 7), F.lit(".COM"),
        F.when(did % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        # canonical key is (did%7, did%m, did%2) with m ~ n_docs/140; when
        # 14 | m (the common big-N case) that collapses to did%m alone ->
        # ~140 raw variants per canonical URL (urls_kept reports the
        # measured key count either way)
        F.lit("/Path/"), s(did % (max(n_docs // 140, 1))),
        F.when(did % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?b=2&utm_source=feed&a="), s(did % 2),
        F.when(did % 2 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    urls = roundtrip(docs.select("doc_id", url.alias("url")), "/tmp/el_quality_bench/urls")
    t0 = time.time()
    kept = url_dedup(urls, "url", "doc_id").count()
    url_sec = time.time() - t0

    # planted overlap: benchmark members flag themselves; every 4th doc
    # shares its periodic block with the benchmark member of the same
    # doc_id % 50 phrase family when that member is also % 4 == 0
    bench = corpus.where(did % max(n_docs // 1000, 1) == 0).select("text")
    t0 = time.time()
    n_contaminated = decontaminate(corpus, bench, window=13).where("is_contaminated").count()
    decon_sec = time.time() - t0

    # a javascript line on %5 (kept-line rule), a lorem-ipsum line on %17
    # (page rule -> c4 drops ceil(N/17)); " the of and" appended on even
    # ids -> gopher keeps exactly ceil(N/2)
    page = F.concat(
        F.array_join(
            F.concat(
                page_lines(did),
                plant(did % 5 == 0, "Please enable javascript to continue."),
                plant(did % 17 == 0, "Lorem Ipsum dolor sit amet boilerplate."),
            ),
            "\n",
        ),
        F.when(did % 2 == 0, F.lit(" the of and")).otherwise(F.lit("")),
    )
    pages = roundtrip(docs.select("doc_id", page.alias("text")), "/tmp/el_quality_bench/pages")
    t0 = time.time()
    c4_dropped = c4_line_clean(pages).agg(
        F.sum(F.col("is_page_dropped").cast("long"))
    ).collect()[0][0]
    c4_sec = time.time() - t0

    t0 = time.time()
    gq = gopher_quality_signals(pages, mode="remove").count()
    gq_sec = time.time() - t0
    c4_expected, gq_expected = -(-n_docs // 17), -(-n_docs // 2)
    assert c4_dropped == c4_expected, (c4_dropped, c4_expected)
    assert gq == gq_expected, (gq, gq_expected)
    return {
        "metric": "quality_ops_bench",
        "repetition_signals_sec": round(rep_sec, 2),
        "repetition_docs_per_sec": round(n_docs / rep_sec, 1),
        "docs_with_dup_coverage": int(agg["docs_with_dup"]),
        "total_covered_tokens": int(agg["covered"]),
        "max_top2_count": int(agg["max_top2"]),
        "url_dedup_sec": round(url_sec, 2),
        "url_docs_per_sec": round(n_docs / url_sec, 1),
        "urls_kept": int(kept),
        "decontaminate_sec": round(decon_sec, 2),
        "decontaminate_docs_per_sec": round(n_docs / decon_sec, 1),
        "n_contaminated": int(n_contaminated),
        "c4_line_clean_sec": round(c4_sec, 2),
        "c4_docs_per_sec": round(n_docs / c4_sec, 1),
        "c4_pages_dropped": int(c4_dropped),
        "c4_pages_dropped_expected": c4_expected,
        "gopher_quality_sec": round(gq_sec, 2),
        "gopher_quality_docs_per_sec": round(n_docs / gq_sec, 1),
        "gopher_quality_kept": int(gq),
        "gopher_quality_kept_expected": gq_expected,
    }


def forge_curation(spark, n_docs: int, base: str = "/tmp/el_curation_bench"):
    """Write the planted-work curation corpus and its C4-cleaned
    decontamination benchmark as parquet; returns (docs_path, bench_path).

    Plants are keyed off a per-doc SEED so duplicate families share them
    exactly:
      - seed = doc_id - 1 for doc_id%10==1 (near-dup family: one extra
        line -> jaccard ~0.98 vs the seed doc, removed at near_dup),
      - seed = doc_id - 2 for doc_id%10==2 (byte-identical twin of the
        seed doc, removed at exact_dedup),
      - seed = doc_id otherwise.
      - URL: canonical key = seed, plus doc_id%10==3 sharing doc_id-3's
        canonical (removed at url_dedup).
      - lorem-ipsum line on seed%17==0 (removed at c4_line_clean),
        stop-word line withheld on seed%19==0 (removed at
        gopher_quality), a 40-token periodic block on seed%23==0
        (removed at gopher_repetition),
      - decontamination benchmark = the doc_id%100==0 slice.
    """
    docs = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    did = F.col("doc_id")
    seed = F.when(did % 10 == 1, did - 1).when(did % 10 == 2, did - 2).otherwise(did)
    # stop words and the near-dup variant ride C4-KEEPABLE lines
    # ('.'-terminated, >= 5 words): the quality and near-dup stages run
    # on the C4-cleaned text, so plants that C4 would drop never reach
    # them (the first cut appended bare suffixes to the last line —
    # stripping its terminal '.' — and C4 removed the stop words before
    # the quality gate could count them: every page died there). The
    # periodic block is '.'-terminated for the same reason.
    text = F.array_join(
        F.concat(
            page_lines(seed),
            plant(seed % 19 != 0, "the of and anchor words stay right here."),
            plant(seed % 17 == 0, "Lorem Ipsum dolor sit amet boilerplate."),
            F.when(
                seed % 23 == 0,
                F.array(F.concat(F.array_join(periodic_block(seed), " "), F.lit(" end."))),
            ).otherwise(F.array().cast("array<string>")),
            plant(did % 10 == 1, "unique near variant marker sentence lives here."),
        ),
        "\n",
    )
    # URL collisions ONLY on the %10==3 family: the exact/near twins
    # keep distinct URLs so they reach their own dedup stages instead of
    # dying at url_dedup
    url_key = F.when(did % 10 == 3, did - 3).otherwise(did)
    url = F.concat(
        F.lit("HTTPS://WWW.Site"), (url_key % 7).cast("string"),
        F.lit(".COM:443/Page/"), url_key.cast("string"), F.lit("/?utm_source=x"),
    )
    docs_path, bench_path = f"{base}/docs", f"{base}/bench"
    corpus = roundtrip(docs.select("doc_id", url.alias("url"), text.alias("text")), docs_path)
    # benchmark = the C4-CLEANED %100==0 slice: the decontamination
    # stage probes the cleaned corpus, so benchmark windows must be
    # over cleaned text too (real eval sets are clean prose; a raw
    # slice's windows straddle lines C4 drops and never align)
    c4_line_clean(
        corpus.where(F.col("doc_id") % 100 == 0), mode="remove"
    ).select("text").write.mode("overwrite").parquet(bench_path)
    return docs_path, bench_path


@op("curation")
def run_curation(spark, n_docs: int, args) -> dict:
    """The curation chain (curation.curate_corpus) over the planted-work
    corpus of ``forge_curation``, in two passes: a with_stats run (per-
    stage row accounting, the Gopher Table A1 attrition report) and a
    timed fully-lazy run (one Catalyst plan, count of the final corpus).

    Fields: metric, lazy_sec, docs_per_sec, n_final, stats_sec, stages.
    """
    docs_path, bench_path = forge_curation(spark, n_docs)
    corpus = spark.read.parquet(docs_path)
    bench = spark.read.parquet(bench_path)

    t0 = time.time()
    _, stats = curate_corpus(corpus, url_col="url", benchmark=bench, min_words=20)
    stats_sec = time.time() - t0

    t0 = time.time()
    final, _ = curate_corpus(
        corpus, url_col="url", benchmark=bench, min_words=20, with_stats=False
    )
    n_final = final.count()
    lazy_sec = time.time() - t0
    return {
        "metric": "curation_pipeline_bench",
        "lazy_sec": round(lazy_sec, 2),
        "docs_per_sec": round(n_docs / lazy_sec, 1),
        "n_final": int(n_final),
        "stats_sec": round(stats_sec, 2),
        "stages": stats,
    }


@op("dupspan")
def run_dupspan(spark, n_docs: int, args) -> dict:
    """Repeated-substring dedup (dedup.dedup_repeated_substrings), the
    whole pass timed: window hashing (two O(chars) passes of the combined
    two-multiplier poly hash), posting aggregate, islands merge and
    slice-complement removal, plus the dropped-hot-window count the
    stop-key cap surfaced (the no-silent-caps rule).

    Corpus: ~60 base tokens per doc; half the docs embed one of
    n_docs/200 shared 30-token runs (each run lands in ~100 docs, inside
    the posting cap, so the planted spans are DETECTED AND REMOVED); a
    viral block in every 100th doc exceeds the cap and exercises the
    observable drop path.

    Fields: metric, seconds, docs_per_sec, docs_cleaned_rows,
    docs_touched, tokens_removed, dropped_hot_windows.
    """
    n_runs = max(8, n_docs // 200)  # ~100 docs per run: under the cap
    viral = " ".join(f"viraltok{i}" for i in range(30))
    base = F.concat_ws(" ", tokens(F.col("id"), F.lit(0), F.lit(59)))
    r_idx = F.pmod(F.col("id"), F.lit(n_runs))
    run_text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(29)),
            lambda i: F.concat(F.lit("run"), r_idx, F.lit("tok"), i),
        ),
    )
    text = F.when(
        F.col("id") % 100 == 0, F.concat_ws(" ", base, F.lit(viral))
    ).when(
        F.col("id") % 2 == 0, F.concat_ws(" ", base, run_text)
    ).otherwise(base)
    docs = (
        spark.range(n_docs)
        .repartition(args.cores * 2)
        .select(F.col("id").cast("string").alias("url"), text.alias("text"))
        .persist()
    )
    docs.count()  # materialize datagen outside the timed window

    t0 = time.time()
    cleaned, dropped = dedup.dedup_repeated_substrings(docs)
    stats = cleaned.agg(
        F.count("*").alias("n"),
        F.sum("n_removed_tokens").alias("removed"),
        F.sum(F.when(F.col("n_removed_tokens") > 0, 1).otherwise(0)).alias("docs_touched"),
    ).collect()[0]
    n_dropped = dropped.count()
    elapsed = time.time() - t0
    return {
        "metric": "dupspan_detect_plus_remove",
        "seconds": round(elapsed, 2),
        "docs_per_sec": round(n_docs / elapsed, 1),
        "docs_cleaned_rows": stats["n"],
        "docs_touched": stats["docs_touched"],
        "tokens_removed": int(stats["removed"]),
        "dropped_hot_windows": n_dropped,
    }


@op("packing", docs=1_000_000)
def run_packing(spark, n_docs: int, args) -> dict:
    """Sequence packing (operators/packing.py): each doc carries a
    deterministic 20-60 token body, packed into ``--seq-len``-token
    training sequences. Asserts total tokens = the sum of the forged
    per-doc counts, exactly total // seq_len complete sequences, and
    every complete sequence's slices summing to exactly seq_len tokens.

    Fields: metric, seq_len, seconds, docs_per_sec, total_tokens,
    n_sequences, n_slice_rows.
    """
    seq_len = args.seq_len
    # 20 + (doc_id % 41) tokens per doc — exact expected total:
    # sum over residue classes of (20 + r) for r in 0..40
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), (F.lit(20) + F.pmod(F.col("id"), 41)).cast("int")),
                lambda i: F.concat(
                    F.lit("t"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(30000))
                ),
            ),
            " ",
        ).alias("text"),
    )
    full, rem = divmod(n_docs, 41)
    expected_total = full * sum(20 + r for r in range(41)) + sum(
        20 + (r % 41) for r in range(rem)
    )
    expected_seqs = expected_total // seq_len

    t0 = time.time()
    caches = runtime.CacheScope()
    packed = pack_sequences(docs, seq_len, cache_registry=caches)
    bad = (
        packed.groupBy("seq_id")
        .agg(F.sum("slice_len").alias("n"))
        .where(F.col("n") != seq_len)
        .count()
    )
    n_slices = packed.count()
    n_seqs = packed.select("seq_id").distinct().count()
    sec = time.time() - t0
    caches.release()

    assert bad == 0, f"{bad} sequences not exactly {seq_len} tokens"
    assert n_seqs == expected_seqs, (n_seqs, expected_seqs)
    return {
        "metric": "sequence_packing_bench",
        "seq_len": seq_len,
        "seconds": round(sec, 2),
        "docs_per_sec": round(n_docs / sec, 1),
        "total_tokens": expected_total,
        "n_sequences": n_seqs,
        "n_slice_rows": n_slices,
    }


DIM = 64


@op("semdedup", docs=1_000_000)
def run_semdedup(spark, n_docs: int, args) -> dict:
    """SemDeDup semantic dedup (dedup.semantic_dedup) on the join
    assignment path, with derivable removals.

    Every id gets a deterministic 64-dim vector from xxhash64(gid, j);
    ids with id % 100 < ``--group`` share their century head's base
    vector plus a tiny per-member jitter: a planted near-dup group.
    Asserts:
      - output rows == N (cluster cap sized so no cluster drops);
      - every (planted-group x assigned-cluster) subgroup of size s
        loses exactly s-1 members (pairwise dominance keeps exactly the
        farthest-from-centroid member; jitter makes centroid sims
        distinct, so no ties), and random 64-dim vectors never cross the
        0.9 cosine threshold (~7-sigma for uniform-cube vectors), so
        removed == sum(s-1) over subgroups EXACTLY, computed from the
        operator's own assignment. A handful of groups straddle a
        knife-edge argmax (the per-member jitter can flip assignment near
        a centroid tie), so the subgroup sum sits slightly under
        n_centuries*(group-1); it must stay >= 95% of that ideal.
    k is sized to the corpus (N / 256-target cluster size, min 128), so
    the bench always exercises the beyond-literal-envelope join path.
    Pass --cores twice (e.g. 8 then 32) for a two-parallelism point.

    Fields: metric, value, unit, k, dim, removed, seconds.
    """
    group = args.group
    # group id: first `group` ids of each century collapse onto the
    # century head; everyone else is their own group of one
    gid = lambda c: F.when(  # noqa: E731
        F.pmod(c, 100) < group, (c / 100).cast("long") * 100
    ).otherwise(c)
    base = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda j: (F.pmod(F.xxhash64(gid(F.col("id")), j), 2000) - 1000).cast("double") / 1000.0,
    )
    jitter = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda j: (F.pmod(F.xxhash64(F.col("id"), j, F.lit(7)), 2000) - 1000)
        .cast("double") / 100000.0,
    )
    emb = spark.range(n_docs).select(
        F.col("id").alias("vec_id"),
        F.zip_with(base, jitter, lambda b, e: b + e).alias("embedding"),
    ).persist()
    emb.count()  # datagen off the clock

    # k tracks corpus size toward ~256-doc clusters but is capped: the
    # paper itself runs a FIXED cluster budget (50k for LAION-440M), and
    # uncapped k makes the O(N*k) assignment term quadratic in N
    k = max(128, min(n_docs // 256, 16384))
    n_centuries = n_docs // 100 + (1 if n_docs % 100 >= group else 0)
    ideal_removed = n_centuries * (group - 1) if n_docs >= group else 0

    t0 = time.time()
    out = dedup.semantic_dedup(
        emb, k=k, min_cosine=0.9, max_cluster_size=max(4096, 64 * n_docs // k)
    ).persist()
    agg = out.agg(
        F.count("*").alias("rows"),
        F.sum((~F.col("keep")).cast("long")).alias("removed"),
    ).collect()[0]
    dt = time.time() - t0

    # exact expectation from the operator's own assignment: each
    # (planted group x cluster) subgroup of size s loses exactly s-1
    expected_removed = (
        out.where(F.pmod(F.col("vec_id"), 100) < group)
        .groupBy(gid(F.col("vec_id")).alias("gid"), "cluster_id")
        .count()
        .agg(F.sum(F.col("count") - 1))
        .collect()[0][0]
    ) or 0
    out.unpersist()

    assert agg["rows"] == n_docs, (agg["rows"], n_docs)
    assert agg["removed"] == expected_removed, (agg["removed"], expected_removed)
    assert expected_removed >= 0.95 * ideal_removed, (expected_removed, ideal_removed)
    return {
        "metric": "semdedup_docs_per_sec",
        "value": round(n_docs / dt, 1),
        "unit": "docs/sec",
        "k": k,
        "dim": DIM,
        "removed": agg["removed"],
        "seconds": round(dt, 2),
    }


@op("warc", docs=100_000, cores=16)
def run_warc(spark, n_docs: int, args) -> dict:
    """WARC ingest (sources/warc.py) over a segmented Common-Crawl-style
    corpus: N docs over ``--segments`` per-record-gzip segment files
    (Common Crawl's own layout, one gzip member per record). Segment
    GENERATION is distributed too (one task writes one segment through
    the writer the tests pin), so the tool scales to millions of docs.

    Timed: read_warc (path-distributed streaming parse) ->
    warc_documents (curation gate, persisted so the extract pass reads
    the cache instead of re-parsing) -> with_extracted_text (the
    pipeline's s1 extraction), then the distributed egress sink back to
    segments. rows_extracted_exact counts the rows whose extraction is
    BYTE-IDENTICAL to the generator's words, replayed from the doc index
    in the url (the input-hint per-row invariant); it equals n_docs on a
    correct extractor, where a nonempty-only check would pass a garbling
    one.

    Fields: metric, n_segments, gen_seconds, warc_bytes, ingest_seconds,
    ingest_docs_per_sec, ingest_mb_per_sec, ingest_plus_extract_seconds,
    rows_ingested, rows_extracted_exact, parse_errors, egress_seconds,
    egress_docs_per_sec, egress_rows.
    """
    n_segments = args.segments or max(args.cores, n_docs // 25_000)
    workdir = tempfile.mkdtemp(prefix="warc_bench_")
    per_seg = (n_docs + n_segments - 1) // n_segments

    def words(i: int) -> str:
        return " ".join(f"w{(i * 31 + j * 7) % 997}" for j in range(40 + i % 60))

    def write_segment(seg_rows):
        # one task = one segment file; synthesis mirrors schema.make_html
        for (seg,) in seg_rows:
            recs = []
            for i in range(seg * per_seg, min((seg + 1) * per_seg, n_docs)):
                url = f"https://bench.example/{i:08d}"
                recs.append(
                    {
                        "url": url,
                        "date": f"2026-01-{1 + i % 28:02d}T00:00:00Z",
                        "http_headers": b"HTTP/1.1 200 OK\r\nContent-Type: text/html",
                        "body": make_html(words(i), url),
                    }
                )
            warc.write_warc_file(os.path.join(workdir, f"seg-{seg:05d}.warc.gz"), recs)
            yield (seg, len(recs))

    t0 = time.time()
    spark.sparkContext.parallelize(
        [(s,) for s in range(n_segments)], n_segments
    ).mapPartitions(write_segment).collect()
    gen_s = time.time() - t0
    total_bytes = sum(os.path.getsize(os.path.join(workdir, f)) for f in os.listdir(workdir))

    raw = warc.read_warc(spark, workdir)
    docs = warc.warc_documents(raw).persist()
    t0 = time.time()
    ingested = docs.count()  # one full parse; later passes read the cache
    ingest_s = time.time() - t0

    @pandas_udf("string")
    def expected_text(url: pd.Series) -> pd.Series:
        return url.map(lambda u: words(int(u.rsplit("/", 1)[1])))

    t0 = time.time()
    ext = with_extracted_text(docs)
    n_ok = ext.where(F.col("text_extracted") == expected_text(F.col("url"))).count()
    extract_s = time.time() - t0

    errors = raw.where(F.col("parse_error").isNotNull()).count()

    t0 = time.time()
    manifest = warc.write_warc(
        docs, os.path.join(workdir, "_egress"), n_segments=n_segments
    ).collect()
    egress_s = time.time() - t0
    egress_rows = sum(r.n_records for r in manifest)
    docs.unpersist()
    shutil.rmtree(workdir, ignore_errors=True)
    return {
        "metric": "warc_ingest",
        "n_segments": n_segments,
        "gen_seconds": round(gen_s, 2),
        "warc_bytes": total_bytes,
        "ingest_seconds": round(ingest_s, 2),
        "ingest_docs_per_sec": round(ingested / ingest_s, 1),
        "ingest_mb_per_sec": round(total_bytes / 1e6 / ingest_s, 1),
        "ingest_plus_extract_seconds": round(ingest_s + extract_s, 2),
        "rows_ingested": ingested,
        "rows_extracted_exact": n_ok,
        "parse_errors": errors,
        "egress_seconds": round(egress_s, 2),
        "egress_docs_per_sec": round(egress_rows / egress_s, 1),
        "egress_rows": egress_rows,
    }


# ---- harness ---------------------------------------------------------


def parse_args(argv=None) -> argparse.Namespace:
    """The CLI; ``--docs``/``--cores`` default to the op's registered size."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("op", choices=sorted(OPS))
    ap.add_argument("--docs", type=int)
    ap.add_argument("--cores", type=int)
    ap.add_argument("--seq-len", type=int, default=2048)
    ap.add_argument("--group", type=int, default=4)
    ap.add_argument("--segments", type=int)
    args = ap.parse_args(argv)
    _, docs, cores = OPS[args.op]
    if args.docs is None:
        args.docs = docs
    if args.cores is None:
        args.cores = cores
    return args


def main(argv=None) -> None:
    args = parse_args(argv)
    if args.op == "semdedup":
        # single-threaded BLAS per task (the cluster_scaling_bench
        # convention): 32 concurrent assignment tasks each spawning a full
        # OpenBLAS thread pool measured 45 s for a matmul pass that runs
        # in ~7 s single-threaded per task. Must be set before the JVM
        # (and its Python workers) launch.
        for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
            os.environ.setdefault(v, "1")
    spark = get_spark(f"{args.op}-bench", cores=args.cores)
    try:
        fields = OPS[args.op][0](spark, args.docs, args)
        print(json.dumps({**fields, "n_docs": args.docs, "cores": args.cores}), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
