"""Deduplication operators for training-data pipelines.

Corpus-dedup components: MinHash-LSH and SimHash near-dup pairs,
duplicated-span removal and SemDeDup semantic dedup. Each returns a
DataFrame; pair outputs compose with connected_components
(dedup_clusters) for cluster-level dedup. Exact dedup is one md5
window inside curation.curate_corpus.

Scale profile: MinHash/SimHash are narrow maps + one banding-join
shuffle; the verify/rescore step only ever touches candidate pairs,
never the full cross product.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from entity_linking_spark import runtime
from entity_linking_spark.functions.minhash import (
    _token_hashes,
    minhash_signature_udf as _sig_udf,
)
from entity_linking_spark.operators import blocking, cluster

# semantic_dedup's centroid literals serve k up to this; beyond it the
# Arrow matmul path runs
_SEMDEDUP_LITERAL_MAX_K = 64


def simhash(tokens: list[str]) -> int:
    """Classic 64-bit SimHash over token hashes (public algorithm).

    Token hashing is shared with minhash (functions/minhash._token_hashes,
    the crc32-forward/crc32-reversed scheme and its entropy rationale live
    there once — a fix to the hash must not have to land in two places).
    Vectorized: token hashes land in a uint64 array, np.unpackbits expands
    them to a [n_tokens, 64] bit matrix in C, and the per-bit +/-1 vote is
    one column sum — no 64-iteration Python inner loop per token."""
    if not tokens:
        return 0
    hs = _token_hashes(tokens)
    # little-endian uint64 bytes + bitorder='little' => bits[:, i] == (h>>i)&1
    bits = np.unpackbits(
        hs.astype("<u8").view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    )
    votes = 2 * bits.astype(np.int32).sum(axis=0) - len(tokens)  # [64]
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
    out = int(weights[votes > 0].sum())
    return out - (1 << 63)  # MSB flip: signed int64 for Spark, XOR-preserving


@pandas_udf(LongType())
def simhash_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(lambda t: simhash(list(t)) if t is not None else None)


def simhash_near_dup_pairs(
    docs_tokens: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs (id_a, id_b, hamming) of ``docs_tokens``
    (url, tokens): band the 64-bit fingerprint into 4 16-bit chunks
    (pigeonhole: hamming<=3 pairs share >=1 exact chunk), equi-join on
    (chunk_idx, chunk), verify hamming distance exactly.

    The banding join is the only shuffle; verification is bit_count on
    xor — pure JVM.
    """
    sh = docs_tokens.select("url", simhash_udf(F.col("tokens")).alias("sh"))
    chunks = sh.select(
        "url",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright("sh", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("url", "sh", "c.chunk_idx", "c.chunk")
    a = chunks.select(
        F.col("url").alias("id_a"), F.col("sh").alias("sh_a"), "chunk_idx", "chunk"
    )
    b = chunks.select(
        F.col("url").alias("id_b"), F.col("sh").alias("sh_b"), "chunk_idx", "chunk"
    )
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def shingle_set_col(tokens_col: str):
    """Distinct 3-shingle strings of a token array — pure Column expr
    (JVM, whole-stage codegen). Mirrors functions.minhash.shingle_hashes:
    fewer than 3 tokens degrade to one whole-join shingle."""
    toks = F.col(tokens_col)
    n = F.size(toks)
    tri = F.transform(
        F.sequence(F.lit(1), n - 3 + 1),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + off) for off in range(3)]
        ),
    )
    return F.array_distinct(
        F.when(n >= 3, tri).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def minhash_near_dup_pairs(
    docs_tokens: DataFrame,
    id_col: str = "url",
    min_jaccard: float = 0.7,
    n_bands: int | None = None,
    verify: str = "est",
    cache_registry: runtime.CacheScope | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup: band-join candidates, then verify.

    verify='est'   — estimated Jaccard from the full 64-perm signatures:
                     the share of agreeing positions, one JVM expression
                     per pair (column ``jaccard_est``).
    verify='exact' — exact Jaccard over distinct 3-shingle string sets,
                     computed JVM-side only for candidate pairs (column
                     ``jaccard``). This is the retrieve-then-rerank shape:
                     LSH proposes, exact math disposes — and it makes the
                     output independently checkable by an all-pairs oracle.

    ``n_bands`` tunes candidate recall (defaults to the module's 16x4
    banding; 32x2 pushes the miss probability at j>=0.7 below 1e-9).
    Candidates come from ``blocking.minhash_keys`` over the pinned band
    table and ``blocking.candidate_pairs`` (its ``MAX_BLOCK_SIZE`` cap).
    The band table is appended to ``cache_registry``: release it once
    the result has been materialized.
    """
    from pyspark import StorageLevel

    from entity_linking_spark.functions.minhash import N_BANDS, make_bands_udf

    base = docs_tokens.select(F.col(id_col).alias("url"), "tokens")
    bands_udf = make_bands_udf(n_bands or N_BANDS)
    # pinned: candidate_pairs scans its keys twice (stop list, self-join),
    # and each unpinned scan would rerun the bands UDF over the corpus
    bands = base.select("url", bands_udf("tokens").alias("bands")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if cache_registry is not None:
        cache_registry.append(bands)
    pairs = blocking.candidate_pairs(blocking.minhash_keys(bands))
    if verify == "exact":
        # shingles are hashed to int64 (JVM xxhash64) BEFORE the pair
        # join: the set semantics — and hence the exact Jaccard value —
        # are unchanged (64-bit collisions are ~n_shingles^2/2^65), but
        # the pair-table exchange carries 8-byte longs instead of ~25-byte
        # shingle strings and array_intersect compares longs, not UTF-8
        sh = base.select(
            "url",
            F.array_distinct(
                F.transform(
                    shingle_set_col("tokens"), lambda s: F.xxhash64(s)
                )
            ).alias("sh"),
        )
        sa = sh.select(F.col("url").alias("url_a"), F.col("sh").alias("sh_a"))
        sb = sh.select(F.col("url").alias("url_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        union = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
        return (
            pairs.join(sa, "url_a")
            .join(sb, "url_b")
            .withColumn("jaccard", inter / union)
            .where(F.col("jaccard") >= min_jaccard)
            .select("url_a", "url_b", F.round("jaccard", 4).alias("jaccard"))
        )
    sigs = base.select("url", _sig_udf("tokens").alias("sig"))
    sa = sigs.select(F.col("url").alias("url_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("url").alias("url_b"), F.col("sig").alias("sig_b"))
    # agreeing positions over the signature length: a count over 64 is
    # exact in double, so this equals functions.minhash.est_jaccard bit
    # for bit without a per-pair Python call
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda e: e))
    return (
        pairs.join(sa, "url_a")
        .join(sb, "url_b")
        .withColumn("jaccard_est", agree / F.size("sig_a"))
        .where(F.col("jaccard_est") >= min_jaccard)
        .select("url_a", "url_b", "jaccard_est")
    )


def dedup_clusters(docs: DataFrame, pair_df: DataFrame) -> DataFrame:
    """Near-dup pairs -> transitive dup clusters -> keeper per cluster:
    (url, keeper) for every ``url`` of ``docs``."""
    edges = pair_df.select("url_a", "url_b")
    comps = cluster.connected_components(edges, docs.select("url"))
    return comps.select("url", F.col("cluster_id").alias("keeper"))


def window_hash_positions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "url",
    window: int = 20,
) -> DataFrame:
    """(id, pos, whash, n_toks): the polynomial hash of every
    ``window``-token window, with its token position and the document's
    token count — the posting-list input for repeated-substring
    detection. Docs of <= window tokens emit one whole-doc window at
    pos 0.

    The key is TWO independent oracle-replayable poly hashes (multipliers
    31 and 131, both mod p = 1e9+7, the rolling-fingerprint family in
    functions/text.py) packed into one int64 as h31*p + h131: a single
    mod-1e9+7 hash saturates at the corpus scale this operator targets
    (10^12 windows into 10^9 buckets puts ~10^3 different windows in
    EVERY bucket — a catastrophic false-dup rate), while the combined
    ~2^60 key space keeps the per-window false-positive rate ~5e-7 even
    at a trillion windows. The keys come from functions/text._window_keys
    (the O(chars) vectorized prefix-hash fold, which also owns the
    packing); DuckDB replays each hash with a list_reduce fold and the
    same packing arithmetic."""
    from collections.abc import Iterator

    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from entity_linking_spark.functions.text import _window_keys

    out_schema = StructType(
        [
            StructField("id", StringType(), False),
            StructField("pos", IntegerType(), False),
            StructField("whash", LongType(), False),
            StructField("n_toks", IntegerType(), False),
        ]
    )

    src = df.select(F.col(id_col).cast("string").alias("id"), F.col(text_col))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, poss, hashes, ntoks = [], [], [], []
            for did, text in zip(pdf["id"], pdf[text_col]):
                if text is None:
                    continue
                vals = _window_keys(text, (window,))[window]
                # single-space-split token count without a second split:
                # len(s.split(' ')) == s.count(' ') + 1 by definition
                nt = text.count(" ") + 1
                ids.extend([did] * len(vals))
                poss.extend(range(len(vals)))
                hashes.extend(vals.tolist())
                ntoks.extend([nt] * len(vals))
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype="object"),
                    "pos": pd.Series(poss, dtype="int32"),
                    "whash": pd.Series(hashes, dtype="int64"),
                    "n_toks": pd.Series(ntoks, dtype="int32"),
                }
            )

    return src.mapInPandas(run, schema=out_schema)


def duplicated_spans(
    df: DataFrame,
    id_col: str = "url",
    window: int = 20,
    max_postings: int = 256,
    return_dropped: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Cross-document repeated-substring detection over ``df``'s
    ``text`` column (the ExactSubstr-style dedup of the public
    training-data literature — Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" — re-expressed relationally
    instead of via a monolithic suffix array): every ``window``-token
    span whose hash appears in at least 2 distinct documents is
    reported, with overlapping duplicated windows
    merged into MAXIMAL spans per document (gaps-and-islands, pure JVM
    window functions).

    Returns (id, span_start, span_end, n_windows): token-position spans,
    end exclusive.

    Scale design: the only Python is the O(chars) window-hash pass; the
    posting aggregate is one map-side-combined shuffle on an int64 key;
    ``max_postings`` is the stop-key cap — a boilerplate window present
    in millions of docs would otherwise fan its posting list into every
    reducer (those windows are exactly what doc-level exact/minhash
    dedup already handles). Windows never leave the JVM after the hash
    pass; no pair table is ever formed (postings, not O(n^2)).

    ``return_dropped=True`` additionally returns the stop-keyed windows
    as a DataFrame (whash, n_docs, n_postings) — one row per duplicated
    window the cap EXCLUDED — so the cap is never silent: callers count
    or persist it next to the spans (dedup_repeated_substrings and the
    gate row do). span_end is clamped to the document's token count
    (whole-doc windows on short docs would otherwise overshoot,
    corrupting any consumer that slices tokens by these bounds).

    Every occurrence of a duplicated span is reported, so removal cuts
    all of them — the deduplicate-text-datasets policy."""
    from pyspark.sql import Window

    wh = window_hash_positions(df, "text", id_col, window)
    key_stats = wh.groupBy("whash").agg(
        F.countDistinct("id").alias("n_docs"),
        F.count("*").alias("n_postings"),
    ).where(F.col("n_docs") >= 2)
    if return_dropped:
        # spans and dropped are consumed as SEPARATE actions; without a
        # cache the second action would replay the whole posting
        # aggregate (hash pass included). key_stats holds only the
        # DUPLICATED keys — orders of magnitude smaller than the posting
        # table, which is never cached (at 10^12 windows caching
        # postings would be the bug).
        key_stats = key_stats.persist()
    in_cap = key_stats.where(F.col("n_postings") <= max_postings)
    dup = wh.join(in_cap.select("whash"), "whash", "left_semi")
    # gaps-and-islands: a new island starts where this window neither
    # overlaps nor touches any previous duplicated window ([pos,
    # pos+window) spans; touching regions merge into one contiguous span)
    w = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + window).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = F.sum(
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    ).over(w)
    spans = (
        dup.withColumn("_grp", grp)
        .groupBy("id", "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            F.least(F.max("pos") + window, F.max("n_toks").cast("long")).alias(
                "span_end"
            ),
            F.count("*").alias("n_windows"),
        )
        .drop("_grp")
    )
    if return_dropped:
        dropped = key_stats.where(F.col("n_postings") > max_postings)
        return spans, dropped
    return spans


def remove_duplicated_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "url",
) -> DataFrame:
    """Cut token spans out of ``df``'s ``text`` column — the curation ACTION of
    ExactSubstr dedup (Lee et al. 2022 cut the duplicated spans; round
    4's duplicated_spans only reported them).

    ``spans``: (id, span_start, span_end) token-position spans, end
    exclusive, 0-based over the single-space token split (exactly
    duplicated_spans' output). Returns the input frame plus
    ``clean_text`` (the text with span tokens removed, single-space
    rejoined) and ``n_removed_tokens``. Docs with no spans pass through
    with clean_text == text and 0 removed.

    Scale shape: spans collapse to one small array per doc (sort_array
    + collect_list — spans per doc are the merged maximal islands, a
    handful even for heavily-duplicated docs), broadcast-or-shuffle
    LEFT join back to the docs, then a pure JVM higher-order filter:
    token i survives when no span covers it. No Python anywhere."""
    per_doc = spans.groupBy(F.col("id").alias("_sid")).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans")
    )
    joined = df.join(
        per_doc, F.col(id_col).cast("string") == F.col("_sid"), "left"
    ).drop("_sid")
    toks = F.split(F.col("text"), " ")
    kept = F.filter(
        toks,
        lambda _tok, i: ~F.exists(
            F.col("_spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    clean = F.when(F.col("_spans").isNull(), F.col("text")).otherwise(
        F.concat_ws(" ", kept)
    )
    removed = F.when(F.col("_spans").isNull(), F.lit(0)).otherwise(
        F.size(toks) - F.size(kept)
    )
    return (
        joined.withColumn("clean_text", clean)
        .withColumn("n_removed_tokens", removed)
        .drop("_spans")
    )


def dedup_repeated_substrings(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Detection + removal composed: the full ExactSubstr curation pass
    over ``df`` (url, text), cutting every 20-token window that appears
    in at least 2 documents.

    Returns (cleaned, dropped): ``cleaned`` is ``df`` + clean_text +
    n_removed_tokens with every cross-document duplicated span cut from
    EVERY document carrying it (the public deduplicate-text-datasets
    behavior); ``dropped`` is the stop-keyed hot-window table (whash,
    n_docs, n_postings) of windows in more than 256 postings, so the
    cap is observable, never silent."""
    spans, dropped = duplicated_spans(
        df, window=20, max_postings=256, return_dropped=True
    )
    return remove_duplicated_spans(df, spans), dropped


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    min_cosine: float = 0.38,
    max_cluster_size: int = 4096,
    cache_registry: runtime.CacheScope | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540) of ``embeddings`` (vec_id, embedding): cluster
    the embedding space, then inside each
    cluster remove every document that has a near-duplicate (cosine >=
    ``min_cosine``), keeping the member FARTHEST from its centroid —
    the paper's diversity-preserving keep rule.

    Deterministic, oracle-replayable formulation (this is the variant
    choice, stated honestly): (1) centroids are k EXEMPLAR rows chosen
    by md5-of-id order (a deterministic pseudo-random sample — the
    paper's k-means is replaced by one-shot exemplar assignment so
    DuckDB can replay every step; the iterative-k-means variant would
    be pytest-only like D12's fractional path); (2) the per-pair keep
    rule is pairwise dominance — x is removed iff x sits strictly
    CLOSER to the centroid than some same-cluster y with
    cos(x, y) >= min_cosine (the keep-farthest diversity rule; on a
    tie the smaller id survives) — rather than the sequential greedy
    scan, so removal is a pure EXISTS, expressible in both engines and
    shuffle-parallel.

    Scale shape (the 100-TB plan):
      - centroids are a bounded k-row collect broadcast as LITERALS, so
        assignment is ONE projection in whole-stage codegen — zero
        exchanges, zero explode (k sims folded via greatest() over
        structs, argmax with the sim-desc/cid-asc tie rule);
      - the cluster-size cap joins against a k-row aggregate
        (broadcast), and over-cap clusters are DROPPED before the pair
        join (stop-key treatment, same policy as blocking.candidate_pairs:
        a degenerate boilerplate cluster would emit size^2/2 pairs onto
        one reducer; curate_corpus runs exact and MinHash dedup before
        this step) — dropped docs leave the output, mirroring the
        bucketed operators;
      - the within-cluster self-join exchanges (id, cid, sim, vec)
        keyed by cid — pairs are bounded by k * max_cluster_size^2 / 2,
        never N^2;
      - BEYOND the literal envelope: k must grow with the corpus
        (SemDeDup sizes clusters to a few hundred docs, so k ~ N /
        target_size — 4096+ at 1M docs), and both a k*dim-literal
        projection AND per-pair higher-order-function folds stop being
        reasonable there (the expression tree outgrows codegen; N*k
        interpreted folds measured ~2 orders slower than one matmul).
        So for k > 64 the Arrow path runs instead (the ivf_topk
        convention) — ONE
        [batch, dim] x [dim, k] float64 matmul per Arrow batch for
        assignment (centroids ride the UDF closure: zero exchanges,
        zero explode), then ONE applyInPandas over the cluster key
        where each cluster's pair similarity is a single s x s matmul
        and the dominance rule a boolean reduction — the pair table
        never materializes, so the whole dedup is one exchange of N
        narrow rows (the relational pair join ships s^2/2 rows each
        carrying two vectors: measured 131 GB of Arrow traffic at 1M
        docs where this shape moves ~0.5 GB). The k picks the path as
        the alias-table size picks the trie or join mention path: both
        paths are pinned output-identical by pytest on the fixture
        corpus — double-precision matmul and the JVM fold agree to the
        last ulp everywhere away from knife-edge centroid ties.

    On the gate path (small k) all similarity arithmetic is the JVM
    sequential double fold (functions.vectors.cosine_col),
    bit-reproducible against DuckDB's list_cosine_similarity.

    Returns (vec_id, cluster_id, centroid_sim DOUBLE round-4,
    keep BOOLEAN), one row per surviving-cluster document (rows with a
    NULL embedding and rows in over-cap clusters are absent — callers
    that treat the output as a removal list, like curate_corpus, keep
    absent docs, which is the safe direction for a removal gate).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from entity_linking_spark.functions.vectors import cosine_col

    # NULL embeddings are excluded up front (documented: no embedding,
    # no semantic identity — they would otherwise crash the Arrow
    # path's np.stack and poison an exemplar draw on the literal path)
    src = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    ).where(F.col("embedding").isNotNull())
    arrow_path = k > _SEMDEDUP_LITERAL_MAX_K
    # bounded k-row collect either way (the brute_force_topk
    # convention); exemplar order is md5-of-id, plan-independent
    exemplars = (
        src.orderBy(F.md5(F.col("id").cast("string")), "id")
        .limit(k)
        .collect()
    )
    # output id field keeps the INPUT id dtype on every path (empty /
    # Arrow / gate) — hardcoding long made the output dtype depend on
    # which path ran for e.g. an int32 id, breaking the documented
    # path-identical contract and downstream join key types
    _id_dt = embeddings.schema["vec_id"].dataType.simpleString()
    if not exemplars:
        # empty corpus: an empty, correctly-typed result — not a
        # zero-centroid argmax crash (an upstream gate emptying the
        # batch is a legitimate state for a composed curation chain)
        return embeddings.sparkSession.createDataFrame(
            [],
            schema=(
                f"vec_id {_id_dt}, cluster_id long, "
                "centroid_sim double, keep boolean"
            ),
        )
    if arrow_path:
        # scale path (ivf_topk convention): centroids ride the UDF
        # closure, normalized once; each Arrow batch is one [b, dim] x
        # [dim, k] float64 matmul + argmax. np.argmax takes the FIRST
        # max, and cmat rows are sorted by centroid id, so ties break
        # to the smallest cid — the literal path's rule.
        cents_sorted = sorted(
            (r["id"], np.asarray(r["vec"], dtype=np.float64))
            for r in exemplars
        )
        cid_arr = np.asarray([c[0] for c in cents_sorted])
        cmat = np.stack([c[1] for c in cents_sorted])
        cnorm = np.linalg.norm(cmat, axis=1)
        cnorm[cnorm == 0] = 1.0
        cmat_n = cmat / cnorm[:, None]

        # scratch bound: a full [batch, k] score matrix is 312 MB at the
        # default 10k-row Arrow batch and k ~ 4000 — 32 concurrent tasks
        # then churn ~20 GB of allocations and the stage saturates
        # memory bandwidth instead of FLOPs (measured 2.5x ANTI-scaling
        # 8 -> 32 cores). Chunk rows so the dot block stays ~32 MB, and
        # divide only the WINNING dot by the row norm — per-row positive
        # scaling never changes the argmax, so the full-matrix division
        # pass (another 312 MB write) is pure waste.
        chunk = max(256, (1 << 22) // max(len(cid_arr), 1))

        @pandas_udf("struct<sim: double, cid: long>")
        def assign_udf(vecs: pd.Series) -> pd.DataFrame:
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            n_rows = len(mat)
            best = np.empty(n_rows)
            idx = np.empty(n_rows, dtype=np.int64)
            for s in range(0, n_rows, chunk):
                dots = mat[s:s + chunk] @ cmat_n.T
                i = np.argmax(dots, axis=1)
                idx[s:s + chunk] = i
                best[s:s + chunk] = dots[np.arange(len(i)), i]
            return pd.DataFrame({
                "sim": best / norms,
                "cid": cid_arr[idx],
            })

        asg = src.withColumn("_a", assign_udf(F.col("vec"))).select(
            "id",
            "vec",
            F.col("_a").getField("sim").alias("sim"),
            F.col("_a").getField("cid").alias("cid"),
        )
    else:
        # gate path: exemplar centroids become literal arrays so
        # assignment needs no join at all
        cents = [
            (r["id"], [float(x) for x in r["vec"]]) for r in exemplars
        ]

        def _sim_struct(cid, cvec):
            lit_vec = F.array(*[F.lit(x) for x in cvec])
            return F.struct(
                cosine_col(F.col("vec"), lit_vec).alias("sim"),
                # negated id: struct-max on (sim, negcid) = argmax by
                # sim with ties to the SMALLEST centroid id
                F.lit(-cid).cast("long").alias("negcid"),
            )
        structs = [_sim_struct(cid, cvec) for cid, cvec in cents]
        best = structs[0] if len(structs) == 1 else F.greatest(*structs)
        asg = src.select(
            "id",
            "vec",
            best.getField("sim").alias("sim"),
            (-best.getField("negcid")).alias("cid"),
        )
    # the assignment feeds every downstream consumer (the size count,
    # the cap join, and the pair stage — plus the output join on the
    # gate path): persist so the assignment pass runs once, not 3-4x
    # (the dedup_minhash_pairs persist-once convention). cache_registry
    # (runtime.CacheScope) lets callers that run many batches release it
    # after their action.
    from pyspark import StorageLevel

    asg = asg.persist(StorageLevel.MEMORY_AND_DISK)
    if cache_registry is not None:
        cache_registry.append(asg)
    sizes = asg.groupBy("cid").agg(F.count("*").alias("_csize"))
    asg = (
        asg.join(F.broadcast(sizes), "cid")
        .where(F.col("_csize") <= max_cluster_size)
        .drop("_csize")
    )
    if arrow_path:
        # scale path: ONE applyInPandas over the cluster key. Each
        # cluster (<= max_cluster_size rows) lands as one pandas group;
        # pair similarity is a single s x s float64 matmul and the
        # dominance rule one boolean reduction — the pair TABLE never
        # exists, so the only exchange is N narrow rows keyed by cid
        # (the relational pair join below would push s^2/2 rows each
        # carrying two dim-sized arrays through Arrow: measured 131 GB
        # at 1M docs x 256-doc clusters vs ~0.5 GB for this shape).
        eps = float(min_cosine)

        def _cluster_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf["id"].to_numpy()
            sims = pdf["sim"].to_numpy()
            out = pd.DataFrame({
                "vec_id": ids,
                "cluster_id": pdf["cid"].to_numpy(),
                # HALF_UP-style to match Spark's round() (np.round is
                # half-to-even — would diverge from the literal path
                # at exact .00005 boundaries). Caveat: Spark rounds via
                # BigDecimal's shortest-DECIMAL representation while
                # this rounds the binary double, so a double printing
                # as x.xxxx5 but sitting just below it can differ in
                # the 4th decimal at representational knife edges —
                # display-only (keep decisions use unrounded sims) and
                # pinned identical on the fixture corpus
                "centroid_sim": np.sign(sims)
                * np.floor(np.abs(sims) * 1e4 + 0.5) / 1e4,
                "keep": np.ones(len(pdf), dtype=bool),
            })
            if len(pdf) < 2:
                return out
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            sim_pair = (mat / norms[:, None]) @ (mat / norms[:, None]).T
            near = sim_pair >= eps
            np.fill_diagonal(near, False)
            # [i, j]: j strictly farther from the centroid than i (or
            # tied with a smaller id) -> i is dominated and removed
            dom = near & (
                (sims[None, :] < sims[:, None])
                | ((sims[None, :] == sims[:, None]) & (ids[None, :] < ids[:, None]))
            )
            out["keep"] = ~dom.any(axis=1)
            return out

        return asg.groupBy("cid").applyInPandas(
            _cluster_dedup,
            schema=(
                f"vec_id {_id_dt}, cluster_id long, "
                "centroid_sim double, keep boolean"
            ),
        )

    # gate path: relational pair join + dominance victims, every step
    # DuckDB-replayable
    lhs = asg.select(
        F.col("id").alias("id_a"), "cid",
        F.col("sim").alias("sim_a"), F.col("vec").alias("vec_a"),
    )
    rhs = asg.select(
        F.col("id").alias("id_b"), "cid",
        F.col("sim").alias("sim_b"), F.col("vec").alias("vec_b"),
    )
    pairs = (
        lhs.join(rhs, "cid")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cosine_col("vec_a", "vec_b") >= F.lit(float(min_cosine)))
    )
    victims = pairs.select(
        F.when(F.col("sim_a") > F.col("sim_b"), F.col("id_a"))
        .when(F.col("sim_b") > F.col("sim_a"), F.col("id_b"))
        .otherwise(F.greatest("id_a", "id_b"))
        .alias("id")
    ).distinct()
    return (
        asg.join(victims.withColumn("_hit", F.lit(1)), "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            F.col("cid").alias("cluster_id"),
            F.round("sim", 4).alias("centroid_sim"),
            F.col("_hit").isNull().alias("keep"),
        )
    )
