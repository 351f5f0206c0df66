"""Dedup operators + ANN search tests."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from entity_linking_spark.functions.minhash import est_jaccard, minhash_signature
from entity_linking_spark.operators import ann, dedup


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.RandomState(7)
    base = rng.standard_normal((40, 16)).astype(np.float32)
    rows = []
    for i in range(40):
        v = base[i] / np.linalg.norm(base[i])
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    # near-dups of vec 0 and 1
    for j, src in enumerate([0, 0, 1]):
        v = base[src] + rng.standard_normal(16).astype(np.float32) * 0.01
        v = v / np.linalg.norm(v)
        rows.append(Row(vec_id=100 + j, embedding=[float(x) for x in v]))
    return spark.createDataFrame(rows)


def test_simhash_near_dup(spark):
    # simhash stability needs doc-length token streams: 1 change in 120
    # tokens flips only a few fingerprint bits
    toks = [f"tok{i % 40}" for i in range(120)]
    toks2 = list(toks)
    toks2[3] = "CHANGED"
    far = [f"word{i}" for i in range(120)]
    df = spark.createDataFrame(
        [Row(url="a", tokens=toks), Row(url="b", tokens=toks2), Row(url="c", tokens=far)]
    )
    pairs = dedup.simhash_near_dup_pairs(df, max_hamming=4).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert ("a", "b") in got
    assert ("a", "c") not in got and ("b", "c") not in got


def test_minhash_near_dup_and_clusters(spark):
    base = [f"tok{i}" for i in range(60)]
    var = list(base)
    var[10] = "x"
    far = [f"other{i}" for i in range(60)]
    df = spark.createDataFrame(
        [Row(url="a", tokens=base), Row(url="b", tokens=var), Row(url="c", tokens=far)]
    )
    pairs = dedup.minhash_near_dup_pairs(df, min_jaccard=0.5)
    got = {(r.url_a, r.url_b): r.jaccard_est for r in pairs.collect()}
    assert ("a", "b") in got and got[("a", "b")] > 0.5
    # the JVM agreement count equals the numpy estimator bit for bit
    assert got[("a", "b")] == est_jaccard(minhash_signature(base), minhash_signature(var))
    clusters = dedup.dedup_clusters(df, pairs)
    ks = {r.url: r.keeper for r in clusters.collect()}
    assert ks["a"] == ks["b"] == "a"
    assert ks["c"] == "c"


def test_brute_force_topk_exact(spark, corpus):
    queries = corpus.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann.brute_force_topk(corpus, queries, k=4)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert rows[0].neighbor_id == 0 and rows[0].cos_sim == 1.0
    assert {r.neighbor_id for r in rows[1:3]} == {100, 101}


def test_lsh_topk_finds_near_dups(spark, corpus):
    queries = corpus.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann.lsh_topk(corpus, queries, k=4)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert rows[0].neighbor_id == 0
    ids = {r.neighbor_id for r in rows}
    assert 100 in ids and 101 in ids  # near-dups recovered via multiprobe


def _small_ivf(monkeypatch):
    """4 cells, 2 probed: a multi-cell index over the 43-row corpus."""
    monkeypatch.setattr(ann, "_IVF_N_CELLS", 4)
    monkeypatch.setattr(ann, "_IVF_N_PROBE", 2)


def test_ivf_topk_finds_near_dups(spark, corpus, monkeypatch):
    _small_ivf(monkeypatch)
    queries = corpus.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann.ivf_topk(corpus, queries, k=4)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert rows[0].neighbor_id == 1 and rows[0].cos_sim == 1.0
    assert 102 in {r.neighbor_id for r in rows}


def test_ivf_topk_coarse_sample_mod_falls_back(spark, corpus, monkeypatch):
    """A web-scale sample modulus on a small corpus can leave ZERO rows
    in the centroid hash-sample; ivf_topk must fall back to the
    unfiltered bottom-k-by-hash instead of crashing in np.stack."""
    _small_ivf(monkeypatch)
    monkeypatch.setattr(ann, "_IVF_SAMPLE_MOD", 1 << 20)
    queries = corpus.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann.ivf_topk(corpus, queries, k=4)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert rows[0].neighbor_id == 1 and rows[0].cos_sim == 1.0


@pytest.mark.parametrize(
    "op, key_udf",
    [
        (lambda c, q: ann.lsh_topk(c, q, k=4, n_planes=4), "bucket_udf"),
        (lambda c, q: ann.ivf_topk(c, q, k=4), "cell_udf"),
    ],
    ids=["lsh_topk", "ivf_topk"],
)
def test_key_udf_runs_once_per_join_side(spark, corpus, op, key_udf, monkeypatch):
    """A join on a UDF-made key evaluates the UDF once per row of its
    side: a deterministic key UDF is copied into the join's inferred
    isnotnull filter, a second ArrowEvalPython over the same rows. The
    ANN joins compute the key on the corpus side only, so each executed
    plan has exactly one ArrowEvalPython node of the key UDF."""
    _small_ivf(monkeypatch)
    queries = corpus.select(F.col("vec_id").alias("query_id"), "embedding")
    df = op(corpus, queries)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert len(re.findall(rf"ArrowEvalPython \[{key_udf}\(", final)) == 1, final


def test_lsh_recall_vs_bruteforce(spark):
    """On clustered embeddings (real-corpus geometry), LSH top-k recovers
    most of the exact top-k. Random isotropic vectors are NOT the LSH
    contract — near neighbors there have cos~0.3 and land in far buckets."""
    rng = np.random.RandomState(11)
    centers = rng.standard_normal((5, 16)).astype(np.float32)
    rows = []
    vid = 0
    for c in range(5):
        for _ in range(12):
            v = centers[c] + rng.standard_normal(16).astype(np.float32) * 0.05
            v = v / np.linalg.norm(v)
            rows.append(Row(vec_id=vid, embedding=[float(x) for x in v]))
            vid += 1
    corpus = spark.createDataFrame(rows)
    queries = corpus.where(F.col("vec_id") % 12 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    k = 8
    exact = ann.brute_force_topk(corpus, queries, k=k).collect()
    approx = ann.lsh_topk(corpus, queries, k=k).collect()
    from collections import defaultdict

    ex, ap = defaultdict(set), defaultdict(set)
    for r in exact:
        ex[r.query_id].add(r.neighbor_id)
    for r in approx:
        ap[r.query_id].add(r.neighbor_id)
    recalls = [len(ex[q] & ap[q]) / len(ex[q]) for q in ex]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_minhash_exact_verify(spark):
    base = [f"tok{i}" for i in range(60)]
    var = list(base)
    var[10] = "x"
    far = [f"other{i}" for i in range(60)]
    df = spark.createDataFrame(
        [Row(url="a", tokens=base), Row(url="b", tokens=var), Row(url="c", tokens=far)]
    )
    pairs = dedup.minhash_near_dup_pairs(
        df, min_jaccard=0.5, n_bands=32, verify="exact"
    ).collect()
    got = {(r.url_a, r.url_b): r.jaccard for r in pairs}
    assert set(got) == {("a", "b")}
    # exact 3-shingle jaccard: 58 shingles each, the changed token
    # perturbs 3 -> 55 shared / 61 union
    assert got[("a", "b")] == pytest.approx(55 / 61, abs=1e-4)


def test_ann_recall_sf01_planted_neardups(spark):
    """Recall evidence at driver-testdata scale (sf0.1 embeddings,
    2000x64): the table is ISOTROPIC by construction (measured top-10
    cosine ~0.31-0.42, same-label mean cos ~0.0), so 'recall of the
    isotropic top-10' is outside any bucketed-ANN contract (LSH ~0.28,
    IVF ~0.66 measured — recorded in BENCH/BASELINE.md). The contract
    these operators exist for is NEAR-DUP retrieval: a query whose true
    neighbor is at cos~0.999 must recover it through 2000 real
    distractors. Plant 20 deterministic near-dups, query with the
    sources, assert recall >= 0.8 for BOTH lsh_topk and ivf_topk."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    srcs = sorted(emb.where(F.col("vec_id") < 20).collect(), key=lambda r: r.vec_id)
    assert len(srcs) == 20
    rng = np.random.RandomState(13)
    planted = []
    for r in srcs:
        v = np.asarray(r.embedding, dtype=np.float32)
        nd = v + rng.standard_normal(v.shape).astype(np.float32) * (
            0.02 * float(np.linalg.norm(v)) / np.sqrt(len(v))
        )
        planted.append(
            Row(vec_id=100000 + r.vec_id, embedding=[float(x) for x in nd])
        )
    corpus = emb.unionByName(spark.createDataFrame(planted, emb.schema))
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    k = 10
    # n_planes=6: the gate entry's density rule for ~2k vectors
    for name, out in (
        ("lsh", ann.lsh_topk(corpus, queries, k=k, n_planes=6)),
        ("ivf", ann.ivf_topk(corpus, queries, k=k)),
    ):
        got: dict[int, set] = {}
        for r in out.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(1 for q in range(20) if 100000 + q in got.get(q, set()))
        assert hits / 20 >= 0.8, (name, hits, {q: got.get(q) for q in range(20)})
        # the query vector itself is in the corpus: must always be found
        self_hits = sum(1 for q in range(20) if q in got.get(q, set()))
        assert self_hits == 20, (name, self_hits)


def _ref_duplicated_spans(docs, window, min_docs):
    """Pure-Python reference for duplicated_spans: O(n*W) per doc, hash
    replayed per window from first principles (functions/text._poly_hash
    under BOTH multipliers over the joined lowered token window, packed
    as h31*p + h131 — the operator's combined key), span_end clamped to
    the doc's token count."""
    from collections import defaultdict

    from entity_linking_spark.functions.text import (
        _POLY_MOD,
        _WHASH_MUL2,
        _poly_hash,
    )

    def h(s):
        return _poly_hash(s) * _POLY_MOD + _poly_hash(s, _WHASH_MUL2)

    windows = {}  # id -> (n_toks, [(pos, hash)])
    postings = defaultdict(set)
    for did, text in docs:
        toks = text.lower().split(" ")
        if len(toks) <= window:
            ws = [(0, h(" ".join(toks)))]
        else:
            ws = [
                (i, h(" ".join(toks[i : i + window])))
                for i in range(len(toks) - window + 1)
            ]
        windows[did] = (len(toks), ws)
        for _, hv in ws:
            postings[hv].add(did)
    spans = {}
    for did, (n_toks, ws) in windows.items():
        dup_pos = [p for p, hv in ws if len(postings[hv]) >= min_docs]
        merged = []
        for p in dup_pos:
            end = min(p + window, n_toks)
            if merged and p <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], end)
                merged[-1][2] += 1
            else:
                merged.append([p, end, 1])
        if merged:
            spans[did] = {(a, b, n) for a, b, n in merged}
    return spans


def test_duplicated_spans_exactsubstr(spark):
    """Cross-doc repeated-substring detection: a shared 30-token run is
    reported as one maximal merged span per doc at the right token
    offsets; unique text yields nothing; the posting cap drops viral
    windows. Verified against a from-first-principles Python replay."""
    shared = " ".join(f"s{i}" for i in range(30))
    docs = [
        ("a", " ".join(f"a{i}" for i in range(25)) + " " + shared),
        ("b", shared + " " + " ".join(f"b{i}" for i in range(40))),
        ("c", " ".join(f"c{i}" for i in range(60))),  # unique: no spans
    ]
    W = 20
    df = spark.createDataFrame(docs, "url string, text string")
    rows = dedup.duplicated_spans(df, window=W).collect()
    got = {}
    for r in rows:
        got.setdefault(r.id, set()).add((r.span_start, r.span_end, r.n_windows))
    expected = _ref_duplicated_spans(docs, W, 2)
    assert got == expected
    # doc a: the shared run occupies tokens [25, 55) -> one span
    assert got["a"] == {(25, 55, 11)}
    assert got["b"] == {(0, 30, 11)}
    assert "c" not in got
    # viral window: the same run in MANY docs blows the posting cap and
    # is dropped (doc-level dedup owns that case) — and the drop is
    # OBSERVABLE, not silent: return_dropped surfaces the capped keys
    viral_docs = docs + [(f"v{i}", shared + f" tail{i} x y z") for i in range(30)]
    vdf = spark.createDataFrame(viral_docs, "url string, text string")
    capped, dropped = dedup.duplicated_spans(
        vdf, window=W, max_postings=10, return_dropped=True
    )
    assert capped.collect() == []
    drows = dropped.collect()
    # the shared 30-token run yields 11 duplicated window hashes, each
    # in 32 docs > the cap of 10
    assert len(drows) == 11
    assert all(r.n_docs == 32 and r.n_postings == 32 for r in drows)


def test_duplicated_spans_short_doc_end_clamped(spark):
    """A doc of <= window tokens duplicated across docs reports
    span_end == its token count, never pos+window (the round-4 advice:
    consumers slicing tokens by these bounds must not overshoot)."""
    docs = [
        ("a", "tiny shared five token doc"),
        ("b", "tiny shared five token doc"),
    ]
    df = spark.createDataFrame(docs, "url string, text string")
    rows = dedup.duplicated_spans(df, window=20).collect()
    assert {(r.id, r.span_start, r.span_end) for r in rows} == {
        ("a", 0, 5),
        ("b", 0, 5),
    }


def test_remove_duplicated_spans_cuts_all_cross_doc_repeats(spark):
    """The removal transform: spans cut from every carrier, clean docs
    untouched, and the cleaned corpus contains NO >= window-token
    cross-document repeat any more (re-running detection on clean_text
    finds nothing)."""
    shared = " ".join(f"s{i}" for i in range(30))
    docs = [
        ("a", " ".join(f"a{i}" for i in range(25)) + " " + shared),
        ("b", shared + " " + " ".join(f"b{i}" for i in range(40))),
        ("c", " ".join(f"c{i}" for i in range(60))),
    ]
    W = 20
    df = spark.createDataFrame(docs, "url string, text string")
    cleaned, dropped = dedup.dedup_repeated_substrings(df)
    got = {r.url: r for r in cleaned.collect()}
    assert dropped.count() == 0
    # doc a: tokens [25, 55) cut -> the a-prefix survives
    assert got["a"].clean_text == " ".join(f"a{i}" for i in range(25))
    assert got["a"].n_removed_tokens == 30
    # doc b: tokens [0, 30) cut -> the b-suffix survives
    assert got["b"].clean_text == " ".join(f"b{i}" for i in range(40))
    assert got["b"].n_removed_tokens == 30
    # doc c: untouched, zero removed
    assert got["c"].clean_text == docs[2][1]
    assert got["c"].n_removed_tokens == 0
    # the curation postcondition: no cross-doc repeat survives
    clean_df = cleaned.select("url", F.col("clean_text").alias("text"))
    assert dedup.duplicated_spans(clean_df, window=W).collect() == []


def test_remove_duplicated_spans_randomized_postcondition(spark):
    """Randomized corpora with planted shared runs: after removal, NO
    >= window-token cross-document repeat remains, and untouched docs
    roundtrip byte-identically."""
    import random

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(400)]
    runs = [" ".join(rng.choice(vocab) for _ in range(L)) for L in (24, 31)]
    docs = []
    for d in range(14):
        toks = [rng.choice(vocab) for _ in range(rng.randint(30, 80))]
        text = " ".join(toks)
        if d % 3 != 2:
            run = runs[d % len(runs)]
            cut = rng.randint(0, len(toks))
            text = " ".join(toks[:cut] + [run] + toks[cut:])
        docs.append((f"d{d}", text))
    W = 20
    df = spark.createDataFrame(docs, "url string, text string")
    cleaned, _ = dedup.dedup_repeated_substrings(df)
    rows = {r.url: r for r in cleaned.collect()}
    spans = _ref_duplicated_spans(docs, W, 2)
    for did, text in docs:
        if did not in spans:
            assert rows[did].clean_text == text
            assert rows[did].n_removed_tokens == 0
        else:
            toks = text.split(" ")
            cut = {
                i for a, b, _n in spans[did] for i in range(a, b)
            }
            expect = " ".join(t for i, t in enumerate(toks) if i not in cut)
            assert rows[did].clean_text == expect
    clean_df = cleaned.select("url", F.col("clean_text").alias("text"))
    assert (
        dedup.duplicated_spans(clean_df, window=W, max_postings=1000).collect()
        == []
    )


def test_duplicated_spans_randomized(spark):
    """Randomized agreement with the Python replay: seeded corpora with
    planted shared runs of assorted lengths and positions."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    runs = [
        " ".join(rng.choice(vocab) for _ in range(L)) for L in (22, 35, 50)
    ]
    docs = []
    for d in range(12):
        toks = [rng.choice(vocab) for _ in range(rng.randint(25, 90))]
        text = " ".join(toks)
        if d % 3 != 2:  # two thirds of docs embed a shared run
            run = runs[d % len(runs)]
            cut = rng.randint(0, len(toks))
            text = " ".join(toks[:cut] + [run] + toks[cut:])
        docs.append((f"d{d}", text))
    W = 20
    df = spark.createDataFrame(docs, "url string, text string")
    rows = dedup.duplicated_spans(df, window=W, max_postings=1000).collect()
    got = {}
    for r in rows:
        got.setdefault(r.id, set()).add((r.span_start, r.span_end, r.n_windows))
    assert got == _ref_duplicated_spans(docs, W, 2)


# ---------------------------------------------------------------- semantic


def _semdedup_ref(ids, vecs, k, eps):
    """From-first-principles replay of dedup.semantic_dedup: exemplar
    centroids by md5-of-id order, argmax assignment (ties -> smaller
    centroid id), pairwise-dominance removal (remove the closer-to-
    centroid member; ties -> larger id removed)."""
    import hashlib

    order = sorted(range(len(ids)), key=lambda i: (hashlib.md5(
        str(ids[i]).encode()).hexdigest(), ids[i]))
    cents = [(ids[i], vecs[i]) for i in order[:k]]

    def cos(a, b):
        a = np.asarray(a, dtype=np.float64)
        b = np.asarray(b, dtype=np.float64)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    asg = {}
    for i, vid in enumerate(ids):
        best = max(
            ((cos(vecs[i], cv), -cid) for cid, cv in cents),
        )
        asg[vid] = (-best[1], best[0])  # cid, sim
    removed = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ca, sa = asg[a]
            cb, sb = asg[b]
            if ca != cb:
                continue
            ia, ib = ids.index(a), ids.index(b)
            if cos(vecs[ia], vecs[ib]) < eps:
                continue
            if sa > sb:
                removed.add(a)
            elif sb > sa:
                removed.add(b)
            else:
                removed.add(max(a, b))
    return asg, removed


def test_semantic_dedup_matches_reference_replay(spark, corpus):
    rows = corpus.collect()
    ids = [r.vec_id for r in rows]
    vecs = [r.embedding for r in rows]
    asg_ref, removed_ref = _semdedup_ref(ids, vecs, k=4, eps=0.9)
    out = dedup.semantic_dedup(
        corpus, k=4, min_cosine=0.9, max_cluster_size=1000
    ).collect()
    assert len(out) == len(ids)
    for r in out:
        cid, _sim = asg_ref[r.vec_id]
        assert r.cluster_id == cid
        assert r.keep == (r.vec_id not in removed_ref)
    # the corpus plants near-dups of vec 0 (100, 101) and vec 1 (102):
    # each dup group must lose at least one member
    removed = {r.vec_id for r in out if not r.keep}
    assert removed, "planted near-duplicates must trigger removals"
    assert removed == removed_ref


def test_semantic_dedup_keeps_farthest_from_centroid(spark):
    # one tight cluster around e1 with two members at different centroid
    # distances: the CLOSER one must be removed (diversity keep)
    from pyspark.sql import Row as R

    e1 = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.0447, 0.0, 0.0]  # ~e1, closer to centroid
    far = [0.995, 0.0999, 0.0, 0.0]   # ~e1, farther out
    other = [0.0, 0.0, 1.0, 0.0]
    df = spark.createDataFrame(
        [R(vec_id=1, embedding=e1), R(vec_id=2, embedding=near),
         R(vec_id=3, embedding=far), R(vec_id=4, embedding=other)]
    )
    out = {r.vec_id: r for r in dedup.semantic_dedup(
        df, k=2, min_cosine=0.97, max_cluster_size=100).collect()}
    grp = [r for r in out.values() if r.cluster_id == out[1].cluster_id]
    assert len(grp) >= 3
    # whichever of {1,2,3} sits closest to the exemplar is removed;
    # at least one member survives and at least one is removed
    flags = {vid: out[vid].keep for vid in (1, 2, 3)}
    assert not all(flags.values()) and any(flags.values())
    # the survivor(s) of the near-dup pairs have LOWER centroid_sim than
    # any removed member they were paired with
    sims = {vid: out[vid].centroid_sim for vid in (1, 2, 3)}
    removed_sims = [sims[v] for v, kept in flags.items() if not kept]
    kept_sims = [sims[v] for v, kept in flags.items() if kept]
    assert max(kept_sims) <= max(removed_sims)
    assert out[4].keep


def test_semantic_dedup_deterministic_across_partitionings(spark, corpus):
    a = sorted(
        map(tuple, dedup.semantic_dedup(corpus.repartition(1), k=4,
                                        min_cosine=0.9).collect())
    )
    b = sorted(
        map(tuple, dedup.semantic_dedup(corpus.repartition(7), k=4,
                                        min_cosine=0.9).collect())
    )
    assert a == b


def test_semantic_dedup_cluster_cap_drops_hot_cluster(spark, corpus):
    full = dedup.semantic_dedup(corpus, k=4, min_cosine=0.9,
                                max_cluster_size=10000)
    sizes = full.groupBy("cluster_id").count().collect()
    biggest = max(r["count"] for r in sizes)
    capped = dedup.semantic_dedup(corpus, k=4, min_cosine=0.9,
                                  max_cluster_size=biggest - 1)
    kept_clusters = {r.cluster_id for r in capped.select(
        "cluster_id").distinct().collect()}
    dropped = {r.cluster_id for r in sizes if r["count"] > biggest - 1}
    assert dropped and not (dropped & kept_clusters)
    assert capped.count() == sum(
        r["count"] for r in sizes if r["count"] <= biggest - 1)


def test_semantic_dedup_k1_and_validation(spark, corpus):
    out = dedup.semantic_dedup(corpus, k=1, min_cosine=0.9)
    assert out.select("cluster_id").distinct().count() == 1
    assert out.count() == corpus.count()
    with pytest.raises(ValueError):
        dedup.semantic_dedup(corpus, k=0)


def test_semantic_dedup_join_path_identical_to_literal(spark, corpus, monkeypatch):
    """The beyond-literal-envelope Arrow path (batched float64 matmul
    assignment + einsum pair verify) must be output-identical to the
    literal-centroid JVM projection on the fixture corpus — the
    trie-vs-join mention-path convention."""
    lit = sorted(map(tuple, dedup.semantic_dedup(
        corpus, k=4, min_cosine=0.9).collect()))
    monkeypatch.setattr(dedup, "_SEMDEDUP_LITERAL_MAX_K", 0)
    jn = sorted(map(tuple, dedup.semantic_dedup(
        corpus, k=4, min_cosine=0.9).collect()))
    assert lit == jn
    monkeypatch.undo()
    # auto-select: k > 64 takes the join path without blowing up the
    # expression tree (65 centroids over a 43-row corpus degenerates to
    # ~1 row per cluster — removals impossible, assignment still total)
    auto = dedup.semantic_dedup(corpus, k=65, min_cosine=0.9)
    assert auto.count() == corpus.count()


def test_semantic_dedup_empty_corpus(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = dedup.semantic_dedup(empty, k=8)
    assert out.count() == 0
    assert out.columns == ["vec_id", "cluster_id", "centroid_sim", "keep"]


def test_semantic_dedup_null_and_zero_vectors(spark, monkeypatch):
    from pyspark.sql import Row as R

    e1 = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.0447, 0.0, 0.0]
    # md5-of-id order over these ids is [6, 7, 1, 2, ...], so the k=2
    # exemplars are the two ANCHOR docs — the near-dup pair lands in
    # one cluster instead of seeding one centroid each (which would
    # legitimately split it)
    df = spark.createDataFrame(
        [R(vec_id=1, embedding=e1), R(vec_id=2, embedding=near),
         R(vec_id=3, embedding=[0.0, 0.0, 0.0, 0.0]),   # zero norm
         R(vec_id=4, embedding=None),                    # no embedding
         R(vec_id=6, embedding=[0.9, 0.1, 0.0, 0.0]),   # anchor A
         R(vec_id=7, embedding=[0.0, 0.0, 1.0, 0.0])],  # anchor B
        "vec_id long, embedding array<double>",
    )
    for literal_max_k in (64, 0):  # the literal path, then the Arrow path
        monkeypatch.setattr(dedup, "_SEMDEDUP_LITERAL_MAX_K", literal_max_k)
        out = {r.vec_id: r for r in dedup.semantic_dedup(
            df, k=2, min_cosine=0.97).collect()}
        # NULL-embedding rows are excluded from the output entirely
        assert 4 not in out and set(out) == {1, 2, 3, 6, 7}
        # the zero vector scores 0.0 against everything (never NaN, so
        # it can't win argmax or cross the pair threshold) and is kept
        assert out[3].keep and out[3].centroid_sim == 0.0
        # the near-dup pair still loses exactly one member
        assert [out[1].keep, out[2].keep].count(False) == 1
