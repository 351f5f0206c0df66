"""MinHash-LSH primitives, numpy-vectorized over Arrow batches.

Replaces the reference's FAISS ANN retrieval (entity_candidate/indexer/
faiss_indexer.py:47-136) and Solr BM25 retrieval with a shuffle-friendly
banding scheme: token k-shingles -> 64-permutation MinHash signature ->
b bands of r rows -> equi-join on (band_idx, band_hash). Candidate pairs
are then re-scored exactly (operators/scoring.py), mirroring the
reference's retrieve-then-rerank lifecycle (SURVEY.md §3.1).

All hashing is seed-pinned and process-independent (crc32-based, never
Python ``hash``), so signatures are deterministic across executors —
the FIXTURES.md determinism rule.

Scale notes: the signature computation is a narrow map; the only shuffle
is the band equi-join. Band hashes distribute uniformly, and hot bands
(boilerplate-heavy shingle sets) are handled by the block-size cap in
operators/blocking.py rather than by skewing the join.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

N_PERM = 64
N_BANDS = 16
SHINGLE_K = 3
_EMPTY_SENTINEL = (1 << 64) - 1

_SEED = 42
_rng = np.random.RandomState(_SEED)
# one odd 64-bit mixing key per permutation (splitmix64 scheme below)
_KEYS = _rng.randint(0, 1 << 63, size=N_PERM, dtype=np.uint64) * np.uint64(2) + np.uint64(1)

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (public domain, Vigna 2015) over uint64 arrays.

    All arithmetic intentionally wraps mod 2^64 (numpy uint64 semantics) —
    unlike the round-1 (a*h+b) mod p scheme, wrap-around is part of the
    algorithm here, not a silent overflow bug.
    """
    z = (z ^ (z >> np.uint64(30))) * _M1
    z = (z ^ (z >> np.uint64(27))) * _M2
    return z ^ (z >> np.uint64(31))


_POLY = np.uint64(0xFF51AFD7ED558CCD)  # odd => wrapping multiply bijective


def _token_hashes(tokens: list[str]) -> np.ndarray:
    """64-bit hash per token: two genuinely independent crc32s (forward
    bytes vs reversed bytes + terminator — distinct INPUTS, not distinct
    seeds) fill the high and low words. A seeded-crc32 low word would
    NOT work: CRC32 is affine in its seed, so for equal-length inputs
    crc32(b, salt) == crc32(b) ^ C(len) and the entropy collapses to
    ~32 bits per length class — same-length tokens would collide at the
    32-bit birthday rate. Reversal breaks that affinity."""
    return np.fromiter(
        (
            (zlib.crc32(b) << 32) | zlib.crc32(b[::-1] + b"\x01")
            for b in (t.encode("utf-8") for t in tokens)
        ),
        dtype=np.uint64,
        count=len(tokens),
    )


def shingle_hashes(tokens: list[str], k: int = SHINGLE_K) -> np.ndarray:
    """Distinct k-shingle hashes of a token list, 64-bit.

    A shingle hash is a positional polynomial fold of the window's TOKEN
    hashes (h_0*P^(k-1)-style: comb = comb*P ^ h_next, splitmix64
    finalized) — hashing per-token once and combining with three
    vectorized numpy ops replaced building every " ".join(window) string
    (which was ~98% of signature time: n_tokens slice+join+encode+crc32
    per document). Fewer-than-k-token docs fold ALL tokens into one
    whole-doc shingle, matching the joined-string semantics.
    """
    n = len(tokens)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    h = _token_hashes(tokens)
    if n < k:
        comb = h[:1].copy()
        for i in range(1, n):
            comb = comb * _POLY ^ h[i : i + 1]
        return _splitmix64(comb)
    m = n - k + 1
    comb = h[:m].copy()
    for j in range(1, k):
        comb = comb * _POLY ^ h[j : j + m]
    return np.unique(_splitmix64(comb))


_SEG_SHINGLES = 1024  # [N_PERM, seg] temporary ~0.5 MB: L2-resident wins
# (measured: 1024 -> 0.21s, 4096 -> 0.26s, 16384 -> 1.8s per 4k docs)


_CHUNK_DOCS = 2048  # keep the scatter/densify working set cache-resident


def minhash_signatures_batch(
    token_lists: list[list[str] | None],
) -> list[np.ndarray | None]:
    """64-perm signatures for a whole Arrow batch (see _signatures_chunk).
    Internally chunks the batch so the [N_PERM, shingles] temporaries
    stay cache-resident; outputs are identical to the single-doc path
    (documents are independent)."""
    out: list[np.ndarray | None] = [None] * len(token_lists)
    for lo in range(0, len(token_lists), _CHUNK_DOCS):
        chunk = token_lists[lo : lo + _CHUNK_DOCS]
        for off, sig in enumerate(_signatures_chunk(chunk)):
            out[lo + off] = sig
    return out


def _signatures_chunk(
    token_lists: list[list[str] | None],
) -> list[np.ndarray | None]:
    """Classic 64-PERMUTATION signatures, vectorized across the chunk.

    Shingle hashing is the corpus-level vectorized path (factorize +
    polynomial window fold — see shingle_hashes); the permutation
    minima then run as [N_PERM, segment] matrix ops with per-doc
    np.minimum.reduceat, segmented so temporaries stay in cache.

    Densified one-permutation hashing (Shrivastava & Li, ICML'14) was
    tried here and REVERTED: with ~58 shingles across 64 bins most docs
    densify several bins, and densified rows inside one LSH band are
    perfectly correlated (all derive from the same source bin), so a
    band matches with probability ~j instead of j^rows. On a
    boilerplate-heavy corpus that collapsed banding precision —
    candidate pairs exploded 3.7M -> 17.8M at 1M docs and pairwise
    scoring tripled. Independent permutations are the point, not an
    implementation detail.
    """
    k = SHINGLE_K
    n = len(token_lists)
    out: list[np.ndarray | None] = [None] * n
    # split docs: >=k tokens ride the fully-vectorized corpus path;
    # 1..k-1-token docs fold to one whole-doc shingle (rare, cheap loop)
    big_idx: list[int] = []
    big_counts: list[int] = []
    big_toks: list[str] = []
    small: list[int] = []
    for i, t in enumerate(token_lists):
        if t is None:
            continue
        if len(t) == 0:
            out[i] = np.full(N_PERM, _EMPTY_SENTINEL, dtype=np.uint64)
        elif len(t) < k:
            small.append(i)
        else:
            big_idx.append(i)
            big_counts.append(len(t))
            big_toks.extend(t)
    eff_idx = big_idx + small
    if not eff_idx:
        return out
    sh_parts: list[np.ndarray] = []
    doc_parts: list[np.ndarray] = []
    if big_idx:
        # token hashing is the hot loop: factorize the whole batch's
        # tokens (C-speed string hashing), crc-hash only the UNIQUE
        # tokens (web text is Zipfian — heavy reuse), then gather + combine
        # k-windows with k-1 vectorized ops over the concatenated corpus.
        # Windows crossing a document boundary are masked out.
        codes, uniques = pd.factorize(np.asarray(big_toks, dtype=object))
        h = _token_hashes(list(uniques))[codes]
        doc = np.repeat(
            np.arange(len(big_idx), dtype=np.int64),
            np.asarray(big_counts, dtype=np.int64),
        )
        m = h.size - (k - 1)
        comb = h[:m].copy()
        for j in range(1, k):
            comb = comb * _POLY ^ h[j : j + m]
        valid = doc[:m] == doc[k - 1 :]
        sh_parts.append(_splitmix64(comb[valid]))
        doc_parts.append(doc[:m][valid])
    for s_off, i in enumerate(small):
        sh_parts.append(shingle_hashes(token_lists[i], k))
        doc_parts.append(np.array([len(big_idx) + s_off], dtype=np.int64))
    sh = np.concatenate(sh_parts)
    doc = np.concatenate(doc_parts)
    # duplicates within a doc are NOT removed: min over a multiset equals
    # min over the set, so dedup would only cost time here
    n_docs = len(eff_idx)
    # per-doc start offsets in the concatenated shingle stream (doc ids
    # are contiguous 0..n_docs-1 and ascending; every doc has >=1 entry)
    offsets = np.flatnonzero(np.diff(doc, prepend=-1))
    sig = np.empty((n_docs, N_PERM), dtype=np.uint64)
    d0 = 0
    while d0 < n_docs:
        # advance so each [N_PERM, segment] temporary stays ~cache-sized
        d1 = d0 + 1
        seg_start = offsets[d0]
        while d1 < n_docs and offsets[d1] - seg_start < _SEG_SHINGLES:
            d1 += 1
        seg_end = offsets[d1] if d1 < n_docs else sh.size
        vals = _splitmix64(sh[None, seg_start:seg_end] ^ _KEYS[:, None])
        local = offsets[d0:d1] - seg_start
        sig[d0:d1] = np.minimum.reduceat(vals, local, axis=1).T
        d0 = d1
    for j, i in enumerate(eff_idx):
        out[i] = sig[j]
    return out


def minhash_signature(tokens: list[str]) -> np.ndarray:
    """Single-document signature — thin wrapper over the batch path so
    both forms are bit-identical by construction."""
    return minhash_signatures_batch([tokens])[0]


def band_hashes_matrix(sigs: np.ndarray, n_bands: int = N_BANDS) -> np.ndarray:
    """[D, N_PERM] signatures -> [D, n_bands] int64 band hashes, fully
    vectorized (polynomial fold of each band's rows + splitmix64, the
    band index xor'd in so identical chunks in different bands never
    collide). Replaces a 16-crc32-per-document Python loop."""
    rows = N_PERM // n_bands
    c = sigs.reshape(sigs.shape[0], n_bands, rows)
    comb = c[:, :, 0].copy()
    for j in range(1, rows):
        comb = comb * _POLY ^ c[:, :, j]
    comb = comb ^ (np.arange(n_bands, dtype=np.uint64) << np.uint64(32))[None, :]
    return _splitmix64(comb).view(np.int64)


def band_hashes(sig: np.ndarray) -> list[int]:
    """Fold one signature into N_BANDS band hashes (int64 for Spark)."""
    return band_hashes_matrix(sig[None, :])[0].tolist()


def bands_from_signatures(
    sigs: list[np.ndarray | None], n_bands: int = N_BANDS
) -> list[list[int] | None]:
    """Band hashes for a whole batch of signatures in one matrix call."""
    out: list[list[int] | None] = [None] * len(sigs)
    idx = [i for i, s in enumerate(sigs) if s is not None]
    if idx:
        mat = band_hashes_matrix(np.stack([sigs[i] for i in idx]), n_bands)
        for j, i in enumerate(idx):
            out[i] = mat[j].tolist()
    return out


def make_bands_udf(n_bands: int = N_BANDS):
    """Factory: tokens array -> n_bands LSH band hashes, Arrow-batched."""

    @pandas_udf(ArrayType(LongType()))
    def bands_udf(tokens: pd.Series) -> pd.Series:
        sigs = minhash_signatures_batch(
            [list(t) if t is not None else None for t in tokens]
        )
        return pd.Series(bands_from_signatures(sigs, n_bands))

    return bands_udf


@pandas_udf(ArrayType(LongType()))
def minhash_signature_udf(tokens: pd.Series) -> pd.Series:
    """Full 64-perm signature (for exact MinHash-Jaccard estimation).

    uint64 -> int64 goes through a two's-complement .view, NOT int(np.int64(x)):
    numpy >= 2.0 raises OverflowError converting uint64 values >= 2^63 (half
    of all splitmix64 outputs, and the empty-doc sentinel).
    """
    sigs = minhash_signatures_batch(
        [list(t) if t is not None else None for t in tokens]
    )
    return pd.Series(
        [s.view(np.int64).tolist() if s is not None else None for s in sigs]
    )


def est_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    return float(np.mean(sig_a == sig_b))
