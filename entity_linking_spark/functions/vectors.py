"""Vector ops: deterministic hash-embeddings (Arrow-vectorized) + JVM cosine.

The reference encodes contexts/candidates with a BERT bi-encoder into
768-dim float tensors and scores with inner product
(entity_candidate/biencoder/biencoder_.py:128-167). At test scale we
substitute a deterministic feature-hashing embedding with the same API
(SURVEY.md §2.10): same dimensionality contract, L2-normalized, so cosine
scoring code paths are identical and fixtures need no model weights. On a
real cluster the embed UDF body would be a batched model forward
(predict_batch_udf-style); everything downstream is unchanged.

No per-row Python in hot paths: embeddings for an Arrow batch are built
into one [batch, dim] numpy matrix; pair cosine is a JVM double fold
(``cosine_col``) and never leaves the JVM.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

EMBED_DIM = 64


def hash_embed_matrix(token_lists: list[list[str]]) -> np.ndarray:
    """Feature-hash token lists into L2-normalized [n, EMBED_DIM] float32."""
    out = np.zeros((len(token_lists), EMBED_DIM), dtype=np.float32)
    for i, toks in enumerate(token_lists):
        if not toks:
            continue
        idx = np.fromiter(
            (zlib.crc32(t.encode("utf-8")) for t in toks), dtype=np.int64, count=len(toks)
        )
        sign = np.where((idx >> 31) & 1, -1.0, 1.0).astype(np.float32)
        np.add.at(out[i], idx % EMBED_DIM, sign)
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return out / norms


@pandas_udf(ArrayType(FloatType()))
def hash_embed_udf(tokens: pd.Series) -> pd.Series:
    mat = hash_embed_matrix([list(t) if t is not None else [] for t in tokens])
    return pd.Series(list(mat))


# --- Cosine: one JVM (Column-expression) implementation ---------------
#
# Every cosine in the library is cosine_col below: a sequential DOUBLE
# fold that never leaves the JVM. Its left-to-right accumulation and IEEE
# ops are the same as DuckDB's list_cosine_similarity, so it is
# bit-reproducible against the oracle twins the cosine-bearing gate rows
# depend on (ann_cosine_topk, semantic_dedup), and it keeps pair scoring
# off the Python boundary: the pair rows never cross Arrow to be scored.
# Spark evaluates the higher-order functions (zip_with, aggregate)
# interpreted inside the generated stage, per array element, so each
# fold over the vectors costs; cosine_col evaluates each fold once per row.
# j9_hard_negative_join goes through brute_force_topk's float64 numpy
# matmul, which agrees with the fold to the last ulp away from ties.

def dot_col(a, b):
    """Sequential-fold double dot product of two array columns (JVM)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a):
    """L2 norm of an array column as a sequential double fold (JVM)."""
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_col(a, b):
    """Cosine of two array columns, all-JVM double arithmetic.

    Zero-norm rows score 0.0 (not NaN): Spark orders NaN ABOVE every
    number, so an unguarded 0/0 would make a zero vector win argmax
    comparisons and pass >= thresholds — and diverge from the numpy
    paths, which guard zero norms the same way. The guard is try_divide's
    NULL on a zero divisor, so the norms are folded once per row (a
    CASE on the denominator evaluates it twice); for non-zero rows the
    division is the plain one, so DuckDB bit-reproducibility holds.

    A NULL vector, or two vectors of different lengths, give NULL
    (zip_with pads the shorter side with NULL): one poison row never
    fails the task, and callers that need a number coalesce."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    dot = dot_col(a, b)
    return F.coalesce(
        F.try_divide(dot, norm_col(a) * norm_col(b)),
        F.when(dot.isNotNull(), F.lit(0.0)),
    )
