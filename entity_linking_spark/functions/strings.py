"""String similarity for pairwise scoring: Jaro-Winkler.

The reference ranks mention/candidate pairs with a BERT pair classifier
(entity_sort/el_models.py:52-95); the north rule specifies classic string
similarities fused with embedding cosine as the batch scoring function.
Pair scoring takes edit distance from Spark's JVM ``levenshtein``
builtin; Jaro-Winkler, a standard public algorithm, has no builtin and
is implemented here pure-Python. It runs inside an Arrow-batched pandas
UDF over short strings (mentions/aliases), so per-call cost is bounded
by string length, not row-at-a-time serialization.
"""

from __future__ import annotations


def jaro(a: str, b: str) -> float:
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    match_a = [False] * la
    match_b = [False] * lb
    matches = 0
    for i in range(la):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not match_b[j] and a[i] == b[j]:
                match_a[i] = match_b[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions
    t = 0
    k = 0
    for i in range(la):
        if match_a[i]:
            while not match_b[k]:
                k += 1
            if a[i] != b[k]:
                t += 1
            k += 1
    t //= 2
    m = matches
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a: str, b: str) -> float:
    """Jaro boosted by the common prefix (at most 4 characters), with
    Winkler's standard scaling factor 0.1."""
    j = jaro(a, b)
    prefix = 0
    for ca, cb in zip(a, b):
        if ca != cb or prefix >= 4:
            break
        prefix += 1
    return j + prefix * 0.1 * (1.0 - j)

