"""Text-analysis functions for corpus curation (training-data ops).

Language ID and PII scrubbing are JVM-side Column expressions
(whole-stage codegen); the rolling fingerprint is a vectorized pandas
UDF over the window-hash kernel that duplicated-span detection and the
quality n-gram signals share.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

# Distinctive function-word profiles per latin-script language (public
# stopword lists, trimmed to words that rarely collide across the six):
# the unigram special case of the classic n-gram-profile language
# identifier (Cavnar & Trenkle '94) — function words are the
# highest-frequency n-grams, and counting them is expressible as pure
# Column ops (JVM, no UDF).
LANG_MARKERS = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
           "mit", "von", "zu", "auf", "dem", "den", "sich"),
    "en": ("the", "and", "of", "is", "was", "are", "have", "not",
           "with", "this", "that", "from", "they"),
    "es": ("el", "los", "las", "es", "una", "por", "del", "se",
           "como", "pero", "sus", "muy", "está"),
    "fr": ("le", "les", "des", "est", "dans", "une", "pas", "pour",
           "qui", "avec", "sur", "au", "ses", "être"),
    "it": ("il", "gli", "della", "di", "non", "sono", "anche", "più",
           "nella", "questo", "alla", "essere"),
    "pt": ("o", "os", "as", "um", "uma", "não", "em", "do", "da",
           "com", "para", "mais", "são"),
}


def lang_id(text: Column) -> Column:
    """Stopword-profile language ID over latin-script text: count each
    language's marker-word hits, emit the argmax (ties -> the
    lexicographically later code via struct comparison — deterministic),
    'und' when no marker hits at all. Pure Column expressions,
    whole-stage codegen."""
    toks = F.split(F.lower(text), r"\s+")

    def _hits(markers):
        # closure, NOT a default arg: a 2-arg lambda would make Spark
        # treat it as the (element, index) higher-order-function form
        return lambda t: t.isin(*markers)

    entries = [
        F.struct(
            F.size(F.filter(toks, _hits(markers))).alias("n"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["n"] > 0, best["lang"]).otherwise(F.lit("und"))


_WINDOW = 8


_POLY_MOD = 1_000_000_007
_POLY_MUL = 31
# modular inverse of 31 (Fermat): lets prefix hashes be a cumsum of
# cp_i * 31^-i, which numpy can vectorize — see _window_hashes
_POLY_INV = pow(_POLY_MUL, _POLY_MOD - 2, _POLY_MOD)


def _poly_hash(s: str, mul: int = _POLY_MUL) -> int:
    """Polynomial codepoint hash, chosen over crc32 because it is exactly
    replayable in ANSI SQL (DuckDB list_reduce over unicode codepoints):
    h = cp0, then h = (h*mul + cp_i) mod 1e9+7 — matching list_reduce's
    first-element-as-accumulator semantics. (Seeding with cp0 equals
    folding from 0: 0*mul + cp0 = cp0 — so this is the plain polynomial
    hash sum(cp_i * mul^(n-1-i)) mod p.) Reference implementation; the
    vectorized rolling path below must agree exactly (property-tested).
    ``mul`` selects the hash family: duplicated-span detection combines
    two independent multipliers (31 and 131) because one mod-1e9+7 hash
    saturates at trillion-window corpus scale."""
    if not s:
        return 0
    h = ord(s[0])
    for c in s[1:]:
        h = (h * mul + ord(c)) % _POLY_MOD
    return h


# powers computed by a scalar loop before _pow_array switches to doubling
_POW_SEED = 64


def _pow_array(base: int, n: int) -> np.ndarray:
    """[base^0 .. base^(n-1)] mod p as an int64 array, with NO persistent
    state. Replaces the round-4 growing module-level power tables, which
    grew to the longest document's char count and never shrank — one
    10 MB doc pinned ~2x10^7 Python ints (~150 MB) per worker for the
    process lifetime. The first _POW_SEED powers come from a scalar
    loop; the rest by doubling, out[m : 2m] = out[:m] * base^m mod p, so
    a table of n powers costs ~log2(n / _POW_SEED) numpy products and no
    per-element Python loop beyond the seed. Products stay exact: both
    factors < p = 1e9+7, so the product < p^2 ~ 1.00e18 < 2^63 - 1
    ~ 9.22e18 — no int64 overflow."""
    seed, v = [], 1
    for _ in range(min(n, _POW_SEED)):
        seed.append(v)
        v = v * base % _POLY_MOD
    out = np.empty(n, dtype=np.int64)
    out[: len(seed)] = seed
    m = len(seed)
    while m < n:
        k = min(m, n - m)
        out[m : m + k] = out[:k] * pow(base, m, _POLY_MOD) % _POLY_MOD
        m += k
    return out


# second multiplier of the combined window key (31 is the fingerprint
# family's; 131 is independent of it mod p): duplicated spans, the
# quality n-grams and decontamination key a window on both hashes
_WHASH_MUL2 = 131


def _window_hashes(
    t: str, windows: tuple[int, ...], muls: tuple[int, ...]
) -> dict[int, list[np.ndarray]]:
    """Polynomial hash of EVERY w-token window of ``t`` for each w in
    ``windows`` and each multiplier in ``muls``, in O(chars):
    {w: [hashes per mul]}, one hash per window position.

    Key identity: `" ".join(t.lower().split(" ")) == t.lower()`, so every
    token window is a CONTIGUOUS SUBSTRING of the lowered text. One
    vectorized prefix-hash pass per multiplier then prices every window
    of every size at O(1):
    H(b) = hash(s[:b]) = mul^(b-1) * sum_{i<b} cp_i * mul^-i  (mod p),
    the sum being a single numpy cumsum; hash(s[a:b]) = H(b) -
    H(a)*mul^(b-a). The decode (lower, split, utf-32 code points, token
    char starts) is shared across multipliers, the prefix arrays across
    window sizes.

    A doc of at most w tokens yields ONE whole-doc window, H(len(s)) —
    equal to _poly_hash(s), 0 for "" (the fingerprint, duplicated-span
    and decontamination convention; the quality n-grams drop it)."""
    s = t.lower()
    toks = s.split(" ")
    n_toks = len(toks)
    nc = len(s)
    lens = np.fromiter((len(x) for x in toks), dtype=np.int64, count=n_toks)
    starts = np.empty(n_toks + 1, dtype=np.int64)
    starts[0] = 0
    np.cumsum(lens + 1, out=starts[1:])
    cps = np.frombuffer(s.encode("utf-32-le"), dtype="<u4").astype(np.int64)
    out: dict[int, list[np.ndarray]] = {w: [] for w in windows}
    for mul in muls:
        # power tables are computed per call and freed with it (numpy
        # int64, not Python ints) — peak transient cost for a 10 MB doc
        # is ~160 MB of arrays inside one Arrow batch, persistent cost 0
        pw = _pow_array(mul, nc + 1)
        inv = _pow_array(pow(mul, _POLY_MOD - 2, _POLY_MOD), nc)
        # cp < 2^21 and inv < p ≈ 2^30 → products < 2^51; cumsum of < 2^33
        # terms each < p stays under int64 — no overflow anywhere below
        H = np.zeros(nc + 1, dtype=np.int64)
        H[1:] = np.cumsum(cps * inv % _POLY_MOD) % _POLY_MOD * pw[:nc] % _POLY_MOD
        for w in windows:
            if n_toks <= w:
                out[w].append(H[nc:])
                continue
            # window i = s[starts[i] : starts[i+w]-1]
            a = starts[: n_toks - w + 1]
            b = starts[w:] - 1
            out[w].append((H[b] - H[a] * pw[b - a]) % _POLY_MOD)
    return out


def _window_keys(t: str, windows: tuple[int, ...]) -> dict[int, np.ndarray]:
    """{w: combined key of every w-token window}: the multiplier-31 and
    -131 hashes packed into one int64 as h31*p + h131 (~2^60 key space;
    exact, since h31*p + h131 < p^2 + p ~ 1.0e18 < 2^63). Short docs
    follow _window_hashes: one whole-doc window."""
    return {
        w: h31 * _POLY_MOD + h131
        for w, (h31, h131) in _window_hashes(
            t, windows, (_POLY_MUL, _WHASH_MUL2)
        ).items()
    }


def _window_min_hash(t: str) -> int:
    """Min polynomial hash over all W-token windows (winnowing-style
    fingerprint)."""
    return int(_window_hashes(t, (_WINDOW,), (_POLY_MUL,))[_WINDOW][0].min())


@pandas_udf(LongType())
def rolling_hash_udf(text: pd.Series) -> pd.Series:
    """Rolling-hash document fingerprint: min polynomial hash over all
    W-token windows (winnowing-style; robust to local edits), O(chars)
    per document via the vectorized prefix-hash formulation above.

    Tokenization is single-space split (matching SQL string_split) so the
    fingerprint is oracle-checkable end to end (the DuckDB twin replays
    _poly_hash per window; _window_min_hash is exact-equal by identity,
    not approximation)."""
    return text.map(lambda t: _window_min_hash(t) if t is not None else None)


# --- PII scrubbing (training-data curation) ------------------------------

# Pure regexp_replace chains (JVM, whole-stage codegen — the hot path of
# a corpus-curation job must never drop into Python). Patterns are the
# conventional conservative web-text forms; the goal is a pre-training
# scrub pass, not a compliance guarantee.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\b"
_PII_PHONE = r"\+?[0-9][0-9()\-\s]{7,}[0-9]"
_PII_URL_CREDS = r"(?i)(https?://)[^/\s:@]+:[^/\s:@]+@"


def redact_pii(text: Column) -> Column:
    """Replace emails, IPv4s, phone-like digit runs, and URL-embedded
    credentials with typed placeholders. Order matters: credentials
    before emails (the user:pass@host form contains an @), emails
    before phones (digits inside an address must not re-match)."""
    c = F.regexp_replace(text, _PII_URL_CREDS, r"$1[CREDS]@")
    c = F.regexp_replace(c, _PII_EMAIL, "[EMAIL]")
    c = F.regexp_replace(c, _PII_IPV4, "[IP]")
    c = F.regexp_replace(c, _PII_PHONE, "[PHONE]")
    return c


def pii_hit_count(text: Column) -> Column:
    """How many PII spans redact_pii would touch — the per-doc risk
    signal a curation pipeline filters/sorts on (docs above a threshold
    are typically dropped rather than scrubbed)."""
    return (
        F.size(F.regexp_extract_all(text, F.lit(_PII_EMAIL), 0))
        + F.size(F.regexp_extract_all(text, F.lit(_PII_IPV4), 0))
        + F.size(F.regexp_extract_all(text, F.lit(_PII_PHONE), 0))
    )
