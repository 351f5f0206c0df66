"""Deterministic text normalization — the byte-identical invariant.

This is a clean-room implementation of the *public* Google BERT
``BasicTokenizer`` algorithm (Apache-2.0, github.com/google-research/bert,
``tokenization.py``), whose behavior the reference relies on for every
offset/feature computation (reference: entity_candidate/utils/
tokenization.py:147-248 and the identical vendored copy at
entity_sort/blink/utils/tokenization.py). The pipeline's per-url
byte-identity requirement (BASELINE.json input_hint) reduces to this one
pure function, so it is frozen here with golden tests
(tests/test_normalize.py) and reused inside Arrow-vectorized pandas UDFs.

Algorithm (public spec):
  1. clean: drop NUL / U+FFFD / control chars (Cc, Cf — but keep \\t \\n \\r
     which count as whitespace); map all whitespace (\\t \\n \\r, Zs) to ' '.
  2. pad every CJK-Unified-Ideographs codepoint with spaces.
  3. whitespace-split; per token: lowercase, NFD-decompose and drop
     combining marks (Mn); split punctuation (non-alnum ASCII + Unicode P*)
     into single-char tokens.
  4. re-join with single spaces.

A pure-ASCII fast path (regex + str.translate, no per-char Python) handles
the overwhelmingly common case; the general path is a faithful per-char
implementation. Both produce identical output on ASCII input (tested).
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

# --- character classes (public BERT spec) -------------------------------

_CJK_RANGES = (
    (0x4E00, 0x9FFF),
    (0x3400, 0x4DBF),
    (0x20000, 0x2A6DF),
    (0x2A700, 0x2B73F),
    (0x2B740, 0x2B81F),
    (0x2B820, 0x2CEAF),
    (0xF900, 0xFAFF),
    (0x2F800, 0x2FA1F),
)


def _is_cjk(cp: int) -> bool:
    return any(lo <= cp <= hi for lo, hi in _CJK_RANGES)


def _is_whitespace(ch: str) -> bool:
    if ch in (" ", "\t", "\n", "\r"):
        return True
    return unicodedata.category(ch) == "Zs"


def _is_control(ch: str) -> bool:
    if ch in ("\t", "\n", "\r"):
        return False
    return unicodedata.category(ch).startswith("C")


def _is_punct(ch: str) -> bool:
    cp = ord(ch)
    if 33 <= cp <= 47 or 58 <= cp <= 64 or 91 <= cp <= 96 or 123 <= cp <= 126:
        return True
    return unicodedata.category(ch).startswith("P")


# --- ASCII fast path -----------------------------------------------------

# control chars 0x00-0x1f except \t\n\r, plus 0x7f, are dropped
_ASCII_DROP = {c: None for c in range(0x20) if chr(c) not in "\t\n\r"}
_ASCII_DROP[0x7F] = None
_ASCII_WS = {ord(c): " " for c in "\t\n\r"}
_ASCII_CLEAN = {**_ASCII_DROP, **_ASCII_WS}
# ASCII punctuation per BERT: all non-alnum printable ASCII
_ASCII_PUNCT = "".join(
    chr(c) for c in range(33, 127) if not chr(c).isalnum()
)
_ASCII_PUNCT_RE = re.compile(f"([{re.escape(_ASCII_PUNCT)}])")


def _normalize_ascii(text: str) -> str:
    text = text.translate(_ASCII_CLEAN)
    text = _ASCII_PUNCT_RE.sub(r" \1 ", text.lower())
    return " ".join(text.split())


def tokenize_batch(texts) -> list[list[str] | None]:
    """basic_tokenize for a whole Arrow batch, one regex pass.

    ASCII documents are concatenated with a NUL separator — guaranteed
    absent after the translate step, which maps every char to printable
    ASCII or space — so lower() and the punctuation-spacing regex run
    ONCE over the joined megastring instead of once per document (the
    per-call regex overhead was the hot spot of the fused extract pass
    after minhash was vectorized). Each op is character-local, so the
    result is exactly basic_tokenize per document; non-ASCII documents
    take the faithful per-doc path.
    """
    out: list[list[str] | None] = [None] * len(texts)
    ascii_idx: list[int] = []
    ascii_txt: list[str] = []
    for i, t in enumerate(texts):
        if t is None:
            continue
        if t.isascii():
            ascii_idx.append(i)
            ascii_txt.append(t.translate(_ASCII_CLEAN))
        else:
            out[i] = basic_tokenize(t)
    if ascii_idx:
        joint = "\x00".join(ascii_txt).lower()
        joint = _ASCII_PUNCT_RE.sub(r" \1 ", joint)
        for i, seg in zip(ascii_idx, joint.split("\x00")):
            out[i] = seg.split()
    return out


# --- general (faithful) path ---------------------------------------------


def clean_text(text: str) -> str:
    """Step 1 of the public BasicTokenizer: drop invalid chars, unify ws."""
    out = []
    for ch in text:
        cp = ord(ch)
        if cp == 0 or cp == 0xFFFD or _is_control(ch):
            continue
        out.append(" " if _is_whitespace(ch) else ch)
    return "".join(out)


def _pad_cjk(text: str) -> str:
    out = []
    for ch in text:
        if _is_cjk(ord(ch)):
            out.append(f" {ch} ")
        else:
            out.append(ch)
    return "".join(out)


def _strip_accents(token: str) -> str:
    return "".join(
        ch
        for ch in unicodedata.normalize("NFD", token)
        if unicodedata.category(ch) != "Mn"
    )


def _split_punct(token: str) -> list[str]:
    out: list[list[str]] = []
    new_word = True
    for ch in token:
        if _is_punct(ch):
            out.append([ch])
            new_word = True
        else:
            if new_word:
                out.append([])
            new_word = False
            out[-1].append(ch)
    return ["".join(x) for x in out]


def basic_tokenize(text: str) -> list[str]:
    """Full BasicTokenizer: text -> list of lowercased, accent-stripped,
    punctuation-split tokens."""
    if text.isascii():
        return _normalize_ascii(text).split()
    text = clean_text(text)
    text = _pad_cjk(text)
    tokens: list[str] = []
    for tok in text.split():
        tokens.extend(_split_punct(_strip_accents(tok.lower())))
    return [t for t in " ".join(tokens).split()]


# Cache ONLY short strings (aliases / mentions, which repeat across rows).
# Documents are unique multi-KB texts: caching them would retain up to
# maxsize full texts per Python worker (multi-GB resident memory) for a
# ~0% hit rate, so long input bypasses the cache entirely.
_CACHE_MAX_LEN = 256


@lru_cache(maxsize=65536)
def _cached_tokenize_short(text: str) -> tuple[str, ...]:
    return tuple(basic_tokenize(text))


def _cached_tokenize(text: str) -> tuple[str, ...] | list[str]:
    if len(text) <= _CACHE_MAX_LEN:
        return _cached_tokenize_short(text)
    return basic_tokenize(text)


def normalize_text(text: str) -> str:
    """Canonical single-string form: tokens joined by one space.

    This is the byte-identity surface: ``normalize_text`` output per url
    is what golden tests pin down.
    """
    if text is None:
        return None
    return " ".join(basic_tokenize(text))


# --- Spark surface (Arrow-vectorized) ------------------------------------


@pandas_udf(StringType())
def normalize_udf(s: pd.Series) -> pd.Series:
    """normalize_text over Arrow batches (never per-row Python UDF)."""
    return s.map(lambda t: normalize_text(t) if t is not None else None)


@pandas_udf(ArrayType(StringType()))
def tokenize_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda t: list(_cached_tokenize(t)) if t is not None else None)
