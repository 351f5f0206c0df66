"""Deterministic HTML -> text extraction over Arrow batches.

Our analog of the reference's WikiExtractor <doc>-stream scan
(process_wiki_extractor_output.py:51-91, *_full.py:52-91): one pure
function ``extract_text(html: bytes) -> str`` applied via ``mapInPandas``
so each task processes whole Arrow record batches (never per-row Python
UDFs — the reference's per-line ElementTree parse at
process_wiki_extractor_output.py:58-60 becomes a vectorized map).

The extractor is a small deterministic state machine, not a heavyweight
HTML library: it drops <script>/<style> blocks, keeps only content inside
<article>/<p>, strips all other tags, and decodes the HTML entities our
corpus uses. Byte-identity per url — extract_text(make_html(t, u)) == t —
is the BASELINE.json invariant, property-tested in tests/test_extract.py.

At 100 TB scale this stage is a narrow map: no shuffle, filter/column
pruning reach the Iceberg/Parquet scan untouched, and throughput is bound
by scan + regex, both embarrassingly parallel.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_SCRIPT_RE = re.compile(rb"<script\b.*?</script>", re.DOTALL | re.IGNORECASE)
_STYLE_RE = re.compile(rb"<style\b.*?</style>", re.DOTALL | re.IGNORECASE)
_ARTICLE_RE = re.compile(rb"<article\b[^>]*>(.*?)</article>", re.DOTALL | re.IGNORECASE)
_P_RE = re.compile(rb"<p\b[^>]*>(.*?)</p>", re.DOTALL | re.IGNORECASE)
_TAG_RE = re.compile(rb"<[^>]+>")


def _unescape(s: str) -> str:
    # Order matters: &amp; last so "&amp;lt;" round-trips as "&lt;".
    return (
        s.replace("&lt;", "<")
        .replace("&gt;", ">")
        .replace("&quot;", '"')
        .replace("&#39;", "'")
        .replace("&nbsp;", " ")
        .replace("&amp;", "&")
    )


def extract_text(html: bytes | None) -> str | None:
    """Pure, deterministic HTML -> text. See module docstring."""
    if html is None:
        return None
    body = _SCRIPT_RE.sub(b"", html)
    body = _STYLE_RE.sub(b"", body)
    m = _ARTICLE_RE.search(body)
    scope = m.group(1) if m else body
    paras = _P_RE.findall(scope)
    if not paras:
        # fallback: strip all tags in scope
        raw = _TAG_RE.sub(b" ", scope).decode("utf-8", errors="replace")
        return _unescape(" ".join(raw.split()))
    decoded = [_unescape(p.decode("utf-8", errors="replace")) for p in paras]
    return "\n".join(decoded)


def with_extracted_text(df: DataFrame) -> DataFrame:
    """Append ``text_extracted``, the text of the ``html`` column, via
    mapInPandas (Arrow-batched, narrow)."""
    out_schema = StructType(
        df.schema.fields + [StructField("text_extracted", StringType(), True)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf["text_extracted"] = pdf["html"].map(extract_text)
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def _featurize(texts: list) -> dict[str, list]:
    """tokens, MinHash bands and hash-embedding of one batch of texts,
    computed while the tokens are in Python memory (shared body of the
    two fused featurizers below)."""
    from entity_linking_spark.functions.minhash import (
        bands_from_signatures,
        minhash_signatures_batch,
    )
    from entity_linking_spark.functions.normalize import tokenize_batch
    from entity_linking_spark.functions.vectors import hash_embed_matrix

    token_lists = tokenize_batch(texts)
    bands = bands_from_signatures(minhash_signatures_batch(token_lists))
    emb = hash_embed_matrix([t or [] for t in token_lists])
    return {"tokens": token_lists, "bands": bands, "vec": list(emb)}


def extract_and_tokenize(df: DataFrame) -> DataFrame:
    """Fused extract + tokenize + MinHash bands + hash-embedding of the
    ``html`` column in ONE Python pass. Of the input columns, only
    ``url``, ``warc_ts`` and ``lang`` ride along (those present).

    Chaining mapInPandas(extract) into per-column pandas UDFs costs a
    JVM<->Python Arrow round-trip per stage, with the multi-KB html
    binary column riding through the first (measured 5x slower at 200k
    docs) and the token array re-crossing for every downstream per-doc
    feature. Fusing computes every per-document feature the pipeline
    needs while the tokens are already in Python memory, and emits only
    the projected columns — the moral equivalent of whole-stage codegen
    for the Python segment of the plan. Downstream stages (blocking keys,
    scoring) then run entirely JVM-side on the precomputed columns.
    """
    fields = [f for f in df.schema.fields if f.name in ("url", "warc_ts", "lang")]
    out_schema = StructType(
        fields
        + [
            StructField("text", StringType(), True),
            StructField("tokens", ArrayType(StringType()), True),
            StructField("bands", ArrayType(LongType()), True),
            StructField("vec", ArrayType(FloatType()), True),
        ]
    )
    keep_cols = [f.name for f in fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf["html"].map(extract_text)
            yield pdf[keep_cols].assign(text=texts, **_featurize(list(texts)))

    return df.select(*keep_cols, "html").mapInPandas(run, schema=out_schema)


def tokenize_and_featurize(df: DataFrame) -> DataFrame:
    """Fused tokenize + MinHash bands + hash-embedding of the ALREADY-
    extracted ``text`` of each ``url``: (url, tokens, bands, vec) (the
    no-html sibling of extract_and_tokenize — same rationale:
    tokens cross JVM<->Python once, every per-doc feature is computed while
    they're in Python memory)."""
    out_schema = StructType(
        [
            StructField("url", StringType(), True),
            StructField("tokens", ArrayType(StringType()), True),
            StructField("bands", ArrayType(LongType()), True),
            StructField("vec", ArrayType(FloatType()), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({"url": pdf["url"], **_featurize(list(pdf["text"]))})

    return df.select("url", "text").mapInPandas(run, schema=out_schema)
