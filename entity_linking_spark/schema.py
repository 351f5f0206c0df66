"""Fixed StructType schemas + deterministic synthetic fixture generators.

The reference works on implicit dict schemas (SURVEY.md §1); here every
table has a frozen Spark schema. Generators are pure functions of
(seed, scale) — regenerating is byte-identical (FIXTURES.md determinism
rules). The `documents` shape is the authoritative input_hint from
BASELINE.json: (url string, warc_ts timestamp, html binary, text string,
lang string).

KB fixture mirrors the ccks2019 kb_data shape the reference parses at
entity_sort/el_process.py:28-44: subject_id, subject, alias[], type[],
data[{predicate,object}].
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SEED = 42

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

KB_SCHEMA = StructType(
    [
        StructField("subject_id", StringType(), False),
        StructField("subject", StringType(), False),
        StructField("alias", ArrayType(StringType()), False),
        StructField("type", ArrayType(StringType()), False),
        StructField(
            "data",
            ArrayType(
                StructType(
                    [
                        StructField("predicate", StringType()),
                        StructField("object", StringType()),
                    ]
                )
            ),
            False,
        ),
    ]
)

ALIASES_SCHEMA = StructType(
    [
        StructField("alias", StringType(), False),
        StructField("subject_id", StringType(), False),
    ]
)

LABELED_PAIRS_SCHEMA = StructType(
    [
        StructField("url_a", StringType(), False),
        StructField("url_b", StringType(), False),
        StructField("block_key", StringType(), False),
        StructField("is_match", BooleanType(), False),
    ]
)

EXPECTED_CLUSTERS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("cluster_id", StringType(), False),
    ]
)

# word pools for deterministic text synthesis
_FILLER = (
    "the quick brown fox jumps over lazy dog while rain falls on green "
    "hills and rivers flow past old stone bridges under grey autumn sky "
    "market traders sell fresh bread near station square every morning"
).split()

_NAME_PARTS = (
    "acme globex initech umbrella stark wayne wonka tyrell cyberdyne "
    "aperture hooli piedpiper vandelay dunder mifflin sterling cooper "
    "oceanic virtucon zorin nakatomi weyland yutani massive dynamic"
).split()

_ZH_FILLER = list("南京上海北京高铁车站大学医院公司银行学校公园广场地铁")

HOT_ALIAS = "station"  # stop-word-like alias shared by many entities (skew test)


def make_html(text: str, url: str) -> bytes:
    """Deterministic minimal HTML wrapping ``text`` with boilerplate.

    The extractor (operators/extract.py) must invert this byte-exactly:
    extract_text(make_html(t, u)) == t for all t (property-tested).
    Analog of the reference's WikiExtractor <doc> stream
    (process_wiki_extractor_output.py:51-91) with HTML entity escaping.
    """
    esc = (
        text.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )
    body = "".join(f"<p>{line}</p>\n" for line in esc.split("\n"))
    page = (
        "<!DOCTYPE html><html><head>"
        f"<title>{url}</title>"
        "<script>var x=1;function f(){return '<p>not text</p>';}</script>"
        "<style>p{color:#333}</style>"
        "</head><body>"
        "<nav class=\"menu\"><a href=\"/\">home</a><a href=\"/about\">about</a></nav>"
        f"<article>\n{body}</article>"
        "<footer>&copy; synthetic corpus</footer>"
        "</body></html>"
    )
    return page.encode("utf-8")


def synth_kb(n_entities: int = 300, seed: int = SEED) -> pd.DataFrame:
    """KB with alias collisions + one hot alias (FIXTURES.md §2)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_entities):
        sid = f"e{i:05d}"
        a, b = _NAME_PARTS[i % len(_NAME_PARTS)], _NAME_PARTS[(i * 7 + 3) % len(_NAME_PARTS)]
        subject = f"{a} {b} {i}"
        aliases = [subject, f"{a}-{b}-{i}", f"{a} {i}"]
        if i % 6 == 0:  # ~50/300 entities share the hot stop-word-like alias
            aliases.append(HOT_ALIAS)
        if i % 10 == 0 and i > 0:  # alias collision: shares an alias with i-1
            aliases.append(f"{_NAME_PARTS[(i - 1) % len(_NAME_PARTS)]} {i - 1}")
        etype = ["Organization" if i % 2 else "Place"]
        data = [
            {"predicate": "摘要", "object": f"entity {subject} number {i}"},
            {"predicate": "义项描述", "object": f"{a} {b} synthetic"},
        ]
        rows.append(
            {
                "subject_id": sid,
                "subject": subject,
                "alias": [x.lower() for x in aliases],
                "type": etype,
                "data": data,
            }
        )
    return pd.DataFrame(rows)


def synth_documents(
    n_docs: int = 2000, n_entities: int = 300, seed: int = SEED
) -> pd.DataFrame:
    """Web pages embedding KB aliases; ~50 hosts with hot-key skew.

    Each doc is either about one entity (embeds 1-3 of its aliases, at
    least one discriminative) or about none (pure filler). The hidden
    entity assignment drives ground truth but is NOT a column — the
    pipeline must recover it from text.
    """
    rng = random.Random(seed + 1)
    kb = synth_kb(n_entities, seed)
    # alias ambiguity across the KB: an alias is "unique" if exactly one
    # entity carries it — each entity doc embeds >=1 unique alias so the
    # linkage is information-theoretically solvable (reference analog:
    # every ccks mention has a gold kb_id).
    alias_count: dict[str, int] = {}
    for alist in kb["alias"]:
        for a in alist:
            alias_count[a] = alias_count.get(a, 0) + 1
    hosts = [f"site{h:02d}.example.org" for h in range(50)]
    t0 = datetime(2025, 1, 1, tzinfo=timezone.utc)
    rows = []
    truth = []  # (url, entity_or_None)
    for d in range(n_docs):
        # hot host: host 0 owns ~20% of rows
        host = hosts[0] if rng.random() < 0.2 else hosts[1 + rng.randrange(49)]
        url = f"https://{host}/page/{d:06d}"
        lang = "zh" if d % 9 == 0 else "en"
        has_entity = rng.random() < 0.8
        ent = kb.iloc[rng.randrange(n_entities)] if has_entity else None
        words = [rng.choice(_FILLER) for _ in range(rng.randrange(30, 80))]
        if ent is not None:
            unique = [a for a in ent["alias"] if alias_count[a] == 1]
            ambiguous = [a for a in ent["alias"] if alias_count[a] > 1]
            picks = rng.sample(unique, k=min(len(unique), rng.randrange(1, 3)))
            if ambiguous and rng.random() < 0.5:
                picks.append(rng.choice(ambiguous))
            for p in picks:
                pos = rng.randrange(len(words))
                words.insert(pos, p)
        if lang == "zh":
            words.extend(rng.choice(_ZH_FILLER) for _ in range(10))
        text = " ".join(words)
        if rng.random() < 0.1:
            # line break lands between words (never mid-token): a newline
            # is whitespace-equivalent under the frozen normalizer, so
            # multi-word aliases survive it — mid-word breaks would not.
            spaces = [i for i, ch in enumerate(text) if ch == " "]
            if spaces:
                cut = spaces[len(spaces) // 2]
                text = text[:cut] + "\n" + text[cut + 1 :]
        rows.append(
            {
                "url": url,
                "warc_ts": t0 + timedelta(seconds=d * 17),
                "html": make_html(text, url),
                "text": text,
                "lang": lang,
            }
        )
        truth.append((url, ent["subject_id"] if ent is not None else None))
    # ~3% near-duplicate pages of entity docs (same entity => same truth
    # cluster) to exercise the MinHash-LSH blocking path and dedup ops.
    n_dups = n_docs // 33
    ent_idx = [i for i, (_, e) in enumerate(truth) if e is not None]
    for k in range(n_dups):
        src = rows[rng.choice(ent_idx)]
        src_ent = dict(truth)[src["url"]]
        words = src["text"].split(" ")
        for _ in range(max(1, len(words) // 50)):  # ~2% token perturbation
            words[rng.randrange(len(words))] = rng.choice(_FILLER)
        text = " ".join(words)
        host = hosts[rng.randrange(50)]
        url = f"https://{host}/copy/{k:06d}"
        rows.append(
            {
                "url": url,
                "warc_ts": t0 + timedelta(seconds=(n_docs + k) * 17),
                "html": make_html(text, url),
                "text": text,
                "lang": src["lang"],
            }
        )
        truth.append((url, src_ent))
    df = pd.DataFrame(rows)
    df.attrs["truth"] = truth
    return df


def truth_clusters(truth: list[tuple[str, str | None]]) -> pd.DataFrame:
    """Golden clusters: same entity => same cluster; cluster_id=min(url)."""
    by_ent: dict[str, list[str]] = {}
    singles = []
    for url, ent in truth:
        if ent is None:
            singles.append(url)
        else:
            by_ent.setdefault(ent, []).append(url)
    rows = []
    for ent, urls in by_ent.items():
        cid = min(urls)
        rows.extend({"url": u, "cluster_id": cid} for u in urls)
    rows.extend({"url": u, "cluster_id": u} for u in singles)
    return pd.DataFrame(rows).sort_values("url").reset_index(drop=True)


def labeled_pairs_from_truth(truth: list[tuple[str, str | None]]) -> pd.DataFrame:
    """5,000 same-block labeled pairs, ~30% positive (FIXTURES.md §7)."""
    rng = random.Random(SEED + 2)
    by_ent: dict[str, list[str]] = {}
    for url, ent in truth:
        if ent is not None:
            by_ent.setdefault(ent, []).append(url)
    ents = [e for e, us in by_ent.items() if len(us) >= 2]
    all_urls = [u for u, _ in truth]
    ent_of = dict(truth)
    rows = []
    seen = set()
    while len(rows) < 5000 and ents:
        if rng.random() < 0.3:
            e = rng.choice(ents)
            a, b = rng.sample(by_ent[e], 2)
        else:
            a, b = rng.sample(all_urls, 2)
        a, b = min(a, b), max(a, b)
        if (a, b) in seen:
            continue
        seen.add((a, b))
        ea, eb = ent_of.get(a), ent_of.get(b)
        rows.append(
            {
                "url_a": a,
                "url_b": b,
                "block_key": f"ent:{ea}" if ea == eb and ea else "rand",
                "is_match": bool(ea is not None and ea == eb),
            }
        )
    return pd.DataFrame(rows)


def kb_to_aliases(kb: pd.DataFrame) -> pd.DataFrame:
    """Exploded alias -> subject_id blocking-key table (dedup per alias,
    semantics of the reference's entity_to_ids map,
    entity_sort/el_process.py:37-43)."""
    rows = []
    seen = set()
    for _, r in kb.iterrows():
        for a in r["alias"]:
            if (a, r["subject_id"]) not in seen:
                seen.add((a, r["subject_id"]))
                rows.append({"alias": a, "subject_id": r["subject_id"]})
    return pd.DataFrame(rows)


def load_fixtures(
    spark: SparkSession, n_docs: int = 2000, n_entities: int = 300
) -> dict[str, DataFrame]:
    """All EL fixtures as Spark DataFrames (deterministic: seed ``SEED``)."""
    docs_pd = synth_documents(n_docs, n_entities, SEED)
    truth = docs_pd.attrs["truth"]
    kb_pd = synth_kb(n_entities, SEED)
    out = {
        "documents": spark.createDataFrame(docs_pd, schema=DOCUMENTS_SCHEMA),
        "kb": spark.createDataFrame(kb_pd, schema=KB_SCHEMA),
        "aliases": spark.createDataFrame(kb_to_aliases(kb_pd), schema=ALIASES_SCHEMA),
        "labeled_pairs": spark.createDataFrame(
            labeled_pairs_from_truth(truth), schema=LABELED_PAIRS_SCHEMA
        ),
        "expected_clusters": spark.createDataFrame(
            truth_clusters(truth), schema=EXPECTED_CLUSTERS_SCHEMA
        ),
    }
    return out


# ---------------------------------------------------------------------------
# Distributed fixture generation (bench scale). The pandas generators above
# stay as the small-scale golden path; this one generates the same corpus
# SHAPE entirely on executors (per-doc seeded RNG, order-independent), so a
# 10^7-doc bench input is a narrow Spark job, not a driver loop.
# ---------------------------------------------------------------------------


# Zipf-ish ladder of stop-word-like hot aliases for the skew bench:
# (alias, fraction of docs planting it). Each is shared by
# N_HOT_ENTITY_SHARERS entities (below MAX_ALIAS_AMBIGUITY, so the
# ambiguity filter does NOT save us — the ent: blocks genuinely go hot,
# ~1% of the corpus in ONE blocking key for the top rung, the reference's
# 南京南站-style stop-word alias, el_process.py:40-43 / SURVEY §4).
# Support 1/4 per sharer keeps the alias sub-decisive for scoring, like
# a real ambiguous stop-word.
HOT_ALIAS_LADDER = (
    ("hub station central", 0.04),
    ("north terminal gate", 0.02),
    ("old market square", 0.01),
)
N_HOT_ENTITY_SHARERS = 4


def hot_ladder_aliases() -> pd.DataFrame:
    """(alias, subject_id) rows for the ladder's synthetic shared
    entities — union onto any aliases table to arm the skew corpus."""
    rows = [
        {"alias": alias, "subject_id": f"ehot{i:02d}_{j}"}
        for i, (alias, _frac) in enumerate(HOT_ALIAS_LADDER)
        for j in range(N_HOT_ENTITY_SHARERS)
    ]
    return pd.DataFrame(rows)


def synth_documents_spark(
    spark: SparkSession,
    n_docs: int,
    n_entities: int,
    with_truth_column: bool = False,
    hot_alias_ladder: tuple[tuple[str, float], ...] = (),
) -> DataFrame:
    """Deterministic distributed corpus: same schema + statistical shape as
    synth_documents (hosts with hot-key skew, 1-3 embedded aliases with at
    least one unique, ~10% zh rows, mid-text newline), generated via
    mapInPandas over spark.range. Pure function of doc_id (seed ``SEED``).

    ``hot_alias_ladder``: (alias, doc_fraction) pairs — each doc
    additionally plants alias with prob doc_fraction (independent
    draws), creating Zipf-distributed hot blocking keys for the skew
    bench. Default empty keeps the corpus byte-identical to round 3.
    """
    import random as _random

    from collections.abc import Iterator as _Iterator

    kb = synth_kb(n_entities, SEED)
    alias_count: dict[str, int] = {}
    for alist in kb["alias"]:
        for a in alist:
            alias_count[a] = alias_count.get(a, 0) + 1
    ent_aliases = [
        (
            [a for a in r["alias"] if alias_count[a] == 1],
            [a for a in r["alias"] if alias_count[a] > 1],
            r["subject_id"],
        )
        for _, r in kb.iterrows()
    ]
    filler, zh_filler = list(_FILLER), list(_ZH_FILLER)

    out_fields = list(DOCUMENTS_SCHEMA.fields)
    if with_truth_column:
        out_fields = out_fields + [StructField("truth_entity", StringType(), True)]
    out_schema = StructType(out_fields)

    def gen(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        t0 = datetime(2025, 1, 1, tzinfo=timezone.utc)
        for pdf in batches:
            rows = []
            for d in pdf["id"]:
                d = int(d)
                rng = _random.Random((SEED << 32) ^ d)
                host = (
                    "site00.example.org"
                    if rng.random() < 0.2
                    else f"site{1 + rng.randrange(49):02d}.example.org"
                )
                url = f"https://{host}/page/{d:09d}"
                lang = "zh" if d % 9 == 0 else "en"
                has_entity = rng.random() < 0.8
                words = [rng.choice(filler) for _ in range(rng.randrange(30, 80))]
                truth = None
                if has_entity:
                    unique, ambiguous, sid = ent_aliases[rng.randrange(n_entities)]
                    truth = sid
                    picks = rng.sample(unique, k=min(len(unique), rng.randrange(1, 3)))
                    if ambiguous and rng.random() < 0.5:
                        picks.append(rng.choice(ambiguous))
                    for p in picks:
                        words.insert(rng.randrange(len(words)), p)
                for hot_alias, frac in hot_alias_ladder:
                    if rng.random() < frac:
                        words.insert(rng.randrange(len(words)), hot_alias)
                if lang == "zh":
                    words.extend(rng.choice(zh_filler) for _ in range(10))
                text = " ".join(words)
                if rng.random() < 0.1:
                    spaces = [i for i, ch in enumerate(text) if ch == " "]
                    if spaces:
                        cut = spaces[len(spaces) // 2]
                        text = text[:cut] + "\n" + text[cut + 1 :]
                row = {
                    "url": url,
                    "warc_ts": t0 + timedelta(seconds=d * 17),
                    "html": make_html(text, url),
                    "text": text,
                    "lang": lang,
                }
                if with_truth_column:
                    row["truth_entity"] = truth
                rows.append(row)
            yield pd.DataFrame(rows)

    par = spark.sparkContext.defaultParallelism
    return spark.range(0, n_docs, 1, par * 2).mapInPandas(gen, schema=out_schema)
