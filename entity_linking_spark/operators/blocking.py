"""Candidate generation: mention detection + multi-key blocking.

Re-expresses the reference's three candidate generators as one blocking
stage producing (url_a, url_b) candidate pairs. Each key family is built
by one function, and ``blocking_keys`` is their union:

  1. alias-dictionary mentions (reference: jieba user-dict cut + alias
     lookup, entity_sort/service_main.py:110-127, dict built at
     el_process.py:19-43, longest-alias-wins ordering el_process.py:65)
     -> here a broadcast longest-match-first dictionary matcher run as a
     dictionary-driven UDTF (mapInPandas, one doc row -> many mention
     rows), then an equi hash join mentions.alias == aliases.alias;
     ``entity_keys`` turns the low-ambiguity candidates into ent: keys.
  2. normalized-URL-host key (SURVEY §2.7 F11 analog for web pages),
     ``host_keys``.
  3. MinHash-LSH bands over text shingles (replaces Solr BM25 J5 and
     FAISS ANN J7: candidates by similarity, re-scored exactly later),
     ``minhash_keys``: the only code that builds the mh:<band>:<hash>
     key, used by the pipeline's s4, the flagship and
     ``dedup.minhash_near_dup_pairs``. It reads a precomputed ``bands``
     column (made by the fused featurize pass, or by dedup's bands UDF)
     and runs no Python itself.

Skew handling (the reference has none — SURVEY §4 "hot-key behavior"):
  - blocking keys whose document frequency exceeds ``MAX_BLOCK_SIZE`` are
    dropped entirely (stop-key removal: a key shared by thousands of docs
    carries no linkage information, exactly like the reference's
    stop-word filter el_main.py:534-537);
  - pair generation within a block is one equi self-join on the
    xxhash64 of the key, after a broadcast anti-join has removed the
    over-cap keys map-side: no kept block has more than MAX_BLOCK_SIZE
    members, so the join's per-key fan-out is bounded by
    MAX_BLOCK_SIZE² (``candidate_pairs``).

One alias dictionary: ``AliasDictionary`` is the only code that
normalizes the KB alias table, sizes it and routes it to the trie or the
join mention path; s2 and s3 of a pipeline run share one.

Scale notes (100 TB): mention detection is a narrow map over the corpus;
the alias table is broadcast (reference KBs are ~10^6 rows of short
strings ⇒ low-MB compressed); beyond ALIAS_BROADCAST_MAX_ROWS the join
path keeps it distributed. The only wide exchanges are the key-explode
repartition and the within-block self-join, both bounded by the cap.
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from entity_linking_spark import runtime
from entity_linking_spark.functions.normalize import normalize_text

MAX_BLOCK_SIZE = 64
MAX_ALIAS_AMBIGUITY = 8  # aliases shared by more entities don't emit ent: keys
MAX_CANDIDATE_AMBIGUITY = 16  # ...and by more than this, no candidate rows at all
# Above this alias-table size AliasDictionary routes mention detection
# from the broadcast trie matcher to the join-based path
# (detect_mentions_join) and never collects the aliases: ~4M short
# aliases is ~100s of MB as a python trie on the driver+executors — the
# measured comfortable ceiling; the reference's 5.9M-entity KB
# (main_dense.py:119) lands just past it, so it takes the join path.
ALIAS_BROADCAST_MAX_ROWS = 4_000_000
# candidate_entities hints the filtered alias table onto the broadcast
# build side only below this row estimate: ~1M alias rows is a few tens
# of MB hashed — comfortably an executor broadcast — while the 10M-doc
# scale point (3.4M rows) exceeds it and rides AQE's stats instead
# (the unconditional hint blew driver maxResultSize there).
CANDIDATE_BROADCAST_MAX_ROWS = 1_000_000
# detect_mentions_join's alias-token prefilter: the DISTINCT token set of
# the alias table is usually broadcastable even when the alias TABLE is
# not (tokens are shared heavily across multi-token aliases — the
# reference's 5.9M-alias KB has far fewer distinct tokens). Same ceiling
# rationale as ALIAS_BROADCAST_MAX_ROWS; a JVM broadcast relation of
# short strings is more compact than the python trie, so reuse 4M.
ALIAS_TOKEN_BROADCAST_MAX = 4_000_000
# ...but the prefilter's cost is alias-side and fixed (explode+distinct
# over the alias table, a broadcast build, two semi-join evals) while its
# benefit scales with the CORPUS (the streams it thins). Measured A/B,
# alternating warm reps: 100k docs x 98k aliases 2.6 s -> 4.8 s (a ~2 s
# net LOSS), 1M docs x 4.9M aliases 105.5 s -> 47-51 s (2.2x win). So
# it also gates on corpus size via footer metadata (no scan job); below
# this many docs the prefilter stays off.
PREFILTER_MIN_DOC_ROWS = 250_000

MENTIONS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("mention", StringType(), False),
        StructField("start_pos", IntegerType(), False),
        StructField("end_pos", IntegerType(), False),
    ]
)


_TERM = "\0"  # trie terminal marker (never a normalized token)


class _DictMatcher:
    """Token-trie longest-match-first dictionary matcher.

    Reproduces the reference's jieba-user-dict longest-alias-wins
    contract (el_process.py:65 sorts aliases longest-first) at
    O(longest-alias) per token position, INDEPENDENT of dictionary size —
    a first-token index degrades to O(|aliases sharing the anchor|) per
    position (measured: 241 s for the mention stage at 500k docs / 150k
    aliases whose first tokens collide; the trie removes it), and a regex
    alternation degrades to O(|dictionary|). Built once per executor from
    the broadcast alias list; matching is over the normalized token
    stream, so word boundaries are structural.
    """

    def __init__(self, norm_aliases: list[str]) -> None:
        self.root: dict = {}
        for a in norm_aliases:
            toks = a.split()
            if not toks:
                continue
            node = self.root
            for t in toks:
                node = node.setdefault(t, {})
            node[_TERM] = len(toks)

    def find(self, tokens: list[str]) -> list[tuple[int, int]]:
        """Non-overlapping (token_start, n_tokens) matches, left to right;
        the deepest terminal on the trie walk = longest alias wins."""
        out = []
        i, n = 0, len(tokens)
        root = self.root
        while i < n:
            node = root.get(tokens[i])
            if node is None:
                i += 1
                continue
            best = node.get(_TERM, 0)
            j = i + 1
            while j < n:
                node = node.get(tokens[j])
                if node is None:
                    break
                j += 1
                ln = node.get(_TERM, 0)
                if ln:
                    best = ln
            if best:
                out.append((i, best))
                i += best
            else:
                i += 1
        return out


def detect_mentions(
    docs: DataFrame,
    alias_list: list[str],
    text_col: str = "text",
    url_col: str = "url",
    tokens_col: str | None = None,
) -> DataFrame:
    """Dictionary-driven UDTF: one doc row -> many mention rows.

    Positions are char offsets into the *normalized* text (the reference
    computes offsets in lowercased text, service_main.py:128-134).
    When ``tokens_col`` names a precomputed normalized-token column (the
    fused s1 output), tokenization is skipped entirely.
    """
    norm_aliases = sorted({normalize_text(a) for a in alias_list if a})
    use_tokens = tokens_col is not None
    in_col = tokens_col if use_tokens else text_col

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from entity_linking_spark.functions.normalize import basic_tokenize

        matcher = _DictMatcher(norm_aliases)
        for pdf in batches:
            urls, mentions, starts, ends = [], [], [], []
            for url, payload in zip(pdf[url_col], pdf[in_col]):
                if payload is None:
                    continue
                tokens = list(payload) if use_tokens else basic_tokenize(payload)
                hits = matcher.find(tokens)
                if not hits:
                    continue
                # char offsets into the canonical normalized string
                # (" ".join(tokens)) — cumulative token start positions
                pos = [0]
                for t in tokens:
                    pos.append(pos[-1] + len(t) + 1)
                for tok_start, n_toks in hits:
                    s = pos[tok_start]
                    e = pos[tok_start + n_toks] - 1
                    urls.append(url)
                    mentions.append(" ".join(tokens[tok_start : tok_start + n_toks]))
                    starts.append(s)
                    ends.append(e)
            yield pd.DataFrame(
                {
                    "url": pd.Series(urls, dtype="string"),
                    "mention": pd.Series(mentions, dtype="string"),
                    "start_pos": pd.Series(starts, dtype="int32"),
                    "end_pos": pd.Series(ends, dtype="int32"),
                }
            )

    return docs.select(url_col, in_col).mapInPandas(run, schema=MENTIONS_SCHEMA)


def alias_row_estimate(aliases: DataFrame) -> int:
    """Row-count estimate for the alias table: parquet footer rows
    (``runtime.input_rows``) when available, else a count() — acceptable
    for in-memory fixture tables, which are small by construction."""
    est = runtime.input_rows(aliases)
    return aliases.count() if est is None else est


def _once(compute):
    """A lazy AliasDictionary member, computed at most once even when
    several driver threads ask (the instance lock)."""

    @functools.wraps(compute)
    def member(self):
        with self._lock:
            if compute.__name__ not in self._memo:
                self._memo[compute.__name__] = compute(self)
            return self._memo[compute.__name__]

    return property(member)


class AliasDictionary:
    """The KB alias table (alias, subject_id), prepared once for mention
    detection and the candidate join (the reference builds its alias
    dict once per service start, el_process.py:19-43). Members are lazy
    and computed at most once; the size gates read the module constants
    then, and building the object runs no Spark job. ``cache_registry``
    gets the pinned ``table``: release it after the dictionary's last
    consumer."""

    def __init__(
        self, aliases: DataFrame, cache_registry: runtime.CacheScope | None = None
    ) -> None:
        self._aliases = aliases
        self._cache_registry = cache_registry
        self._lock = threading.RLock()
        self._memo: dict[str, object] = {}

    @_once
    def table(self) -> DataFrame:
        """Normalized (alias, subject_id, n_ids) rows, empty aliases
        dropped, pinned: unpinned, the empty-string filter re-evaluates
        the normalize UDF under each consumer (2x stacked ArrowEvalPython
        per candidate-join branch; s3 9-16 s -> 3.0 s at 3k docs).

        ``n_ids`` is the alias's ambiguity, the number of distinct
        entities sharing the normalized alias (the reference's
        entity_to_ids fan-out, built with its dict). It is the largest
        ``dense_rank`` of subject_id within the alias: one window, one
        exchange, a scalar per row (a ``collect_set`` window would copy
        the alias's id array into each of its rows). dense_rank would
        count a NULL id where a distinct count does not; ALIASES_SCHEMA
        declares subject_id non-null."""
        from pyspark import StorageLevel

        from entity_linking_spark.functions.normalize import normalize_udf

        by_alias = Window.partitionBy("alias")
        table = (
            self._aliases.select(
                normalize_udf(F.col("alias")).alias("alias"), F.col("subject_id")
            )
            .where(F.col("alias") != "")
            .withColumn("_rank", F.dense_rank().over(by_alias.orderBy("subject_id")))
            # coalesce only types n_ids non-null, as the s3 schema has it
            .withColumn("n_ids", F.max("_rank").over(by_alias).cast("long"))
            .withColumn("n_ids", F.coalesce("n_ids", F.lit(0)))
            .drop("_rank")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if self._cache_registry is not None:
            self._cache_registry.append(table)
        return table

    @_once
    def rows(self) -> int:
        """Row estimate of the raw alias table (``alias_row_estimate``)."""
        return alias_row_estimate(self._aliases)

    @_once
    def alias_list(self) -> list[str] | None:
        """Raw distinct aliases collected for the broadcast trie, or None
        above ALIAS_BROADCAST_MAX_ROWS: a beyond-broadcast KB is never
        collected, and mention detection takes the join path."""
        if self.rows > ALIAS_BROADCAST_MAX_ROWS:
            return None
        return [r["alias"] for r in self._aliases.select("alias").distinct().collect()]

    @_once
    def broadcast(self) -> bool:
        """Whether the candidate join hints the alias side onto the
        broadcast build side (rows <= CANDIDATE_BROADCAST_MAX_ROWS)."""
        return self.rows <= CANDIDATE_BROADCAST_MAX_ROWS

    @_once
    def token_vocab_fits(self) -> bool:
        """Whether the distinct alias-token vocabulary fits a broadcast
        (<= ALIAS_TOKEN_BROADCAST_MAX): one dimension-side aggregate job."""
        n_tokens = (
            self.table.select(F.explode(F.split("alias", " ")).alias("tok"))
            .distinct()
            .count()
        )
        return n_tokens <= ALIAS_TOKEN_BROADCAST_MAX

    def mentions(
        self,
        docs: DataFrame,
        tokens_col: str | None = None,
    ) -> DataFrame:
        """Mention rows of ``docs`` by the path this dictionary's size
        takes: the broadcast trie, or the join path beyond it."""
        if self.alias_list is None:
            return detect_mentions_join(docs, self, tokens_col=tokens_col)
        return detect_mentions(docs, self.alias_list, tokens_col=tokens_col)


def detect_mentions_join(
    docs: DataFrame,
    dictionary: AliasDictionary,
    tokens_col: str | None = None,
    cache_registry: runtime.CacheScope | None = None,
) -> DataFrame:
    """Beyond-broadcast mention detection over ``docs`` (url, text — or
    url and the precomputed ``tokens_col``): pure-join path,
    byte-identical output to ``detect_mentions`` (pytest-pinned), with
    NO driver-side alias collect — the alias dictionary stays
    distributed.

    The trie path collects the full alias list to the driver to build a
    broadcast matcher; at the reference's real KB scale (5,903,527
    entities, main_dense.py:119) that is ~100s of MB on the driver, and
    at open-web KB scale a hard wall. This path re-expresses the same
    contract (the reference's dict IS a join input, el_process.py:37-43)
    as relational ops:

      1. dedup the dictionary's normalized alias table (same frozen
         normalizer as the mention text, so variants join);
      2. RARE-TOKEN ANCHORING (prefix-filter trick from the
         set-similarity-join literature): one map-side-combined corpus
         pass computes per-token document frequency; each alias anchors
         on its LOWEST-df token (not its first token — real KBs share
         first tokens massively: 'the ...', 'new ...', entity families;
         measured: first-token anchoring produced a ~10^9-row candidate
         table on a 100k-doc corpus whose replicated aliases shared
         first tokens, this formulation collapses it to ~the true-match
         count). Aliases containing a token the corpus never uses are
         dropped outright — they cannot match anything.
      3. posexplode doc tokens -> (url, pos, tok) rows; equi-join token
         == alias anchor token (shuffle hash join — the alias side never
         needs to fit in one place); candidate start = pos - anchor
         offset;
      4. group candidates per doc and verify each full span JVM-side:
         concat_ws(' ', slice(tokens, start+1, n)) == alias;
      5. replay the trie's greedy longest-match-first non-overlapping
         scan (el_process.py:65 longest-first ordering) as an aggregate()
         fold over the verified matches sorted (pos ASC, n DESC): take a
         match iff it starts at/after the previous match's end.

    Shuffle inventory: token-df agg, alias-anchor agg, anchor join,
    per-url groupBy, 1:1 join back to docs tokens. All equi-exchanges on
    uniform-ish keys; residual anchor-token heat (a corpus-hot token
    that is still some alias's rarest) is AQE-skew-splittable, since
    unlike the trie there is no per-key state. Output rows are per
    (url, selected span), identical as a SET to the trie path (row
    order differs — both are unordered DataFrames).

    ``cache_registry``: when given, the corpus-token table this call
    persists is appended to it so a repeated caller (a gate query run
    per rep) can release it after its action instead of leaking one
    storage entry per invocation. The alias side is the dictionary's
    own, pinned once for all calls.

    Alias-token prefilter: both corpus-token streams below (the df agg
    input and the anchor-join probe side) carry EVERY corpus token, yet
    only tokens appearing in some alias can influence the output —
    foreign df rows never join an alias token, foreign anchor rows never
    match an anchor. When the DISTINCT alias-token set fits a broadcast
    (usual even for a beyond-broadcast alias TABLE — tokens are shared
    across aliases), a broadcast semi-join drops foreign tokens map-side:
    the df exchange then carries the alias vocabulary instead of the
    corpus vocabulary, and the anchor join shuffles only anchor-token
    positions instead of the whole exploded corpus. The cost is
    alias-side and fixed, so it only nets out on large corpora
    (measured: -2 s at 100k docs, ~2.2x at 1M docs x 4.9M aliases).
    So it is on only when the corpus is known to be large (footer
    metadata, no job, >= PREFILTER_MIN_DOC_ROWS) and the dictionary's
    token vocabulary fits a broadcast (counted once per dictionary).
    Output is identical either way (identity pytest runs both)."""
    from pyspark import StorageLevel

    from entity_linking_spark.functions.normalize import tokenize_udf

    alias_norm = (
        dictionary.table.select("alias")
        .distinct()
        .withColumn("_atoks", F.split("alias", " "))
        .select("alias", "_atoks", F.size("_atoks").alias("n"))
    )
    if tokens_col is None:
        # spread a small corpus scan before the Python stage (runtime.spread)
        src = runtime.spread(docs)
        # tokens feed TWO subtrees (anchors + the verify join): without a
        # persist the tokenizer UDF would run twice over the whole corpus
        toks = src.select(
            F.col("url").alias("url"), tokenize_udf(F.col("text")).alias("tokens")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # a repeated caller must be able to release this call-scoped
        # cache entry after its action — otherwise every invocation pins
        # a new one until driver GC + ContextCleaner catch up
        if cache_registry is not None:
            cache_registry.append(toks)
    else:
        # precomputed tokens (the pipeline's checkpointed s1 output):
        # both subtree scans are cheap columnar re-reads — pinning a
        # corpus-sized token table to executor storage would cost more
        toks = docs.select(F.col("url").alias("url"), F.col(tokens_col).alias("tokens"))

    # corpus gate first (footer metadata, no job). Unknown size counts as
    # small: every unknown-size caller here (tests, in-memory frames) IS small
    n_docs_est = runtime.input_rows(docs) or 0
    alias_tok_set = None
    if n_docs_est >= PREFILTER_MIN_DOC_ROWS and dictionary.token_vocab_fits:
        alias_tok_set = alias_norm.select(F.explode("_atoks").alias("tok")).distinct()

    # per-token document frequency (map-side-combined: one partial row
    # per distinct token per task, so the shuffle carries the vocabulary,
    # not the corpus — or, with the prefilter, just the alias vocabulary)
    tok_stream = toks.select(F.explode("tokens").alias("tok"))
    if alias_tok_set is not None:
        tok_stream = tok_stream.join(F.broadcast(alias_tok_set), "tok", "left_semi")
    tok_df = tok_stream.groupBy("tok").agg(F.count("*").alias("_df"))
    # rarest-token anchor per alias: (df ASC, offset ASC, token ASC) min
    # — deterministic; aliases with any corpus-absent token drop (their
    # token rows don't survive the inner join, so the count() != n)
    alias_anchor = (
        alias_norm.select(
            "alias", "n", F.posexplode(F.col("_atoks")).alias("_aoff", "tok")
        )
        .join(tok_df, "tok")
        .groupBy("alias", "n")
        .agg(
            F.count("*").alias("_present"),
            F.min(F.struct("_df", "_aoff", "tok")).alias("_best"),
        )
        .where(F.col("_present") == F.col("n"))
        .select(
            "alias", "n",
            F.col("_best.tok").alias("_atok"),
            F.col("_best._aoff").alias("_aoff"),
        )
    )
    anchors = toks.select("url", F.posexplode("tokens").alias("pos", "tok"))
    if alias_tok_set is not None:
        # same broadcast set (superset of the anchor tokens): foreign
        # corpus positions drop map-side instead of riding the equi-join
        # exchange with the full exploded corpus
        anchors = anchors.join(F.broadcast(alias_tok_set), "tok", "left_semi")
    cand = (
        anchors.join(alias_anchor, anchors.tok == alias_anchor["_atok"])
        .select(
            "url", (F.col("pos") - F.col("_aoff")).alias("pos"), "n", "alias"
        )
        .where(F.col("pos") >= 0)  # anchor offset past the doc start
    )
    # negn makes sort_array's lexicographic ascending order = (pos ASC,
    # n DESC): the greedy fold then sees the longest candidate at each
    # position first, exactly the trie's deepest-terminal-wins rule
    per_url = cand.groupBy("url").agg(
        F.sort_array(
            F.collect_list(F.struct("pos", (-F.col("n")).alias("negn"), "n", "alias"))
        ).alias("ms")
    )
    joined = toks.join(per_url, "url")  # 1:1 inner; docs without anchors drop out
    verified = F.filter(
        F.col("ms"),
        lambda m: F.concat_ws(" ", F.slice(F.col("tokens"), m["pos"] + 1, m["n"]))
        == m["alias"],
    )
    empty_sel = F.array().cast("array<struct<pos:int,n:int>>")
    selected = F.aggregate(
        verified,
        F.struct(F.lit(0).alias("nxt"), empty_sel.alias("sel")),
        lambda acc, m: F.when(
            m["pos"] >= acc["nxt"],
            F.struct(
                (m["pos"] + m["n"]).alias("nxt"),
                F.array_append(
                    acc["sel"], F.struct(m["pos"].alias("pos"), m["n"].alias("n"))
                ).alias("sel"),
            ),
        ).otherwise(acc),
    )["sel"]
    out = joined.select("url", "tokens", F.explode(selected).alias("m"))
    mention = F.concat_ws(" ", F.slice("tokens", F.col("m.pos") + 1, F.col("m.n")))
    # char offset of token i in ' '.join(tokens) = sum(len+1 for j<i) =
    # len(concat of first i tokens) + 1 (0 when i = 0) — same arithmetic
    # as the trie path's cumulative position array
    start = (
        F.when(F.col("m.pos") == 0, F.lit(0))
        .otherwise(F.length(F.concat_ws(" ", F.slice("tokens", 1, F.col("m.pos")))) + 1)
        .cast("int")
    )
    return (
        out.withColumn("mention", mention)
        .withColumn("start_pos", start)
        .withColumn("end_pos", (F.col("start_pos") + F.length("mention")).cast("int"))
        .select("url", "mention", "start_pos", "end_pos")
    )


def candidate_entities(mentions: DataFrame, dictionary: AliasDictionary) -> DataFrame:
    """J1: equi hash join mention -> candidate subject_ids, with per-alias
    ambiguity ``n_ids`` (how many entities share the alias — the
    disambiguation prior, analog of the reference's entity_to_ids
    fan-out).

    The alias side is the dictionary's pinned, normalized alias table
    (the SAME frozen normalizer made the mention strings, so
    hyphen/punct variants join), which carries ``n_ids`` computed once
    per dictionary, not once per call. Aliases shared by
    more than ``MAX_CANDIDATE_AMBIGUITY`` entities are dropped at the
    source: their fan-out is quadratic cost with near-zero evidence
    weight (support 1/n_ids), and at corpus scale a stop-word-like alias
    would multiply the candidate table by its entity count (the
    reference's 南京南站-style hot keys, SURVEY §4)."""
    alias_side = dictionary.table.where(F.col("n_ids") <= MAX_CANDIDATE_AMBIGUITY)
    # SIZE-GATED broadcast hint (round 4, twice-revised): an unconditional
    # hint blew spark.driver.maxResultSize at the 10M-doc scale point (1M
    # entities, 3.4M alias rows), but dropping the hint entirely regressed
    # the 1M-doc local-cluster W4 runs ~10% — the static planner cannot
    # size the filtered-alias join output nor the Python-stage mentions
    # side, so the build-side choice is a coin flip AQE only corrects
    # after shuffle-writing the mentions table. Provably-small alias
    # tables (AliasDictionary.broadcast) are hinted onto the build side;
    # beyond the gate AQE decides, which is the only plan that works
    # there anyway.
    alias_b = F.broadcast(alias_side) if dictionary.broadcast else alias_side
    return (
        mentions.join(alias_b, mentions.mention == alias_b["alias"])
        .select("url", "mention", "subject_id", "n_ids")
    )


def host_keys(docs: DataFrame) -> DataFrame:
    """host:<host> keys, (url, key) rows; urls without a parseable host
    emit none."""
    # try_parse_url, NOT parse_url: Spark 4's parse_url THROWS on an
    # invalid URL (INVALID_URL), so one malformed crawl url would kill
    # the whole blocking stage; try_ returns NULL and the isNotNull
    # filter drops the row from host-blocking (it still blocks via its
    # other keys) — P2's drop-unusable-rows semantics
    return docs.select(
        "url",
        F.concat(F.lit("host:"), F.try_parse_url("url", F.lit("HOST"))).alias("key"),
    ).where(F.col("key").isNotNull())


def entity_keys(candidates: DataFrame) -> DataFrame:
    """ent:<subject_id> keys, (url, key) rows, one per distinct pair.

    Emitted only for candidates supported by a low-ambiguity alias
    (n_ids <= MAX_ALIAS_AMBIGUITY). A hot alias shared by dozens of
    entities (the reference's stop-word problem, el_main.py:534-537)
    would otherwise inject every doc mentioning it into every one of
    those entities' blocks, blowing them past the size cap and
    destroying the discriminative pairs inside — the skew would also
    dominate the self-join at scale."""
    return (
        candidates.where(F.col("n_ids") <= MAX_ALIAS_AMBIGUITY)
        .select("url", F.concat(F.lit("ent:"), F.col("subject_id")).alias("key"))
        .distinct()
    )


def minhash_keys(df: DataFrame) -> DataFrame:
    """mh:<band_idx>:<band_hash> keys from ``(url, bands)``, one per
    band. The band index keeps equal hashes in different bands apart."""
    return (
        df.select("url", "bands")
        .select("url", F.posexplode("bands").alias("band_idx", "band_hash"))
        .select("url", F.concat_ws(":", F.lit("mh"), "band_idx", "band_hash").alias("key"))
    )


def blocking_keys(docs: DataFrame, candidates: DataFrame) -> DataFrame:
    """s4's keys: the union of ``host_keys(docs)``, ``entity_keys(candidates)``
    and ``minhash_keys(docs)``, in that order, as (url, key) rows. The
    host:/ent:/mh: prefixes keep the key spaces from colliding."""
    return (
        host_keys(docs)
        .unionByName(entity_keys(candidates))
        .unionByName(minhash_keys(docs))
    )


def candidate_pairs(keys: DataFrame) -> DataFrame:
    """Within-block pair generation with stop-key removal.

    Blocks larger than ``MAX_BLOCK_SIZE`` (read at call time) are dropped
    (non-discriminative keys: hot aliases, boilerplate LSH bands,
    mega-hosts). The self-join is an equi join on the key; with capped
    blocks the per-key output is bounded, and the final distinct dedups
    pairs that co-occur under several keys.

    The stop-list aggregation and the anti-join/self-join branches each
    scan the ``keys`` subtree, and this function pins nothing: each
    caller hands it keys that are cheap to rescan. The pipeline's s4
    reads the s1 and s3 stage snapshots, the flagship reads its pinned
    ``tokenize_and_featurize`` output, and
    ``dedup.minhash_near_dup_pairs`` reads its pinned band table.
    """
    # Stop keys are found by a two-phase groupBy().count() — partial
    # (map-side) aggregation collapses a hot key to one partial row per
    # map task, so a 10^8-member boilerplate band costs the count shuffle
    # only #tasks rows — then the (tiny, <= rows/cap by construction;
    # measured 51 keys over 71M key rows at 4M docs) stop list broadcasts
    # into a LEFT ANTI join that drops every hot row MAP-SIDE. Hot keys
    # therefore never cross the wire at all, and the one real exchange
    # (the self-join below) carries only kept rows with <= cap members
    # per key — skew-free by construction.
    #
    # This replaces a count-over-Window cap (one exchange, reused by the
    # self-join) that measured FASTER at 1M docs but fell off a cliff at
    # 4M: WindowExec hash-partitions by raw key and SORTS, so the one
    # partition holding the hottest host key (800k rows at 4M docs)
    # became a straggler task while the other executors idled — stage
    # scaling efficiency 0.74 -> 0.41 going 1M -> 4M docs, and AQE
    # cannot split a skewed window partition the way it splits skewed
    # join partitions. No sort and no skewed exchange exist in this plan.
    #
    # The string key (host:/ent:/mh:band:hash, ~25-45 bytes) is folded to
    # xxhash64 FIRST: count + self-join traffic is 8-byte longs (~4x less
    # key bytes; shuffle bandwidth is the scaling ceiling here). A 64-bit
    # collision would merge two unrelated blocks — blocking is a
    # candidate generator, so the extra pairs are filtered by exact
    # scoring downstream, same as any other block co-occurrence.
    hashed = keys.select(F.xxhash64("key").alias("key"), "url")
    stop = (
        hashed.groupBy("key")
        .agg(F.count("*").alias("block_size"))
        .where(F.col("block_size") > MAX_BLOCK_SIZE)
        .select("key")
    )
    kept = hashed.join(F.broadcast(stop), "key", "left_anti")
    a = kept.select("key", F.col("url").alias("url_a"))
    b = kept.select("key", F.col("url").alias("url_b"))
    return (
        a.join(b.hint("shuffle_hash"), "key")
        .where(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b")
        .distinct()
    )
