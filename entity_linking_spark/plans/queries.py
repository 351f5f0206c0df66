"""Operator-level queries + DuckDB oracle SQL (driver correctness gate).

One entry per implemented operator family from SURVEY.md §2, expressed
twice: as a Spark DataFrame plan (queries) and as ANSI SQL DuckDB runs on
the same parquet (oracles). Column names and value rounding are aligned
on both sides because the driver hash-compares values after sorting
columns by name.

Conventions:
  - every computed column is aliased identically in both forms;
  - doubles rounded to 4 decimals on both sides;
  - timestamps emitted as formatted strings (engine-neutral);
  - arrays emitted as joined strings (hash-stable).

Each function cites the reference operator it re-expresses (SURVEY §2 ids).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from entity_linking_spark import runtime

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Caches pinned by the CURRENT query (operators take it as their
# cache_registry, query fns append directly). Released when the NEXT
# query starts building: the query functions never see the action (the
# caller counts/writes the returned frame), so the next invocation is
# the earliest safe release point (runtime.CacheScope).
_LIVE_CACHES = runtime.CacheScope()
_release_live_caches = _LIVE_CACHES.release


def released(fn: QueryFn) -> QueryFn:
    """Wrap a query fn so that building it first releases the previous
    query's pinned caches (every registered query gets this)."""

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str, *args, **kwargs) -> DataFrame:
        _LIVE_CACHES.release()
        return fn(spark, sf_dir, *args, **kwargs)

    return wrapped


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        wrapped = released(fn)
        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return wrapped

    return deco


def all_queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def all_oracles() -> dict[str, str]:
    return dict(_ORACLES)


# ---------------------------------------------------------------- filters

@query(
    "p3_p4_p5_p6_p7_filter_suite",
    """SELECT 'p3' AS which, CAST(doc_id AS VARCHAR) AS k,
              CAST(len(string_split(text, ' ')) AS VARCHAR) AS v
       FROM documents WHERE len(string_split(text, ' ')) >= 60
       UNION ALL
       SELECT 'p4' AS which, CAST(doc_id AS VARCHAR) AS k,
              CAST(len(string_split(text, ' ')) AS VARCHAR) AS v
       FROM documents
       WHERE NOT (lower(text) LIKE '%vector%' OR lower(text) LIKE '%stream%')
       UNION ALL
       SELECT 'p5' AS which, CAST(doc_id AS VARCHAR) AS k,
              array_to_string(list_filter(string_split(text, ' '),
                  x -> x NOT IN ('the','a','of','and','on'))[1:8], ' ')
              || '|' ||
              CAST(len(string_split(text, ' ')) - len(list_filter(string_split(text, ' '),
                  x -> x NOT IN ('the','a','of','and','on'))) AS VARCHAR) AS v
       FROM documents WHERE doc_id < 100
       UNION ALL
       SELECT 'p6' AS which, CAST(doc_id AS VARCHAR) AS k,
              array_to_string(list_filter(string_split(text, ' '), x -> x <> 'the'), ' ') AS v
       FROM documents WHERE doc_id < 100
       UNION ALL
       SELECT 'p7' AS which, CAST(event_id AS VARCHAR) AS k, event_type AS v
       FROM events WHERE event_type NOT IN ('error', 'signup')
       ORDER BY which, k""",
)
def p3_p4_p5_p6_p7_filter_suite(spark, sf_dir):
    """P3 + P4 merged (round 5, freeing a slot for the oracle-backed
    gopher_repetition_signals) + P7 folded in late round 5 (freeing a
    slot for gopher_quality_signals) + P5/P6 folded in at round-5 end
    (freeing the slot that now holds nb_quality_classifier — the same
    one-in-one-out move as the r4 p5/p6 and r5 a8 merges): the
    min-tokens length gate (data_ingestion.py:118-127), the
    disambiguation-page style contains-filter (data_ingestion.py:
    130-155), the emoji-alias-style higher-order array filter
    (data_ingestion.py:81-94; stand-in banned set is a stopword list —
    this corpus has no emoji) with its removed-count packed after a '|'
    in the same value, the NIL-token array_remove (el_process.py
    analog), and the stop-word anti-filter (el_main.py:534-537) —
    tagged and unioned so EACH filter keeps its original standalone
    selectivity (a conjunction would pass ~1 doc at sf0.01 — too
    degenerate to gate on). Same pushdown shape per branch: one scan,
    one Filter."""
    d = _t(spark, sf_dir, "documents")
    n = F.size(F.split(F.col("text"), " "))
    t = F.lower(F.col("text"))
    did = F.col("doc_id").cast("string").alias("k")
    p3 = d.where(n >= 60).select(
        F.lit("p3").alias("which"), did, n.cast("string").alias("v")
    )
    p4 = d.where(~(t.contains("vector") | t.contains("stream"))).select(
        F.lit("p4").alias("which"), did, n.cast("string").alias("v")
    )
    banned = ("the", "a", "of", "and", "on")
    toks = F.split(F.col("text"), " ")
    kept = F.filter(toks, lambda x: ~x.isin(*banned))
    head100 = d.where(F.col("doc_id") < 100)
    p5 = head100.select(
        F.lit("p5").alias("which"),
        did,
        F.concat(
            F.concat_ws(" ", F.slice(kept, 1, 8)),
            F.lit("|"),
            (F.size(toks) - F.size(kept)).cast("string"),
        ).alias("v"),
    )
    p6 = head100.select(
        F.lit("p6").alias("which"),
        did,
        F.concat_ws(" ", F.array_remove(toks, "the")).alias("v"),
    )
    e = _t(spark, sf_dir, "events")
    p7 = e.where(~F.col("event_type").isin("error", "signup")).select(
        F.lit("p7").alias("which"),
        F.col("event_id").cast("string").alias("k"),
        F.col("event_type").alias("v"),
    )
    return (
        p3.unionAll(p4).unionAll(p5).unionAll(p6).unionAll(p7)
        .orderBy("which", "k")
    )


# (p6_array_remove_nil merged into the p3..p7 filter suite above —
# all five P-op ids still exercised and visible in the slot name)


# ------------------------------------------------------------------ joins

@query(
    "j1_j2_join_suite",
    """SELECT 'j1' AS which, n.n_name AS k, CAST(count(*) AS VARCHAR) AS v
       FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
       GROUP BY n.n_name
       UNION ALL
       SELECT * FROM
       (SELECT 'j2' AS which, CAST(o.o_orderkey AS VARCHAR) AS k,
               coalesce(c.c_name, 'UNKNOWN') AS v
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        ORDER BY CAST(k AS BIGINT) LIMIT 500)
       ORDER BY which, k""",
)
def j1_j2_join_suite(spark, sf_dir):
    """J1 blocking-key equi hash join (service_main.py:117-127) + J2
    left join + coalesce fallback (link_wikipedia_and_wikidata.py:
    76-102), merged into one tagged gate slot at round-5 end (the
    p3..p7 / a7_a8_a9 convention; the freed slot holds the
    oracle-backed semantic_dedup). Each branch keeps its original join
    shape: J1 an explicitly-broadcast dim join + hash aggregate, J2
    un-hinted (round 4: customer is only broadcastable at bench SFs —
    a forced hint would OOM the driver at warehouse scale; AQE
    broadcasts at runtime when the side is actually small)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j1 = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("k"))
        .agg(F.count("*").cast("string").alias("v"))
        .select(F.lit("j1").alias("which"), "k", "v")
    )
    o = _t(spark, sf_dir, "orders")
    j2 = (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .select("o_orderkey", F.coalesce("c_name", F.lit("UNKNOWN")).alias("v"))
        .orderBy("o_orderkey")
        .limit(500)
        .select(
            F.lit("j2").alias("which"),
            F.col("o_orderkey").cast("string").alias("k"),
            "v",
        )
    )
    return j1.unionByName(j2).orderBy("which", "k")


@query(
    "semantic_dedup",
    """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
                  FROM embeddings
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
       a AS (SELECT e.vec_id AS id, c.cid,
                    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                           c.cvec) AS sim
             FROM embeddings e CROSS JOIN c),
       asg AS (SELECT id, cid, sim FROM
               (SELECT *, row_number() OVER (PARTITION BY id
                          ORDER BY sim DESC, cid) AS rn FROM a)
               WHERE rn = 1),
       kept AS (SELECT * FROM asg
                QUALIFY count(*) OVER (PARTITION BY cid) <= 4096),
       p AS (SELECT x.id AS id_a, y.id AS id_b, x.sim AS sim_a, y.sim AS sim_b
             FROM kept x JOIN kept y ON x.cid = y.cid AND x.id < y.id
             JOIN embeddings ex ON ex.vec_id = x.id
             JOIN embeddings ey ON ey.vec_id = y.id
             WHERE list_cosine_similarity(CAST(ex.embedding AS DOUBLE[]),
                       CAST(ey.embedding AS DOUBLE[])) >= 0.38),
       v AS (SELECT DISTINCT CASE WHEN sim_a > sim_b THEN id_a
                                  WHEN sim_b > sim_a THEN id_b
                                  ELSE greatest(id_a, id_b) END AS id FROM p)
       SELECT k.id AS vec_id, k.cid AS cluster_id,
              round(k.sim, 4) AS centroid_sim,
              v.id IS NOT NULL AS removed
       FROM kept k LEFT JOIN v ON k.id = v.id
       ORDER BY vec_id""",
)
def semantic_dedup_query(spark, sf_dir):
    """SemDeDup semantic deduplication (Abbas et al. 2023) over the
    embeddings table — deterministic exemplar clustering + within-
    cluster diversity-keep (operators/dedup.semantic_dedup; the
    embedding-dedup family's oracle row — the full keep rule is
    DuckDB-replayed step by step: exemplar choice, argmax assignment,
    pair threshold, dominance removal)."""
    from entity_linking_spark.operators.dedup import semantic_dedup

    # spread the single-split embeddings scan: the k-way literal cosine
    # folds and the within-cluster pair verify otherwise run on one core
    e = runtime.spread(_t(spark, sf_dir, "embeddings"))
    out = semantic_dedup(
        e, k=8, min_cosine=0.38, max_cluster_size=4096,
        cache_registry=_LIVE_CACHES,
    )
    return out.select(
        "vec_id", "cluster_id", "centroid_sim",
        (~F.col("keep")).alias("removed"),
    ).orderBy("vec_id")


@query(
    "j4_semi_anti_join",
    """SELECT 'semi' AS side, c_custkey FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       UNION ALL
       SELECT 'anti' AS side, c_custkey FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       ORDER BY side, c_custkey""",
)
def j4_semi_anti_join(spark, sf_dir):
    """J4: KB-subset semi join (main_dense.py:182-197) and its anti-join
    complement (P6/P7 exclusion shape, SURVEY §2.3 note), tagged by side.
    Merged into one gate slot (round 3) to free a slot for j5_bm25_topk."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.lit("semi").alias("side"), "c_custkey"
    )
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.lit("anti").alias("side"), "c_custkey"
    )
    return semi.unionByName(anti).orderBy("side", "c_custkey")


@query(
    "j8_link_count_join",
    """SELECT o.o_orderpriority AS priority, count(*) AS n_items
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       GROUP BY o.o_orderpriority ORDER BY priority""",
)
def j8_link_count_join(spark, sf_dir):
    """J8+A1: join then count per group (enrich_data.py:79-134)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_items"))
        .orderBy("priority")
    )


# ------------------------------------------------------------ aggregations

@query(
    "a1_a2_a3_group_count_distinct",
    """SELECT event_type, count(*) AS n FROM events
       GROUP BY event_type
       ORDER BY length(event_type) DESC, event_type""",
)
def a1_a2_a3_group_count_distinct(spark, sf_dir):
    """A1 hash-aggregate count (enrich_data.py:88-109) + A2/A3 distinct
    key set sorted longest-first (el_process.py:63-66) in one query —
    the groupBy IS the distinct, the count is A1's accumulator."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.length("event_type").desc(), F.col("event_type"))
    )


@query(
    "a4_collect_ids_per_key",
    """SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
       FROM events GROUP BY user_id ORDER BY user_id""",
)
def a4_collect_ids_per_key(spark, sf_dir):
    """A4: alias -> collect_set of ids (el_process.py:40-43), emitted as a
    sorted joined string so the hash is order-stable."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("types")
        )
        .orderBy("user_id")
    )


@query(
    "a5_rollup_recall",
    """SELECT coalesce(lang, 'ALL') AS lang_group,
              round(avg(n_chars), 4) AS avg_chars, count(*) AS n
       FROM documents GROUP BY ROLLUP(lang)
       ORDER BY lang_group""",
)
def a5_rollup_recall(spark, sf_dir):
    """A5: per-dataset + overall rollup (candidate_retrieval/evaluator.py:16-90)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.rollup("lang")
        .agg(F.round(F.avg("n_chars"), 4).alias("avg_chars"), F.count("*").alias("n"))
        .select(F.coalesce("lang", F.lit("ALL")).alias("lang_group"), "avg_chars", "n")
        .orderBy("lang_group")
    )


@query(
    "a6_cumulative_rank_curve",
    """WITH counts AS (
         SELECT label, count(*) AS n FROM embeddings GROUP BY label)
       SELECT label, n,
              CAST(sum(n) OVER (ORDER BY label ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       FROM counts ORDER BY label""",
)
def a6_cumulative_rank_curve(spark, sf_dir):
    """A6: recall@rank cumulative curve (evaluator.py:92-124)."""
    e = _t(spark, sf_dir, "embeddings")
    counts = e.groupBy("label").agg(F.count("*").alias("n"))
    # unpartitioned window is INTENTIONAL: the input is post-aggregation
    # (one row per label, bounded at any corpus scale), and the global
    # cumsum matches the reference's evaluator semantics — the WindowExec
    # "No Partition Defined" warning in bench logs is expected, not a
    # defect (all other Window sites in this package are partitioned)
    w = Window.orderBy("label").rowsBetween(Window.unboundedPreceding, 0)
    return counts.select("label", "n", F.sum("n").over(w).alias("cum")).orderBy("label")


@query(
    "a7_a8_a9_metric_counters",
    """SELECT * FROM
       (SELECT CAST(sum(CASE WHEN label <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_1,
               CAST(sum(CASE WHEN label <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS hits_4,
               CAST(sum(CASE WHEN label <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS hits_8,
               count(*) AS total,
               round(avg(CASE WHEN label <= 1 THEN 1.0 ELSE 0.0 END), 4) AS recall_1,
               round(avg(CASE WHEN label <= 4 THEN 1.0 ELSE 0.0 END), 4) AS recall_4,
               round(avg(CASE WHEN label <= 8 THEN 1.0 ELSE 0.0 END), 4) AS recall_8
        FROM embeddings)
       CROSS JOIN
       (WITH pairs AS (
          SELECT e1.label = e2.label AS is_match,
                 (e1.vec_id + e2.vec_id) % 3 = 0 AS pred
          FROM embeddings e1 JOIN embeddings e2 ON e1.vec_id < e2.vec_id
          WHERE e1.vec_id < 60 AND e2.vec_id < 60)
        SELECT CAST(sum(CASE WHEN pred AND is_match THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN pred AND NOT is_match THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN NOT pred AND is_match THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM pairs)""",
)
def a7_a8_a9_metric_counters(spark, sf_dir):
    """A7 hits@{1,4,8} counters (zeshel_utils.py:70-99) + A9 recall@k
    fractions (main_dense.py:455-475) + A8 pairwise TP/FP/FN counters on
    a deterministic synthetic predictor (el_main.py:303-306,665-670) —
    two single-row aggregates cross-joined into one gate row (round-5
    slot merge, the p5/p6 and f9/f13 move; both metric families keep
    full oracle coverage)."""
    e = _t(spark, sf_dir, "embeddings")
    hits = e.agg(
        F.sum((F.col("label") <= 1).cast("long")).alias("hits_1"),
        F.sum((F.col("label") <= 4).cast("long")).alias("hits_4"),
        F.sum((F.col("label") <= 8).cast("long")).alias("hits_8"),
        F.count("*").alias("total"),
        *[
            F.round(F.avg((F.col("label") <= k).cast("double")), 4).alias(f"recall_{k}")
            for k in (1, 4, 8)
        ],
    )
    sub = e.where(F.col("vec_id") < 60)
    e1 = sub.select(F.col("vec_id").alias("id1"), F.col("label").alias("l1"))
    e2 = sub.select(F.col("vec_id").alias("id2"), F.col("label").alias("l2"))
    pairs = (
        e1.join(e2, F.col("id1") < F.col("id2"))
        .withColumn("is_match", F.col("l1") == F.col("l2"))
        .withColumn("pred", (F.col("id1") + F.col("id2")) % 3 == 0)
    )
    f1 = pairs.agg(
        F.sum((F.col("pred") & F.col("is_match")).cast("long")).alias("tp"),
        F.sum((F.col("pred") & ~F.col("is_match")).cast("long")).alias("fp"),
        F.sum((~F.col("pred") & F.col("is_match")).cast("long")).alias("fn"),
    )
    return hits.crossJoin(f1)


# (a11_num_tokens retired round 5: text_analysis_suite already computes
# the identical whitespace num_tokens column — A11 keeps oracle coverage
# there; the freed slot holds the oracle-backed decontaminate_ngram)


@query(
    "q1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              round(avg(l_quantity), 4) AS avg_qty,
              count(*) AS count_order
       FROM lineitem GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""",
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: multi-agg hash aggregate (A10 analog)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------- windows

@query(
    "w1_topk_per_group",
    """SELECT o_custkey, o_orderkey, rn FROM (
         SELECT o_custkey, o_orderkey,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders) WHERE rn <= 3
       ORDER BY o_custkey, rn""",
)
def w1_topk_per_group(spark, sf_dir):
    """W1: per-mention top-k via row_number window (main_dense.py:253)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    )


# W3 (argsort-desc rank, main_dense.py:282-284) is covered by
# w2_w3_w5_window_sort_suite below — same rank() window, plus the collect.


@query(
    "w4_gold_position",
    """SELECT doc_id, list_position(string_split(text, ' '), 'join') AS gold_pos
       FROM documents WHERE doc_id < 100 ORDER BY doc_id""",
)
def w4_gold_position(spark, sf_dir):
    """W4: first index of gold candidate (evaluator.py:32-43)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.where(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.array_position(F.split(F.col("text"), " "), "join")
            .cast("int")
            .alias("gold_pos"),
        )
        .orderBy("doc_id")
    )


# W5+W6 (global order + limit pushdown, candidate_retrieval/utils.py:
# 294-301) merged into w2_w3_w5_window_sort_suite below (round 5, to
# free a gate slot for c4_line_clean — the same merge move as p5/p6,
# f18/f19 and the f7/f9/f13 scalar chain in earlier rounds).


# ----------------------------------------------------------------- set ops

@query(
    "so1_so2_so3_setops",
    """SELECT 'union' AS op, c_nationkey AS nationkey FROM customer
       UNION SELECT 'union', s_nationkey FROM supplier
       UNION ALL
       SELECT 'except', nationkey FROM (
         SELECT DISTINCT c_nationkey AS nationkey FROM customer
         EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
       UNION ALL
       SELECT 'intersect', nationkey FROM (
         SELECT DISTINCT c_nationkey AS nationkey FROM customer
         INTERSECT SELECT s_nationkey FROM supplier)
       ORDER BY op, nationkey""",
)
def so1_so2_so3_setops(spark, sf_dir):
    """SO1 union+dedup (el_process.py:37-61), SO2 set difference
    (el_preprocess.py:102-115), SO3 intersect/dedup — one tagged union of
    all three set operations."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    uni = c.union(s).distinct().select(F.lit("union").alias("op"), "nationkey")
    exc = (
        c.distinct()
        .exceptAll(s.distinct())
        .select(F.lit("except").alias("op"), "nationkey")
    )
    inter = c.intersect(s).select(F.lit("intersect").alias("op"), "nationkey")
    return uni.unionByName(exc).unionByName(inter).orderBy("op", "nationkey")


# ------------------------------------------------- scalar string/math fns

@query(
    "f7_f9_f10_f11_f12_f13_f16_scalar_chain",
    """WITH u AS (
         SELECT *, 'https://' || source || '.example.org/' || lang
                   || '/doc%20' || CAST(doc_id AS VARCHAR) AS wurl
         FROM documents)
       SELECT doc_id,
              substr(text, 1, 100) AS snippet,
              CAST(string_split('https://en.wikipedia.org/wiki?curid=' || CAST(doc_id AS VARCHAR), 'curid=')[-1] AS BIGINT) AS curid,
              string_split(wurl, '/')[3] AS host,
              replace(regexp_extract(wurl, '^[a-z]+://[^/]+(/.+)$', 1), '%20', ' ') AS link_path,
              array_to_string(list_filter(string_split(text, ' '), x -> x <> ''), ' ') AS joined,
              round(ln(1 + n_chars), 4) AS boost,
              array_to_string(string_split(text, ' ')[1:10], ' ') AS first_10,
              array_to_string(string_split(text, ' ')[-10:], ' ') AS last_10,
              strpos(text, 'join') AS pos
       FROM u WHERE doc_id < 200 ORDER BY doc_id""",
)
def f7_f9_f10_f11_f12_f13_f16_scalar_chain(spark, sf_dir):
    """Scalar-function chain, one projection row per doc:
    F7 description[:100] truncation (data_process_.py:196),
    F9 first/last N space-tokens of a context window
       (candidate_retrieval/utils.py:198-208) — merged in from the
       round-2 f9_f13 slot in round 5, freeing the slot that now holds
       the oracle-backed duplicated_span_removal,
    F10 idx.split('curid=')[-1] -> int (main_dense.py:130-135),
    F11 URL host parse + percent-unquote of the link path
        (process_wiki_extractor_output_links.py:53,86-88,104-114) — the
        normalized-URL-host blocking key; try_parse_url /
        try_url_decode run JVM-side (the try_ forms: a malformed crawl
        url must yield NULL, never kill the stage), the oracle replays
        them with split/replace,
    F12 join non-empty lines (data_ingestion.py:113-116),
    F13 first occurrence offset (text.index / locate,
        service_main.py:128),
    F16 log(1+num_incoming_links) boost (candidate_generators.py:127)."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://en.wikipedia.org/wiki?curid="), F.col("doc_id"))
    wurl = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/"),
        F.col("lang"),
        F.lit("/doc%20"),
        F.col("doc_id"),
    )
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    last10 = F.slice(toks, F.greatest(n - 9, F.lit(1)), 10)
    return (
        d.where(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.substring("text", 1, 100).alias("snippet"),
            F.element_at(F.split(url, "curid="), -1).cast("long").alias("curid"),
            F.try_parse_url(wurl, F.lit("HOST")).alias("host"),
            F.try_url_decode(F.try_parse_url(wurl, F.lit("PATH"))).alias("link_path"),
            F.concat_ws(
                " ", F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            ).alias("joined"),
            F.round(F.log1p(F.col("n_chars")), 4).alias("boost"),
            F.concat_ws(" ", F.slice(toks, 1, 10)).alias("first_10"),
            F.concat_ws(" ", last10).alias("last_10"),
            F.locate("join", F.col("text")).alias("pos"),
        )
        .orderBy("doc_id")
    )


@query(
    "f18_f19_softmax_argmax",
    """SELECT event_id,
              round(exp(value / 100) / sum(exp(value / 100)) OVER (PARTITION BY event_type), 4) AS prob,
              arg_max(event_type, value || '-' || CAST(event_id AS VARCHAR))
                  OVER (PARTITION BY user_id) AS best_type
       FROM events ORDER BY event_id LIMIT 300""",
)
def f18_f19_softmax_argmax(spark, sf_dir):
    """F18 softmax over a candidate group (el_main.py:645-646) + F19
    argmax of score (el_main.py:361-362) in one slot (round-4 merge,
    freeing a registry slot for pii_scrub — the 50-entry gate window is
    a hard budget). Deterministic argmax tiebreak via the
    value||'-'||event_id composite; the windowed struct-max is exactly
    arg_max because event_id makes the composite unique per row."""
    e = _t(spark, sf_dir, "events")
    w_soft = Window.partitionBy("event_type")
    w_best = Window.partitionBy("user_id")
    x = F.exp(F.col("value") / 100)
    key = F.concat_ws("-", F.col("value").cast("string"), F.col("event_id"))
    best = F.max(F.struct(key.alias("k"), F.col("event_type"))).over(w_best)
    return (
        e.select(
            "event_id",
            F.round(x / F.sum(x).over(w_soft), 4).alias("prob"),
            best.getField("event_type").alias("best_type"),
        )
        .orderBy("event_id")
        .limit(300)
    )


# ----------------------------------------------- seeded sampling analogs

@query(
    "r1_r2_sampling_hash_split",
    """WITH g AS (SELECT doc_id AS gold_id FROM documents WHERE doc_id < 30),
       c AS (SELECT doc_id AS cand_id FROM documents WHERE doc_id < 100),
       x AS (SELECT gold_id, cand_id,
                    row_number() OVER (
                      PARTITION BY gold_id
                      ORDER BY md5(CAST(gold_id AS VARCHAR) || '|' || CAST(cand_id AS VARCHAR)),
                               cand_id) AS rn
             FROM g CROSS JOIN c WHERE cand_id <> gold_id)
       SELECT gold_id, cand_id, rn,
              CASE WHEN md5(CAST(cand_id AS VARCHAR)) < '8'
                   THEN 'train' ELSE 'test' END AS split
       FROM x WHERE rn <= 2
       ORDER BY gold_id, rn""",
)
def r1_r2_sampling_hash_split(spark, sf_dir):
    """R1 + R2 merged (round 5, freeing a slot for the oracle-backed
    url_canonicalize_dedup): seeded negative sampling — per gold id
    pick 2 non-gold candidates by deterministic hash order
    (el_preprocess.py:104-121, random.sample seed=123 -> engine-neutral
    md5 ordering + row_number window) — COMPOSED with the R2
    deterministic hash split (el_preprocess.py:302-314): each sampled
    pair lands in train/test by the same md5-threshold rule the
    standalone r2 row used, so both op families stay fully exercised
    in one slot."""
    golds = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 30)
        .select(F.col("doc_id").alias("gold_id"))
    )
    cands = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 100)
        .select(F.col("doc_id").alias("cand_id"))
    )
    w = Window.partitionBy("gold_id").orderBy(
        F.md5(
            F.concat(
                F.col("gold_id").cast("string"),
                F.lit("|"),
                F.col("cand_id").cast("string"),
            )
        ),
        "cand_id",
    )
    split = F.when(
        F.md5(F.col("cand_id").cast("string")) < "8", F.lit("train")
    ).otherwise(F.lit("test"))
    return (
        golds.crossJoin(cands)
        .where(F.col("cand_id") != F.col("gold_id"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("gold_id", "cand_id", "rn", split.alias("split"))
        .orderBy("gold_id", "rn")
    )


# ----------------------------------- training-data ops (dedup / text / ann)

@query(
    "dedup_exact_keep_first",
    """SELECT md5(text) AS text_hash, min(doc_id) AS keeper, count(*) AS n_copies
       FROM documents GROUP BY md5(text) ORDER BY text_hash""",
)
def dedup_exact_keep_first(spark, sf_dir):
    """Exact dedup: hash-groupBy, keep first (training-data op)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies"))
        .orderBy("text_hash")
    )


@query(
    "text_analysis_suite",
    None,  # oracle attached below — built from the SAME marker table as
    # the Spark side (functions/text.LANG_MARKERS), so the two cannot drift
)
def text_analysis_suite(spark, sf_dir):
    """Text-analysis suite, one pass per doc (training-data ops +
    SURVEY A11 — this row is A11's sole gate coverage since round 5
    retired the duplicate a11_num_tokens slot): whitespace token count
    (A11,
    process_wiki_extractor_output_full.py:71-72), BPE-ish regex token
    count, avg word length + stopword ratio (quality scoring), CJK/Latin
    script guess, stopword-profile language ID (the unigram n-gram-
    profile identifier, functions/text.lang_id — argmax of marker-word
    hits across six latin-script languages, 'und' on zero hits), and an
    order-insensitive content fingerprint (md5 of sorted distinct
    tokens) for dedup."""
    from entity_linking_spark.functions.text import lang_id

    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stop = F.filter(words, lambda x: x.isin("the", "a", "and", "on", "of"))
    cjk = F.size(F.regexp_extract_all(F.col("text"), F.lit("[一-鿿]"), 0))
    latin = F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-zA-Z]"), 0))
    return (
        d.where(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.size(words).alias("num_tokens"),
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0)).alias(
                "n_word_tokens"
            ),
            F.round(F.col("n_chars").cast("double") / F.size(words), 4).alias(
                "avg_word_len"
            ),
            F.round(F.size(stop).cast("double") / F.size(words), 4).alias(
                "stopword_ratio"
            ),
            F.when(cjk * 2 > latin, F.lit("cjk"))
            .otherwise(F.lit("latin"))
            .alias("script_guess"),
            lang_id(F.col("text")).alias("lang_id"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.array_sort(
                        F.array_distinct(F.split(F.lower(F.col("text")), " "))
                    ),
                )
            ).alias("fingerprint"),
        )
        .orderBy("doc_id")
    )


def _text_suite_oracle() -> str:
    """DuckDB twin of text_analysis_suite, with the lang-id marker lists
    interpolated from functions/text.LANG_MARKERS (single source of
    truth). Tie-break parity: Spark's array_max over (n, lang) structs
    picks the lexicographically LATER lang code on equal counts, so the
    CASE probes codes in descending order."""
    from entity_linking_spark.functions.text import LANG_MARKERS

    counts = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        inlist = ", ".join("'" + w.replace("'", "''") + "'" for w in markers)
        # regexp_split on \s+ to mirror lang_id's tokenization exactly
        # (the rest of the suite splits on ' '; a tab/newline in a future
        # corpus must not diverge THIS column's two sides)
        counts.append(
            f"len(list_filter(regexp_split_to_array(lower(text), '\\s+'), "
            f"t -> t IN ({inlist}))) AS c_{lang}"
        )
    langs_desc = sorted(LANG_MARKERS, reverse=True)
    mx = "greatest(" + ", ".join(f"c_{lang}" for lang in sorted(LANG_MARKERS)) + ")"
    # coalesce: a NULL text makes every count NULL -> Spark's lang_id
    # emits 'und' (null-false predicate), so the oracle must too rather
    # than falling through the CASE to the last ELSE language
    case = "CASE WHEN " + f"coalesce({mx}, 0) = 0 THEN 'und' " + " ".join(
        f"WHEN c_{lang} = {mx} THEN '{lang}'" for lang in langs_desc[:-1]
    ) + f" ELSE '{langs_desc[-1]}' END"
    return f"""
WITH c AS (SELECT *, {", ".join(counts)} FROM documents)
SELECT doc_id,
       len(string_split(text, ' ')) AS num_tokens,
       len(regexp_extract_all(text, '[a-z0-9]+')) AS n_word_tokens,
       round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_word_len,
       round(CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','and','on','of'))) AS DOUBLE)
             / len(string_split(text, ' ')), 4) AS stopword_ratio,
       CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) * 2 > len(regexp_extract_all(text, '[a-zA-Z]'))
            THEN 'cjk' ELSE 'latin' END AS script_guess,
       {case} AS lang_id,
       md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint
FROM c WHERE doc_id < 200 ORDER BY doc_id
"""


_ORACLES["text_analysis_suite"] = _text_suite_oracle()


# PII oracle: the corpus has no organic PII, so both sides inject the
# SAME deterministic spans (doc_id-derived email / IPv4 / phone / URL
# credentials) before scrubbing — the regex chains then do real work on
# every residue class. Patterns live in functions/text.py and are written
# in the Java∩RE2 common subset (no lookaround, no \x0B-sensitive \s
# inputs) precisely so this DuckDB twin replays them verbatim; only the
# backreference spelling differs ($1 vs \1).
_PII_ORACLE = r"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || '.' || CAST((doc_id * 13) % 256 AS VARCHAR) ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' call +1 (555) 010-' || CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' see http://u' || CAST(doc_id AS VARCHAR) || ':secret@host.net/x' ELSE '' END
         AS t
  FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
           '(?i)(https?://)[^/\s:@]+:[^/\s:@]+@', '\1[CREDS]@', 'g'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           '\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\b', '[IP]', 'g'),
           '\+?[0-9][0-9()\-\s]{7,}[0-9]', '[PHONE]', 'g') AS redacted,
       len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
       + len(regexp_extract_all(t, '\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\b'))
       + len(regexp_extract_all(t, '\+?[0-9][0-9()\-\s]{7,}[0-9]')) AS pii_hits
FROM aug ORDER BY doc_id
"""


@query("pii_scrub", _PII_ORACLE)
def pii_scrub(spark, sf_dir):
    """PII scrubbing pass of a corpus-curation job: typed-placeholder
    redaction + per-doc hit count (the drop/keep risk signal). Pure
    regexp_replace Column chains (functions/text.py:249,261) — JVM
    whole-stage codegen, no Python in the hot path."""
    from entity_linking_spark.functions.text import pii_hit_count, redact_pii

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    aug = F.concat(
        F.col("text"),
        F.when(did % 3 == 0,
               F.concat(F.lit(" contact user"), s(did), F.lit("@example.com"))
               ).otherwise(F.lit("")),
        F.when(did % 4 == 0,
               F.concat(F.lit(" from 10."), s(did % 256), F.lit("."),
                        s((did * 7) % 256), F.lit("."), s((did * 13) % 256))
               ).otherwise(F.lit("")),
        F.when(did % 5 == 0,
               F.concat(F.lit(" call +1 (555) 010-"), s(did % 9000 + 1000))
               ).otherwise(F.lit("")),
        F.when(did % 7 == 0,
               F.concat(F.lit(" see http://u"), s(did), F.lit(":secret@host.net/x"))
               ).otherwise(F.lit("")),
    )
    return (
        d.select(
            "doc_id",
            redact_pii(aug).alias("redacted"),
            pii_hit_count(aug).cast("long").alias("pii_hits"),
        )
        .orderBy("doc_id")
    )


@query(
    "ngram_jaccard_similarity",
    """WITH grams AS (
         SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
         FROM documents WHERE doc_id < 40)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
       FROM grams a JOIN grams b ON a.doc_id < b.doc_id
       ORDER BY id_a, id_b""",
)
def ngram_jaccard_similarity(spark, sf_dir):
    """n-gram Jaccard near-dup scoring over a bounded window of docs."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    g = d.select("doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("toks"))
    a = g.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    b = g.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = F.size(F.array_distinct(F.concat("toks_a", "toks_b")))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(inter / union, 4).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


# Gopher-repetition oracle: replays operators/quality.repetition_signals
# from first principles — gram identity is the combined 31/131 poly
# window hash packed as h31*p + h131, EXACTLY as the operator computes
# it (same replay recipe as the decontamination and duplicated-span
# oracles), then per-doc hash counts for the top-n signals and the
# duplicated-5-gram token coverage via the same gaps-and-islands window
# recipe the duplicated_span_removal oracle uses. Full windows only
# (pos + 5 <= n_tokens by construction), so no clamp. The {f31}/{f131}
# placeholders are _poly_fold_sql over the gram string.
_GOPHER_ORACLE_TMPL = """
WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS lt FROM documents),
b AS (SELECT doc_id, len(lt) AS n_tokens, lt FROM tk),
g2 AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(lt) - 1),
                                    i -> array_to_string(lt[i:i + 1], ' '))) AS gram
       FROM b),
h2 AS (SELECT doc_id, {f31} * 1000000007 + {f131} AS gh FROM g2),
t2 AS (SELECT doc_id, max(c) AS top2_count
       FROM (SELECT doc_id, gh, count(*) AS c FROM h2 GROUP BY 1, 2)
       GROUP BY doc_id),
g3 AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(lt) - 2),
                                    i -> array_to_string(lt[i:i + 2], ' '))) AS gram
       FROM b),
h3 AS (SELECT doc_id, {f31} * 1000000007 + {f131} AS gh FROM g3),
t3 AS (SELECT doc_id, max(c) AS top3_count
       FROM (SELECT doc_id, gh, count(*) AS c FROM h3 GROUP BY 1, 2)
       GROUP BY doc_id),
g5 AS (SELECT doc_id,
              unnest(generate_series(1, len(lt) - 4)) - 1 AS pos,
              unnest(list_transform(generate_series(1, len(lt) - 4),
                                    i -> array_to_string(lt[i:i + 4], ' '))) AS gram
       FROM b),
h5 AS (SELECT doc_id, pos, {f31} * 1000000007 + {f131} AS gh FROM g5),
dk AS (SELECT doc_id, gh FROM h5 GROUP BY 1, 2 HAVING count(*) >= 2),
dp AS (SELECT h5.doc_id, pos FROM h5 JOIN dk USING (doc_id, gh)),
isl AS (SELECT doc_id, pos,
               max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM dp),
grp AS (SELECT doc_id, pos,
               sum(CASE WHEN prev_end IS NULL OR pos > prev_end
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM isl),
cov AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS covered
        FROM (SELECT doc_id, g, min(pos) AS s, max(pos) + 5 AS e
              FROM grp GROUP BY doc_id, g)
        GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
       coalesce(t2.top2_count, 0) AS top2_count,
       coalesce(t3.top3_count, 0) AS top3_count,
       coalesce(cov.covered, 0) AS dup5_covered_tokens
FROM b
LEFT JOIN t2 USING (doc_id)
LEFT JOIN t3 USING (doc_id)
LEFT JOIN cov USING (doc_id)
ORDER BY doc_id
"""


def _poly_fold_sql(expr: str, mul: int) -> str:
    """DuckDB replay of functions/text._poly_hash(s, mul): list_reduce
    seeds the accumulator with the first codepoint then folds
    (a*mul + cp) mod 1e9+7; '' hashes to 0 (same guard as the rolling
    fingerprint oracle)."""
    return (
        f"CASE WHEN {expr} = '' THEN 0 ELSE list_reduce("
        f"list_transform(string_split({expr}, ''), "
        "c -> CAST(unicode(c) AS BIGINT)), "
        f"(a, x) -> (a * {mul} + x) % 1000000007) END"
    )


_GOPHER_ORACLE = _GOPHER_ORACLE_TMPL.format(
    f31=_poly_fold_sql("gram", 31), f131=_poly_fold_sql("gram", 131)
)


# Decontamination oracle: replays the combined window hash exactly as
# the duplicated_span_removal oracle does (same _poly_fold_sql packing),
# with window=13 (the GPT-3 overlap width) and the deterministic
# benchmark slice doc_id % 41 = 0. Short docs (<= 13 tokens) emit one
# whole-doc window, matching window_hash_positions.
_DECON_WINDOW = 13
_DECON_ORACLE = f"""
WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS lt FROM documents),
w AS (SELECT doc_id,
             CASE WHEN len(lt) <= {_DECON_WINDOW}
                  THEN [array_to_string(lt, ' ')]
                  ELSE list_transform(
                         generate_series(1, len(lt) - {_DECON_WINDOW - 1}),
                         i -> array_to_string(lt[i:i + {_DECON_WINDOW - 1}], ' '))
             END AS ws
      FROM tk),
w2 AS (SELECT doc_id,
              list_transform(ws, s -> {{f31}} * 1000000007 + {{f131}}) AS whs
       FROM w),
wh AS (SELECT doc_id, unnest(whs) AS whash FROM w2),
bset AS (SELECT DISTINCT whash FROM wh WHERE doc_id % 41 = 0),
hits AS (SELECT doc_id, count(*) AS n FROM wh
         WHERE whash IN (SELECT whash FROM bset) GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(h.n, 0) AS n_contaminated_windows,
       coalesce(h.n, 0) > 0 AS is_contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
ORDER BY d.doc_id
"""


@query(
    "decontaminate_ngram",
    _DECON_ORACLE.format(
        f31=_poly_fold_sql("s", 31), f131=_poly_fold_sql("s", 131)
    ),
)
def decontaminate_ngram(spark, sf_dir):
    """Beyond-reference D8: benchmark decontamination (GPT-3 / Gopher
    style 13-gram overlap, operators/quality.py::decontaminate) — the
    deterministic benchmark slice doc_id % 41 = 0 against the whole
    documents corpus; flags every doc sharing a 13-token window with
    the benchmark (benchmark members flag themselves by construction).
    The corpus side is one hash pass probed against the broadcast
    benchmark hash set — never shuffled."""
    from entity_linking_spark.operators.quality import decontaminate

    d = runtime.spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    bench = d.where(F.col("doc_id") % 41 == 0).select("text")
    return (
        decontaminate(d, bench, window=_DECON_WINDOW)
        .select("doc_id", "n_contaminated_windows", "is_contaminated")
        .orderBy("doc_id")
    )


@query("gopher_repetition_signals", _GOPHER_ORACLE)
def gopher_repetition_signals(spark, sf_dir):
    """Beyond-reference D7: the Gopher repetition-signal family (Rae et
    al. 2021 Table A1) over the documents table — most-frequent 2-/3-
    gram occurrence counts and overlap-merged token coverage of
    within-doc duplicated 5-grams (operators/quality.py). The gate row
    reports the exact-integer signal columns; the library operator also
    emits the derived fractions (single divisions, engine-neutral)."""
    from entity_linking_spark.operators.quality import repetition_signals

    d = runtime.spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return (
        repetition_signals(d)
        .select(
            "doc_id", "n_tokens", "top2_count", "top3_count",
            "dup5_covered_tokens",
        )
        .orderBy("doc_id")
    )


# Gopher quality-rule oracle: plants a bullet line (%7), an
# ellipsis-terminated line (%11) and symbol noise (%13) on BOTH sides,
# then replays operators/quality.gopher_quality_signals' seven rules
# from first principles. Every signal is an exact-integer count or one
# division of exact integers, so the doubles are bit-identical across
# engines. Word = single-space split; line = trimmed newline split.
_GOPHER_QUALITY_ORACLE = """
WITH fg AS (SELECT doc_id,
         text
         || (CASE WHEN doc_id % 7 = 0
                  THEN chr(10) || '• planted bullet line' ELSE '' END)
         || (CASE WHEN doc_id % 11 = 0
                  THEN chr(10) || 'this planted line trails off...' ELSE '' END)
         || (CASE WHEN doc_id % 13 = 0
                  THEN chr(10) || '## planted # symbols #' ELSE '' END) AS text
       FROM documents),
w AS (SELECT doc_id, text,
             string_split(text, ' ') AS words,
             list_transform(string_split(text, chr(10)),
                            l -> trim(l)) AS lines
      FROM fg),
sg AS (SELECT doc_id,
         len(words) AS n_words,
         CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE)
             / len(words) AS mean_word_len,
         CAST(len(regexp_extract_all(text, '#|…|\\.\\.\\.')) AS DOUBLE)
             / len(words) AS symbol_word_ratio,
         CAST(len(list_filter(lines, l ->
                 starts_with(l, '•') OR starts_with(l, '‣')
                 OR starts_with(l, '▶') OR starts_with(l, '◦')
                 OR starts_with(l, '·') OR starts_with(l, '-')
                 OR starts_with(l, '*'))) AS DOUBLE)
             / len(lines) AS bullet_line_frac,
         CAST(len(list_filter(lines, l ->
                 ends_with(l, '…') OR ends_with(l, '...'))) AS DOUBLE)
             / len(lines) AS ellipsis_line_frac,
         CAST(len(list_filter(words, x ->
                 regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
             / len(words) AS alpha_word_frac,
         CAST(list_contains(list_transform(words, x -> lower(x)), 'the') AS INT)
         + CAST(list_contains(list_transform(words, x -> lower(x)), 'be') AS INT)
         + CAST(list_contains(list_transform(words, x -> lower(x)), 'to') AS INT)
         + CAST(list_contains(list_transform(words, x -> lower(x)), 'of') AS INT)
         + CAST(list_contains(list_transform(words, x -> lower(x)), 'and') AS INT)
         + CAST(list_contains(list_transform(words, x -> lower(x)), 'that') AS INT)
         + CAST(list_contains(list_transform(words, x -> lower(x)), 'have') AS INT)
         + CAST(list_contains(list_transform(words, x -> lower(x)), 'with') AS INT)
             AS n_stop_hits
       FROM w)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
       bullet_line_frac, ellipsis_line_frac, alpha_word_frac, n_stop_hits,
       NOT (n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND symbol_word_ratio <= 0.1
            AND bullet_line_frac <= 0.9
            AND ellipsis_line_frac <= 0.3
            AND alpha_word_frac >= 0.8
            AND n_stop_hits >= 2) AS is_quality_dropped
FROM sg ORDER BY doc_id
"""


@query("gopher_quality_signals", _GOPHER_QUALITY_ORACLE)
def gopher_quality_signals_gate(spark, sf_dir):
    """Beyond-reference D10: the NON-repetition half of the Gopher
    quality rules (Rae et al. 2021 Table A1,
    operators/quality.gopher_quality_signals) — word-count bounds, mean
    word length, symbol-to-word ratio, bullet/ellipsis line fractions,
    alpha-word fraction, required stop words. Bullet / ellipsis /
    symbol lines are planted deterministically from doc_id on both
    sides (the documents table is single-line prose); the DuckDB twin
    replays forge and all seven rules from first principles."""
    from entity_linking_spark.operators.quality import gopher_quality_signals

    did = F.col("doc_id")

    def plant(cond, s):
        return F.when(cond, F.lit("\n" + s)).otherwise(F.lit(""))

    d = runtime.spread(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.concat(
            F.col("text"),
            plant(did % 7 == 0, "• planted bullet line"),
            plant(did % 11 == 0, "this planted line trails off..."),
            plant(did % 13 == 0, "## planted # symbols #"),
        ).alias("text"),
    )
    return (
        gopher_quality_signals(d)
        .select(
            "doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
            "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
            "n_stop_hits", "is_quality_dropped",
        )
        .orderBy("doc_id")
    )


# URL-canonicalization oracle: injects the SAME deterministic messy-URL
# forge on both sides (the pii_scrub precedent — the corpus carries no
# URL column, so the fixture is synthesized inside the query), then
# replays functions/web.canonical_url step by step. Every regexp here
# is single-match-by-anchor, so Spark's replace-all regexp_replace and
# DuckDB's replace-first agree by construction.
_URL_ORACLE = """
WITH raw AS (SELECT doc_id,
         'HTTPS://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
         || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
         || '/Path/' || CAST(doc_id % 97 AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
         || '?b=2&utm_source=feed&a=' || CAST(doc_id % 2 AS VARCHAR)
         || CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END AS url
       FROM documents),
parts AS (SELECT doc_id,
         lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS auth0,
         regexp_replace(regexp_extract(url,
             '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
         regexp_extract(regexp_replace(url, '#.*$', ''), '\\?([^#]*)', 1) AS rawq
       FROM raw),
auth AS (SELECT doc_id, scheme, path, rawq,
         CASE WHEN scheme = 'https'
                THEN regexp_replace(regexp_replace(auth0, '^www\\.', ''), ':443$', '')
              WHEN scheme = 'http'
                THEN regexp_replace(regexp_replace(auth0, '^www\\.', ''), ':80$', '')
              ELSE regexp_replace(auth0, '^www\\.', '') END AS host
       FROM parts),
canon AS (SELECT doc_id,
         scheme || '://' || host || path ||
         CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url
       FROM (SELECT doc_id, scheme, host, path,
                    array_to_string(list_sort(list_filter(
                        string_split(rawq, '&'),
                        p -> p <> ''
                             AND NOT starts_with(split_part(p, '=', 1), 'utm_')
                             AND split_part(p, '=', 1)
                                 NOT IN ('fbclid', 'gclid', 'msclkid', 'ref')
                    )), '&') AS q
             FROM auth))
SELECT canonical_url, count(*) AS n_docs, min(doc_id) AS first_doc
FROM canon GROUP BY canonical_url ORDER BY canonical_url
"""


@query("url_canonicalize_dedup", _URL_ORACLE)
def url_canonicalize_dedup(spark, sf_dir):
    """Beyond-reference U1: URL canonicalization (RFC 3986 §6 safe
    subset + crawl conventions — case folding, default ports, www,
    trailing slash, fragment, tracking params, sorted query) followed
    by dedup-by-canonical-URL (functions/web.py). Messy URL variants
    are forged deterministically from doc_id on both sides; the DuckDB
    twin replays the canonicalization from first principles with the
    identical RE2-safe regexes."""
    from entity_linking_spark.functions.web import canonical_url

    s = lambda c: c.cast("string")  # noqa: E731
    did = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://WWW.Site"), s(did % 7), F.lit(".COM"),
        F.when(did % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Path/"), s(did % 97),
        F.when(did % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?b=2&utm_source=feed&a="), s(did % 2),
        F.when(did % 2 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    # spread before the regex-dense canonicalization: the corpus scan is
    # a single split at bench scale, and the whole regex chain (6
    # regexp ops + array filter/sort per row) otherwise runs on ONE core
    # (measured 8.8 s single-task CPU); no-op once the scan has >= cores
    # splits
    d = runtime.spread(_t(spark, sf_dir, "documents").select("doc_id")).select(
        "doc_id", url.alias("url")
    )
    return (
        d.select("doc_id", canonical_url("url").alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("canonical_url")
    )


# C4 line-clean oracle: forges multi-line pages deterministically from
# the documents table on BOTH sides (10-token chunks; terminal '.' on
# every (doc_id+i)%3==0 chunk; planted javascript / lorem-ipsum /
# curly-brace lines on the %5 / %17 / %23 residues), then replays
# operators/quality.c4_line_clean's line and page rules from first
# principles. Word counts split on single spaces on both engines.
_C4_ORACLE = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS lt FROM documents),
ch AS (SELECT doc_id,
              list_transform(
                  generate_series(0, CAST(ceil(len(lt) / 10.0) AS BIGINT) - 1),
                  i -> array_to_string(lt[i*10+1 : i*10+10], ' ')
                       || CASE WHEN (doc_id + i) % 3 = 0 THEN '.' ELSE '' END
              ) AS lines0
       FROM tk),
pl AS (SELECT doc_id,
              lines0
              || (CASE WHEN doc_id % 5 = 0
                       THEN ['Please enable javascript to continue reading.']
                       ELSE [] END)
              || (CASE WHEN doc_id % 17 = 0
                       THEN ['Lorem Ipsum dolor sit amet boilerplate.']
                       ELSE [] END)
              || (CASE WHEN doc_id % 23 = 0
                       THEN ['function() { return 1; }'] ELSE [] END) AS lines
       FROM ch),
fg AS (SELECT doc_id, array_to_string(lines, chr(10)) AS forged FROM pl),
ln AS (SELECT doc_id, forged,
              list_transform(string_split(forged, chr(10)),
                             l -> trim(l)) AS lines
       FROM fg),
kp AS (SELECT doc_id, forged, len(lines) AS n_lines,
              list_filter(lines, l ->
                  len(string_split(l, ' ')) >= 5
                  AND right(l, 1) IN ('.', '!', '?', '"')
                  AND NOT contains(lower(l), 'javascript')) AS kept
       FROM ln)
SELECT doc_id, n_lines, len(kept) AS n_lines_kept,
       -- DuckDB's array_to_string is NULL on an empty list where
       -- Spark's array_join is '' — coalesce to Spark's convention
       coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
       (contains(lower(forged), 'lorem ipsum')
        OR contains(lower(forged), '{')
        OR len(kept) < 3) AS is_page_dropped
FROM kp ORDER BY doc_id
"""


@query("c4_line_clean", _C4_ORACLE)
def c4_line_clean_gate(spark, sf_dir):
    """Beyond-reference D9: C4-style line-level cleaning (Raffel et al.
    2020 §2.2, operators/quality.c4_line_clean) — terminal-punctuation
    / min-words / javascript line rules plus lorem-ipsum / curly-brace
    / min-kept-lines page rules. Multi-line pages are forged
    deterministically from doc_id on both sides (the documents table is
    single-line); the DuckDB twin replays forge and rules from first
    principles."""
    from entity_linking_spark.operators.quality import c4_line_clean

    did = F.col("doc_id")
    toks = F.split(F.col("text"), " ")
    nch = F.ceil(F.size(toks) / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.concat(
            F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
            F.when((did + i) % 3 == 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )

    def plant(cond, s):
        return F.when(cond, F.array(F.lit(s))).otherwise(
            F.array().cast("array<string>")
        )

    lines = F.concat(
        chunks,
        plant(did % 5 == 0, "Please enable javascript to continue reading."),
        plant(did % 17 == 0, "Lorem Ipsum dolor sit amet boilerplate."),
        plant(did % 23 == 0, "function() { return 1; }"),
    )
    d = runtime.spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.array_join(lines, "\n").alias("text")
    )
    return (
        c4_line_clean(d)
        .select(
            "doc_id", "n_lines", "n_lines_kept", "clean_text",
            "is_page_dropped",
        )
        .orderBy("doc_id")
    )


# LM-perplexity oracle: replays operators/lm.py end to end — train the
# pruned interpolated add-1 bigram LM (vocab top-512 by count, tie-break
# token ASC; bigrams top-2048, tie-break (prev, cur) ASC; every OOV
# token folds to '<unk>') on the documents corpus, then score every
# document: p(first) = P1, p(rest) = 0.75*P2 + 0.25*P1 with
# P1 = (c1+1)/(N+V'), P2 = (c2+1)/(c1_prev+V'), ppl = exp(mean(-ln p)).
# All inputs to every division are exact integers (counts < 2^53), so
# both engines divide identical doubles; ln/exp agree to ~1 ulp and the
# round-4 output absorbs it (the softmax/cosine rows' precedent).
_LM_PPL_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS arr FROM documents),
pairs AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(arr)),
                i -> {'cur': arr[i], 'prev': CASE WHEN i > 1 THEN arr[i-1] END})) AS pc
  FROM toks),
p AS (SELECT doc_id, pc.cur AS cur, pc.prev AS prev FROM pairs),
vocab AS (
  SELECT cur AS token FROM p WHERE cur <> '<unk>'
  GROUP BY cur ORDER BY count(*) DESC, cur LIMIT 512),
pm AS (
  SELECT doc_id,
         CASE WHEN cur IN (SELECT token FROM vocab) THEN cur ELSE '<unk>' END AS cur_m,
         CASE WHEN prev IS NULL THEN NULL
              WHEN prev IN (SELECT token FROM vocab) THEN prev ELSE '<unk>' END AS prev_m
  FROM p),
uni AS (SELECT cur_m AS token, count(*) AS c1 FROM pm GROUP BY cur_m),
bi AS (SELECT prev_m AS prev, cur_m AS cur, count(*) AS c2 FROM pm
       WHERE prev_m IS NOT NULL GROUP BY prev_m, cur_m
       ORDER BY count(*) DESC, prev_m, cur_m LIMIT 2048),
tot AS (SELECT CAST((SELECT sum(c1) FROM uni) AS BIGINT) AS n_tokens,
               (SELECT count(*) FROM vocab) + 1 AS v_eff),
sc AS (
  SELECT pm.doc_id,
         CASE WHEN pm.prev_m IS NULL
              THEN (coalesce(uc.c1, 0) + 1.0) / (tot.n_tokens + 1.0 * tot.v_eff)
              ELSE 0.75 * ((coalesce(b.c2, 0) + 1.0)
                           / (coalesce(up.c1, 0) + 1.0 * tot.v_eff))
                   + 0.25 * ((coalesce(uc.c1, 0) + 1.0)
                             / (tot.n_tokens + 1.0 * tot.v_eff))
         END AS prob
  FROM pm
  LEFT JOIN uni uc ON uc.token = pm.cur_m
  LEFT JOIN uni up ON up.token = pm.prev_m
  LEFT JOIN bi b ON b.prev = pm.prev_m AND b.cur = pm.cur_m
  CROSS JOIN tot),
scored AS (
  SELECT doc_id, count(*) AS n_toks, round(exp(avg(-ln(prob))), 4) AS ppl
  FROM sc GROUP BY doc_id),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY ppl, doc_id) AS rn,
         count(*) OVER () AS cnt
  FROM scored)
SELECT doc_id, n_toks, ppl,
       CASE WHEN rn <= CAST(floor(cnt * 0.25) AS BIGINT) THEN 'head'
            WHEN rn <= CAST(floor(cnt * 0.75) AS BIGINT) THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked ORDER BY doc_id
"""


@query("lm_perplexity", _LM_PPL_ORACLE)
def lm_perplexity(spark, sf_dir):
    """Beyond-reference D14: the full CCNet quality pass (Wenzek et al.
    2020, operators/lm.py) — train the pruned interpolated add-1
    bigram LM on the documents corpus (vocab 512 / bigrams 2048, small
    caps so the gate genuinely exercises the <unk> fold and the
    count-pruned-bigram backoff), score every document, and assign
    CCNet's head/middle/tail buckets by exact global perplexity rank
    (head 25% / middle 50% — exactly-representable fractions so both
    engines floor identical doubles; ties broken on (ppl, doc_id)).
    Report (doc_id, n_toks, ppl, bucket). The scoring plan broadcasts
    the bounded model tables; the bucket rank is the two-pass
    prefix-sum global rank of ``runtime.global_offsets`` (never a
    one-task global window — the oracle's row_number() OVER
    (ORDER BY ...) is exactly the plan shape the Spark side is built to
    avoid). Building the next query releases the pinned scores, maybe
    before this query's action runs; the rank's offsets are keyed on
    data, so that changes no bucket."""
    from entity_linking_spark.operators.lm import (
        perplexity_buckets,
        train_bigram_lm,
    )

    d = runtime.spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    lm = train_bigram_lm(d, vocab_size=512, bigram_size=2048)
    return perplexity_buckets(
        d, lm, head_frac=0.25, middle_frac=0.5, cache_registry=_LIVE_CACHES
    ).orderBy("doc_id")


# NB-quality-classifier oracle: replays operators/classify.py end to
# end — train the pruned multinomial NB model (vocab top-256 by count,
# tie-break token ASC; OOV -> '<unk>'; deterministic labels
# doc_id % 3 = 0 so both classes are always non-empty) on the
# documents corpus, then score every document:
#   llr(w) = ln((c_pos+1)/(n_pos+V')) - ln((c_neg+1)/(n_neg+V'))
#   log_odds = ln(d_pos/d_neg) + sum(llr), mean_llr = avg(llr).
# Every division's inputs are exact integers (counts < 2^53), so both
# engines divide identical doubles; ln agrees to ~1 ulp and the
# round-4 output absorbs it (the lm_perplexity / softmax precedent).
_NB_ORACLE = """
WITH toks AS (
  SELECT doc_id, doc_id % 3 = 0 AS lab,
         unnest(string_split(lower(text), ' ')) AS tok
  FROM documents WHERE text IS NOT NULL),
vocab AS (
  SELECT tok AS token FROM toks WHERE tok <> '<unk>'
  GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 256),
tm AS (
  SELECT doc_id, lab,
         CASE WHEN tok IN (SELECT token FROM vocab) THEN tok
              ELSE '<unk>' END AS tok_m
  FROM toks),
lik AS (
  SELECT tok_m AS token,
         CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
         CAST(sum(CASE WHEN NOT lab THEN 1 ELSE 0 END) AS BIGINT) AS c_neg
  FROM tm GROUP BY tok_m),
tot AS (
  SELECT CAST((SELECT sum(c_pos) FROM lik) AS BIGINT) AS n_pos,
         CAST((SELECT sum(c_neg) FROM lik) AS BIGINT) AS n_neg,
         (SELECT count(*) FROM vocab) + 1 AS v_eff,
         CAST((SELECT count(*) FROM documents
               WHERE text IS NOT NULL AND doc_id % 3 = 0) AS BIGINT) AS d_pos,
         CAST((SELECT count(*) FROM documents
               WHERE text IS NOT NULL AND doc_id % 3 <> 0) AS BIGINT) AS d_neg),
sc AS (
  SELECT tm.doc_id,
         ln((coalesce(l.c_pos, 0) + 1.0) / (tot.n_pos + 1.0 * tot.v_eff))
       - ln((coalesce(l.c_neg, 0) + 1.0) / (tot.n_neg + 1.0 * tot.v_eff)) AS llr,
         ln(1.0 * tot.d_pos / tot.d_neg) AS prior
  FROM tm LEFT JOIN lik l ON l.token = tm.tok_m CROSS JOIN tot)
SELECT doc_id, count(*) AS n_toks,
       round(any_value(prior) + sum(llr), 4) + 0.0 AS log_odds,
       round(avg(llr), 4) + 0.0 AS mean_llr
FROM sc GROUP BY doc_id ORDER BY doc_id
"""


@query("nb_quality_classifier", _NB_ORACLE)
def nb_quality_classifier(spark, sf_dir):
    """Beyond-reference D15: GPT-3-style quality-classifier scoring
    (Brown et al. 2020 Appendix A, operators/classify.py) — train the
    pruned multinomial NB quality model on the documents corpus
    (vocab 256, small cap so the gate genuinely exercises the <unk>
    fold; deterministic labels doc_id % 3 = 0), score every document,
    report (doc_id, n_toks, log_odds, mean_llr). The scoring plan
    broadcasts the bounded model tables; its one exchange is the
    per-doc aggregation, collapsed map-side to one row per document.
    The Pareto importance-sampling keep decision on these scores is
    pytest-pinned (its xxhash64 draw is not DuckDB-replayable — the
    weighted_mix fractional-path limitation, documented there)."""
    from entity_linking_spark.operators.classify import (
        nb_log_odds,
        train_nb_quality,
    )

    # NOT spread: the scoring plan embeds the (lazy) training subtrees,
    # so a repartition here is paid once per subtree execution while the
    # per-row explode is light — measured 1.31 s unspread vs 2.10 s
    # spread at sf0.1; train_nb_quality's footer-gated materialization
    # covers the large-corpus case instead
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    labeled = d.withColumn("label", F.col("doc_id") % 3 == 0)
    model = train_nb_quality(labeled, vocab_size=256)
    return nb_log_odds(d, model).orderBy("doc_id")


@query(
    "ann_cosine_topk",
    """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       sims AS (
         SELECT e.vec_id,
                round(list_cosine_similarity(e.embedding, q.qv), 4) AS cos_sim
         FROM embeddings e, q WHERE e.vec_id <> 0)
       SELECT vec_id, cos_sim FROM sims
       ORDER BY cos_sim DESC, vec_id LIMIT 10""",
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k over the embedding column (J6 analog,
    biencoder_.py:166-167): JVM-side zip_with/aggregate dot product —
    no Python in the loop. The fold lives in ONE place
    (functions/vectors.cosine_col, shared with semantic_dedup) so the
    bit-reproducibility-critical accumulation order can never drift
    between the cosine-bearing gate rows."""
    from entity_linking_spark.functions.vectors import cosine_col

    e = runtime.spread(_t(spark, sf_dir, "embeddings"))
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cand = e.where(F.col("vec_id") != 0)
    return (
        cand.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine_col("embedding", "qv"), 4).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


# (p5_p6_array_filter_remove folded into p3_p4_p5_p6_p7_filter_suite at
# round-5 end — both op ids still exercised and visible in that slot's
# name; the freed slot holds the oracle-backed nb_quality_classifier)


@query(
    "j9_hard_negative_join",
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                  FROM embeddings WHERE vec_id < 20),
       s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                           CAST(q.qv AS DOUBLE[])) AS cs
             FROM embeddings e CROSS JOIN q),
       r AS (SELECT query_id, neighbor_id, cs,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY cs DESC, neighbor_id) AS rn
             FROM s)
       SELECT r.query_id, r.neighbor_id, round(r.cs, 4) AS cos_sim,
              d.negative_desc
       FROM r JOIN (SELECT doc_id AS neighbor_id,
                           substr(text, 1, 60) AS negative_desc
                    FROM documents) d ON r.neighbor_id = d.neighbor_id
       WHERE rn <= 2 AND r.neighbor_id <> r.query_id
       ORDER BY r.query_id, r.neighbor_id""",
)
def j9_hard_negative_join(spark, sf_dir):
    """J9: hard-negative lookup — for each vector, its most-similar OTHER
    vector's payload (biencoder/data_process_.py:168-196 fetches the
    nearest non-gold entity's description via id_sim)."""
    from entity_linking_spark.operators import ann

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = ann.brute_force_topk(emb, queries_df, k=2).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("neighbor_id"),
        F.substring("text", 1, 60).alias("negative_desc"),
    )
    return (
        top.join(docs, "neighbor_id")
        .select("query_id", "neighbor_id", "cos_sim", "negative_desc")
        .orderBy("query_id", "neighbor_id")
    )


_J10_ORACLE = """
WITH words AS (
  SELECT DISTINCT w FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> ''),
ic AS (SELECT w, upper(substr(w, 1, 1)) || lower(substr(w, 2)) AS title,
              length(w) AS L FROM words),
freq AS (
  SELECT title AS key, CAST(L AS BIGINT) AS freq FROM ic WHERE L % 2 = 0
  UNION ALL
  SELECT w, CAST(L * 2 AS BIGINT) FROM ic WHERE L % 3 = 0),
pem_keys AS (
  SELECT title AS key FROM ic WHERE L % 2 = 0
  UNION SELECT w FROM ic WHERE L % 3 = 0
  UNION SELECT w FROM ic WHERE L % 5 = 0),
pem AS (SELECT key, 'e_' || key || '_' || CAST(i AS VARCHAR) AS entity,
               round(CAST(1.0 AS DOUBLE) / i, 4) AS prior
        FROM pem_keys CROSS JOIN (SELECT unnest([1, 2]) AS i)),
peml_keys AS (SELECT w AS key FROM ic WHERE L % 7 = 0),
peml AS (SELECT key, 'l_' || key || '_' || CAST(i AS VARCHAR) AS entity,
                round(CAST(1.0 AS DOUBLE) / i, 4) AS prior
         FROM peml_keys CROSS JOIN (SELECT unnest([1, 2]) AS i)),
resolved AS (
  SELECT i.w AS span,
         CASE WHEN coalesce(ft.freq, 0) = 0 AND coalesce(fs.freq, 0) = 0 THEN
                CASE WHEN pk.key IS NOT NULL THEN i.w
                     WHEN lk.key IS NOT NULL THEN i.w END
              WHEN coalesce(fs.freq, 0) > coalesce(ft.freq, 0) THEN i.w
              ELSE i.title END AS matched_key,
         CASE WHEN coalesce(ft.freq, 0) = 0 AND coalesce(fs.freq, 0) = 0 THEN
                CASE WHEN pk.key IS NOT NULL THEN 'p_e_m'
                     WHEN lk.key IS NOT NULL THEN 'p_e_m_lower' END
              ELSE 'p_e_m' END AS matched_map
  FROM ic i
  LEFT JOIN freq ft ON ft.key = i.title
  LEFT JOIN freq fs ON fs.key = i.w
  LEFT JOIN (SELECT DISTINCT key FROM pem) pk ON pk.key = i.w
  LEFT JOIN (SELECT DISTINCT key FROM peml) lk ON lk.key = i.w)
SELECT r.span, r.matched_key, r.matched_map, c.entity, c.prior
FROM resolved r
LEFT JOIN (SELECT 'p_e_m' AS mm, key, entity, prior FROM pem
           UNION ALL
           SELECT 'p_e_m_lower', key, entity, prior FROM peml) c
  ON c.mm = r.matched_map AND c.key = r.matched_key
ORDER BY span, entity
"""


@query("j10_prior_fallback_join", _J10_ORACLE)
def j10_prior_fallback_join(spark, sf_dir):
    """J10 (+F14): p_e_m prior lookup with the reference's ordered probe
    cascade — span.title()/raw frequency contest, then lowered-span
    fallbacks against p_e_m and p_e_m_lower (candidate_retrieval/
    dataset.py:300-347; F14 initcap probe key :325-326). The prior tables
    are synthesized deterministically from the corpus vocabulary so the
    oracle can rebuild them: even-length words get title-cased freq+prior
    keys, %3 raw keys, %5 extra p_e_m raw keys, %7 p_e_m_lower keys."""
    from entity_linking_spark.operators.priors import prior_fallback_join

    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .distinct()
    )
    L = F.length("w")
    ic = words.select("w", F.initcap("w").alias("title"), L.alias("L"))
    freq = (
        ic.where(F.col("L") % 2 == 0)
        .select(F.col("title").alias("key"), F.col("L").cast("long").alias("freq"))
        .unionByName(
            ic.where(F.col("L") % 3 == 0).select(
                F.col("w").alias("key"), (F.col("L") * 2).cast("long").alias("freq")
            )
        )
    )
    pem_keys = (
        ic.where(F.col("L") % 2 == 0)
        .select(F.col("title").alias("key"))
        .union(ic.where(F.col("L") % 3 == 0).select(F.col("w").alias("key")))
        .union(ic.where(F.col("L") % 5 == 0).select(F.col("w").alias("key")))
        .distinct()
    )
    i_col = F.explode(F.array(F.lit(1), F.lit(2))).alias("i")

    def _cands(keys, prefix):
        return keys.select("key", i_col).select(
            "key",
            F.concat(F.lit(prefix), F.col("key"), F.lit("_"), F.col("i")).alias(
                "entity"
            ),
            F.round(F.lit(1.0) / F.col("i"), 4).alias("prior"),
        )

    pem = _cands(pem_keys, "e_")
    peml = _cands(
        ic.where(F.col("L") % 7 == 0).select(F.col("w").alias("key")).distinct(), "l_"
    )
    mentions = ic.select(F.col("w").alias("span"))
    out = prior_fallback_join(mentions, freq, pem, peml)
    return out.select(
        "span", "matched_key", "matched_map", "entity", "prior"
    ).orderBy("span", "entity")


@query(
    "j11_coref_containment_selfjoin",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents WHERE doc_id < 20),
       words AS (SELECT DISTINCT doc_id, w AS short_m
                 FROM (SELECT doc_id, unnest(t) AS w FROM d) WHERE w <> ''),
       bigr AS (SELECT DISTINCT doc_id, b AS long_m FROM (
                  SELECT doc_id,
                         unnest(list_transform(generate_series(1, len(t) - 1),
                                               i -> t[i] || ' ' || t[i + 1])) AS b
                  FROM d))
       SELECT w.doc_id AS doc_id, w.short_m, b.long_m
       FROM words w JOIN bigr b ON w.doc_id = b.doc_id
       WHERE strpos(' ' || b.long_m || ' ', ' ' || w.short_m || ' ') > 0
       ORDER BY w.doc_id, w.short_m, b.long_m LIMIT 300""",
)
def j11_coref_containment_selfjoin(spark, sf_dir):
    """J11: coref containment self-join — a short mention contained
    (word-boundary) in a longer mention of the SAME doc
    (candidate_retrieval/dataset.py:153-187). Non-equi instr predicate
    inside the doc-key equi join; here words vs adjacent bigrams."""
    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 20)
        .select("doc_id", F.split("text", " ").alias("t"))
    )
    words = (
        d.select("doc_id", F.explode(F.array_distinct("t")).alias("short_m"))
        .where(F.col("short_m") != "")
        .distinct()
    )
    toks = F.col("t")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    bigr = d.select(
        "doc_id", F.explode(F.array_distinct(bigrams)).alias("long_m")
    ).distinct()
    pad = lambda c: F.concat(F.lit(" "), F.col(c), F.lit(" "))  # noqa: E731
    return (
        words.join(bigr, "doc_id")
        .where(F.instr(pad("long_m"), pad("short_m")) > 0)
        .select("doc_id", "short_m", "long_m")
        .orderBy("doc_id", "short_m", "long_m")
        .limit(300)
    )


@query(
    "stream_windowed_counts",
    """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:00') AS window_start,
              event_type, count(*) AS n
       FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
)
def stream_windowed_counts(spark, sf_dir):
    """Windowed aggregation: event counts per type in tumbling 1-hour
    windows of ``ts``, a batch query."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00").alias("window_start"),
            "event_type",
            "n",
        )
        .orderBy("window_start", "event_type")
    )


# (f9_f13_window_slice_offset merged into the f7 scalar chain above,
# round 5 — both op ids still exercised and visible in the slot name;
# the freed slot holds duplicated_span_removal below)


_DUP_SPAN_WINDOW = 8
_DUP_SPAN_MAX_POSTINGS = 256


_DUP_SPAN_ORACLE = f"""
WITH tk AS (SELECT doc_id, text,
                   string_split(text, ' ') AS t,
                   string_split(lower(text), ' ') AS lt
            FROM documents),
w AS (SELECT doc_id, len(t) AS n_toks,
             CASE WHEN len(lt) <= {_DUP_SPAN_WINDOW}
                  THEN [array_to_string(lt, ' ')]
                  ELSE list_transform(
                         generate_series(1, len(lt) - {_DUP_SPAN_WINDOW - 1}),
                         i -> array_to_string(lt[i:i + {_DUP_SPAN_WINDOW - 1}], ' '))
             END AS ws
      FROM tk),
w2 AS (SELECT doc_id, n_toks,
              list_transform(ws, s -> {_poly_fold_sql("s", 31)} * 1000000007
                                      + {_poly_fold_sql("s", 131)}) AS whs
       FROM w),
wh AS (SELECT doc_id, n_toks,
              unnest(generate_series(1, len(whs))) - 1 AS pos,
              unnest(whs) AS whash
       FROM w2),
dk AS (SELECT whash FROM wh GROUP BY whash
       HAVING count(DISTINCT doc_id) >= 2
          AND count(*) <= {_DUP_SPAN_MAX_POSTINGS}),
dp AS (SELECT doc_id, pos, n_toks FROM wh
       WHERE whash IN (SELECT whash FROM dk)),
isl AS (SELECT doc_id, pos, n_toks,
               max(pos + {_DUP_SPAN_WINDOW}) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_end
        FROM dp),
grp AS (SELECT doc_id, pos, n_toks,
               sum(CASE WHEN prev_end IS NULL OR pos > prev_end
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM isl),
spans AS (SELECT doc_id, g, min(pos) AS s,
                 least(max(pos) + {_DUP_SPAN_WINDOW},
                       CAST(max(n_toks) AS BIGINT)) AS e,
                 count(*) AS nw
          FROM grp GROUP BY doc_id, g),
agg AS (SELECT doc_id,
               string_agg(s || '-' || e || '-' || nw, ';' ORDER BY s)
                   AS spans_csv,
               CAST(sum(e - s) AS BIGINT) AS n_removed
        FROM spans GROUP BY doc_id),
toks AS (SELECT doc_id,
                unnest(generate_series(1, len(t))) AS p,
                unnest(t) AS tok
         FROM tk),
kept AS (SELECT doc_id, p, tok FROM toks
         WHERE NOT EXISTS (SELECT 1 FROM spans sp
                           WHERE sp.doc_id = toks.doc_id
                             AND p - 1 >= sp.s AND p - 1 < sp.e)),
clean AS (SELECT doc_id,
                 coalesce(string_agg(tok, ' ' ORDER BY p), '') AS clean_text
          FROM kept GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.spans_csv, '') AS spans_csv,
       coalesce(a.n_removed, 0) AS n_removed_tokens,
       CASE WHEN a.doc_id IS NULL THEN d.text
            ELSE coalesce(c.clean_text, '') END AS clean_text
FROM documents d
LEFT JOIN agg a ON d.doc_id = a.doc_id
LEFT JOIN clean c ON d.doc_id = c.doc_id
ORDER BY d.doc_id
"""


@query("duplicated_span_removal", _DUP_SPAN_ORACLE)
def duplicated_span_removal(spark, sf_dir):
    """D6 complete: cross-document repeated-substring DETECTION (the
    relational ExactSubstr of Lee et al. 2022 — O(chars) window hashing
    -> int64 posting aggregate with a stop-key cap -> JVM
    gaps-and-islands merge) chained into the curation ACTION, span
    REMOVAL (operators/dedup.py::remove_duplicated_spans). One row per
    document: the merged maximal spans as a csv, the removed-token
    count, and the cleaned text. The DuckDB twin replays BOTH poly
    hashes of the combined window key, the posting cap, the islands
    merge, the span_end clamp, and the token-slice complement from
    first principles."""
    from entity_linking_spark.operators import dedup

    d = runtime.spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    spans = dedup.duplicated_spans(
        d,
        id_col="doc_id",
        window=_DUP_SPAN_WINDOW,
        max_postings=_DUP_SPAN_MAX_POSTINGS,
    )
    cleaned = dedup.remove_duplicated_spans(d, spans, id_col="doc_id")
    span_struct = F.struct("span_start", "span_end", "n_windows")
    per_doc = spans.groupBy("id").agg(
        F.concat_ws(
            ";",
            F.transform(
                F.sort_array(F.collect_list(span_struct)),
                lambda s: F.concat_ws(
                    "-",
                    s["span_start"].cast("string"),
                    s["span_end"].cast("string"),
                    s["n_windows"].cast("string"),
                ),
            ),
        ).alias("spans_csv")
    )
    return (
        cleaned.join(
            per_doc, cleaned["doc_id"].cast("string") == per_doc["id"], "left"
        )
        .select(
            "doc_id",
            F.coalesce("spans_csv", F.lit("")).alias("spans_csv"),
            F.col("n_removed_tokens").cast("long").alias("n_removed_tokens"),
            "clean_text",
        )
        .orderBy("doc_id")
    )


# A9 recall@k is folded into a7_a9_hits_recall_at_k above (same one-pass
# aggregate as the A7 hit counters).


_F4_F5_ORACLE = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS t, CAST(doc_id % 12 AS INT) AS L
  FROM documents
  WHERE doc_id < 150 AND len(string_split(text, ' ')) >= 20),
parts AS (
  SELECT doc_id, t, t[1:L] AS lft, t[L+1:L+2] AS men, t[L+3:L+17] AS rgt
  FROM base),
quota AS (
  SELECT doc_id, t, lft, men, rgt,
         len(lft) AS la, len(rgt) AS ra,
         (24 - (len(men) + 2)) // 2 - 1 AS lq0,
         24 - (len(men) + 2) - ((24 - (len(men) + 2)) // 2 - 1) - 2 AS rq0
  FROM parts),
quota2 AS (
  SELECT *,
         CASE WHEN la <= lq0 THEN lq0
              WHEN ra <= rq0 THEN lq0 + (rq0 - ra)
              ELSE lq0 END AS lq,
         CASE WHEN la <= lq0 AND ra > rq0 THEN rq0 + (lq0 - la)
              ELSE rq0 END AS rq
  FROM quota)
SELECT doc_id,
       array_to_string(
         ['[CLS]'] || (CASE WHEN la <= lq THEN lft ELSE lft[la-lq+1:la] END)
         || ['[unused1]'] || men || ['[unused2]'] || rgt[1:rq] || ['[SEP]'],
         ' ') AS ctx_repr,
       array_to_string(
         ['[CLS]'] || ([t[1], '[unused3]'] || t[2:21])[1:22] || ['[SEP]'],
         ' ') AS cand_repr
FROM quota2 ORDER BY doc_id
"""


@query("f4_f5_feature_build", _F4_F5_ORACLE)
def f4_f5_feature_build(spark, sf_dir):
    """F4 context-window quota split with borrowed budget + F5 candidate
    representation assembly (biencoder/data_process_.py:44-70, :87-119;
    tags common/params.py:16-18) — run through the REAL Arrow-batched
    feature UDFs (functions/features.py); the oracle re-derives the quota
    arithmetic and slicing in pure SQL. Corpus tokens are
    normalization-invariant, so tokenize(join(tokens)) == tokens and both
    sides see identical token streams."""
    from entity_linking_spark.functions.features import (
        make_candidate_repr_udf,
        make_context_repr_udf,
    )

    ctx_udf = make_context_repr_udf(24)
    cand_udf = make_candidate_repr_udf(24)
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    L = (F.col("doc_id") % 12).cast("int")
    base = d.where((F.col("doc_id") < 150) & (F.size(toks) >= 20)).select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 1, L)).alias("left_txt"),
        F.concat_ws(" ", F.slice(toks, L + 1, 2)).alias("men_txt"),
        F.concat_ws(" ", F.slice(toks, L + 3, 15)).alias("right_txt"),
        F.element_at(toks, 1).alias("title_txt"),
        F.concat_ws(" ", F.slice(toks, 2, 20)).alias("desc_txt"),
    )
    return (
        base.select(
            "doc_id",
            F.concat_ws(
                " ", ctx_udf(F.col("left_txt"), F.col("men_txt"), F.col("right_txt"))
            ).alias("ctx_repr"),
            F.concat_ws(
                " ", cand_udf(F.col("title_txt"), F.col("desc_txt"))
            ).alias("cand_repr"),
        )
        .orderBy("doc_id")
    )


@query(
    "f6_kb_description",
    """SELECT doc_id,
              CASE WHEN doc_id % 10 = 0
                   THEN '摘要，' || t[1] || '无描述信息。'
                   ELSE t[2] || ':' || t[3] || '。' || t[4] || ':' || t[5] || '。'
                        || t[6] || ':' || t[7] || '。' END AS description
       FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
             WHERE doc_id < 150)
       WHERE len(t) >= 7 ORDER BY doc_id""",
)
def f6_kb_description(spark, sf_dir):
    """F6: KB description synthesis — concat predicate:object pairs with
    the。-suffix-unless-already-suffixed rule, empty data -> the 摘要
    fallback string (eval_biencoder_.py:45-57, el_preprocess.py:124-164,
    el_main.py:128-161). Higher-order aggregate over a struct array built
    deterministically from corpus tokens (docs with doc_id%10==0 get
    empty data to exercise the fallback)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    kg = F.transform(
        F.sequence(F.lit(0), F.lit(2)),
        lambda i: F.struct(
            F.element_at(toks, i * 2 + 2).alias("predicate"),
            F.element_at(toks, i * 2 + 3).alias("object"),
        ),
    )
    empty = F.array().cast("array<struct<predicate:string,object:string>>")
    data = F.when(F.col("doc_id") % 10 == 0, empty).otherwise(kg)
    desc = F.aggregate(
        data,
        F.lit(""),
        lambda acc, e: F.concat(
            acc,
            e["predicate"],
            F.lit(":"),
            e["object"],
            F.when(e["object"].endswith("。"), F.lit("")).otherwise(F.lit("。")),
        ),
    )
    fallback = F.concat(
        F.lit("摘要，"), F.element_at(toks, 1), F.lit("无描述信息。")
    )
    return (
        d.where((F.col("doc_id") < 150) & (F.size(toks) >= 7))
        .select(
            "doc_id",
            F.when(F.size(data) > 0, desc).otherwise(fallback).alias("description"),
        )
        .orderBy("doc_id")
    )


@query(
    "f15_sentence_split",
    """WITH p AS (SELECT doc_id,
                         regexp_replace(text, ' (the|a) ', '. ', 'g') AS pt
                  FROM documents WHERE doc_id < 100)
       SELECT doc_id,
              len(string_split(pt, '. ')) AS n_sentences,
              string_split(pt, '. ')[1] AS sent_1,
              string_split(pt, '. ')[2] AS sent_2,
              string_split(pt, '. ')[3] AS sent_3
       FROM p ORDER BY doc_id""",
)
def f15_sentence_split(spark, sf_dir):
    """F15: deterministic sentence split + first-N sentences — the
    sent_desc_1..10 column source (entity_candidate/utils.py:26-28,
    process_intro_sents.py:46-64). The corpus has no punctuation, so a
    deterministic boundary is injected first ('the/a' -> '. '), then the
    split + first-3 projection runs in both engines. The reference's
    segtok/punkt models vary across versions; a frozen regex split is
    the deterministic analog."""
    d = _t(spark, sf_dir, "documents")
    pt = F.regexp_replace(F.col("text"), " (the|a) ", ". ")
    sents = F.split(pt, r"\. ")
    return (
        d.where(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.size(sents).alias("n_sentences"),
            F.try_element_at(sents, F.lit(1)).alias("sent_1"),
            F.try_element_at(sents, F.lit(2)).alias("sent_2"),
            F.try_element_at(sents, F.lit(3)).alias("sent_3"),
        )
        .orderBy("doc_id")
    )


@query(
    "s1_s4_jsonl_bz2_scan",
    """SELECT doc_id AS entity_id, 'doc' || CAST(doc_id AS VARCHAR) AS title,
              substr(text, 1, 40) AS snippet
       FROM documents WHERE doc_id < 150 ORDER BY entity_id""",
)
def s1_s4_jsonl_bz2_scan(spark, sf_dir):
    """S1/S2 JSONL entity-catalogue scan + F10 curid parse
    (main_dense.py:119-151) + S4 bz2-compressed dump scan
    (process_wikidata.py:48-99) — one query: the fixture is the documents
    table re-serialized as bz2 JSONL (codec handled transparently by
    spark.read.json), so the oracle recomputes it from the parquet."""
    import bz2
    import json
    import os

    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/el_fixtures/{base}/entities.jsonl.bz2"
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = (
            _t(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 150)
            .select("doc_id", F.substring("text", 1, 40).alias("snippet"))
            .collect()
        )
        with bz2.open(path + ".tmp", "wt", encoding="utf-8") as f:
            for r in sorted(rows, key=lambda x: x["doc_id"]):
                f.write(
                    json.dumps(
                        {
                            "idx": f"https://en.wikipedia.org/wiki?curid={r['doc_id']}",
                            "title": f"doc{r['doc_id']}",
                            "text": r["snippet"],
                        },
                        ensure_ascii=False,
                    )
                    + "\n"
                )
        os.replace(path + ".tmp", path)
    ents = spark.read.json(path)
    return ents.select(
        F.element_at(F.split("idx", "curid="), -1).cast("long").alias("entity_id"),
        "title",
        F.col("text").alias("snippet"),
    ).orderBy("entity_id")


@query(
    "s5_s10_tsv_jsonl_roundtrip",
    """SELECT printf('doc%03d', i) AS doc_id,
              'mention ' || CAST(i AS VARCHAR) AS mention,
              CAST(i * 7 AS INT) AS "offset",
              printf('e%05d', i % 10) AS kb_id
       FROM range(50) t(i) ORDER BY doc_id""",
)
def s5_s10_tsv_jsonl_roundtrip(spark, sf_dir):
    """S5 + S10 merged (slot freed for weighted_mix_integer, round 5):
    TSV mention-file scan (candidate_retrieval/dataset.py:18-69 splits
    lines on tabs) chained THROUGH the JSONL sink
    (write_dicts_as_json_per_line, utils.py:110-117) — scan the TSV
    fixture, df.write.json it out, read it back, prove the lossless
    scan->sink->scan roundtrip against the oracle regenerating the
    formulaic content from range(50)."""
    import os
    import shutil

    path = "/tmp/el_fixtures/static/mentions.tsv"
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            for i in range(50):
                f.write(f"doc{i:03d}\tmention {i}\t{i * 7}\te{i % 10:05d}\n")
        os.replace(path + ".tmp", path)
    df = spark.read.csv(
        path,
        sep="\t",
        schema="doc_id string, mention string, offset int, kb_id string",
    )
    out = "/tmp/el_fixtures/mentions_jsonl"
    shutil.rmtree(out, ignore_errors=True)
    df.write.json(out)
    back = spark.read.json(
        out, schema="doc_id string, mention string, offset int, kb_id string"
    )
    return back.orderBy("doc_id")


@query(
    "weighted_mix_integer",
    """WITH d AS (SELECT doc_id, 'd' || CAST(doc_id % 3 AS VARCHAR) AS domain
                  FROM documents),
         w AS (SELECT doc_id, domain,
                      CASE domain WHEN 'd0' THEN 2 WHEN 'd2' THEN 1 ELSE 0 END AS n
               FROM d)
       SELECT doc_id, domain, CAST(c AS INT) AS copy
       FROM (SELECT doc_id, domain,
                    unnest(generate_series(0, n - 1)) AS c
             FROM w WHERE n > 0)
       ORDER BY doc_id, copy""",
)
def weighted_mix_integer(spark, sf_dir):
    """D12: domain-weighted corpus mixing (operators/mixing.py), the
    final-assembly step of public training corpora (The Pile epochs /
    MassiveText proportions) — integer-weight slice, where the output
    is exactly derivable: every 'd0' doc twice (copy 0,1), every 'd2'
    doc once, 'd1' dropped via default_weight=0. Integer weights make
    frac(w)=0, so the xxhash64 fractional keep never fires and DuckDB
    replays the whole mix as a generate_series replication (the
    fractional path's hash concentration is pytest-pinned instead —
    tests/test_mixing.py — because DuckDB cannot replay Spark's
    xxhash64)."""
    from entity_linking_spark.operators.mixing import weighted_mix

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("d"), (F.col("doc_id") % 3).cast("string")).alias("domain"),
    )
    return weighted_mix(d, {"d0": 2.0, "d2": 1.0}).orderBy("doc_id", "copy")


@query(
    "dedup_minhash_pairs",
    """WITH sh AS (
         SELECT doc_id,
                list_distinct(CASE WHEN len(t) >= 3
                  THEN list_transform(generate_series(1, len(t) - 2),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                  ELSE [array_to_string(t, ' ')] END) AS s
         FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
       SELECT a.doc_id AS url_a, b.doc_id AS url_b,
              round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) >= 0.7
       ORDER BY url_a, url_b""",
)
def dedup_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup with exact rescoring: band-join candidates
    (never all-pairs), verify with EXACT 3-shingle Jaccard JVM-side —
    oracle-checkable against DuckDB's all-pairs exact Jaccard because
    32x2 banding misses a j>=0.7 pair with probability < 1e-9 (and the
    corpus' planted near-dups sit at j~0.99)."""
    from entity_linking_spark.operators import dedup

    base = runtime.spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("tokens")
    )
    return (
        dedup.minhash_near_dup_pairs(
            base,
            id_col="doc_id",
            min_jaccard=0.7,
            n_bands=32,
            verify="exact",
            cache_registry=_LIVE_CACHES,
        )
        .select(
            F.col("url_a"), F.col("url_b"), F.col("jaccard")
        )
        .orderBy("url_a", "url_b")
    )


@query(
    "w2_w3_w5_window_sort_suite",
    """WITH ranked AS (
         SELECT event_type, event_id,
                rank() OVER (PARTITION BY event_type
                             ORDER BY value DESC, event_id) AS rnk
         FROM events)
       SELECT 'w2w3' AS which, event_type AS k,
              string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS v
       FROM ranked WHERE rnk <= 3 GROUP BY event_type
       UNION ALL
       SELECT 'w5' AS which, CAST(doc_id AS VARCHAR) AS k,
              CAST(n_chars AS VARCHAR) AS v
       FROM (SELECT doc_id, n_chars FROM documents
             ORDER BY n_chars DESC, doc_id LIMIT 20)
       ORDER BY which, k""",
)
def w2_w3_w5_window_sort_suite(spark, sf_dir):
    """W2 candidate list sorted + collected per group (service_main.py:
    170, el_main.py:166-175 top-k cut) + W3 argsort-desc rank
    (main_dense.py:282-284) — same rank() window feeds both — + W5/W6
    global order + limit pushdown (candidate_retrieval/utils.py:
    294-301; TakeOrderedAndProject, no full sort), merged into one
    gate row (round 5)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    w2w3 = (
        e.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 3)
        .groupBy("event_type")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("event_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("v")
        )
        .select(
            F.lit("w2w3").alias("which"),
            F.col("event_type").alias("k"),
            "v",
        )
    )
    d = _t(spark, sf_dir, "documents")
    w5 = (
        d.select("doc_id", "n_chars")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .limit(20)
        .select(
            F.lit("w5").alias("which"),
            F.col("doc_id").cast("string").alias("k"),
            F.col("n_chars").cast("string").alias("v"),
        )
    )
    return w2w3.unionAll(w5).orderBy("which", "k")


# ------------------------------------------------- BM25 retrieval (J5)

_J5_BM25_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM (SELECT doc_id, unnest(t) AS term FROM toks)
       GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
qterms AS (SELECT DISTINCT doc_id AS query_id, unnest(t[1:3]) AS term
           FROM toks WHERE doc_id < 5),
scored AS (
    SELECT q.query_id, tf.doc_id,
           sum(ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))) AS score
    FROM qterms q
    JOIN tf ON q.term = tf.term
    JOIN dl ON tf.doc_id = dl.doc_id
    JOIN dfreq ON tf.term = dfreq.term
    CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id),
ranked AS (SELECT query_id, doc_id, round(score, 4) AS bm25,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 4) DESC, doc_id) AS rk
           FROM scored)
SELECT query_id, doc_id, bm25, rk FROM ranked
WHERE rk <= 5 ORDER BY query_id, rk
"""


@query("j5_bm25_topk", _J5_BM25_ORACLE)
def j5_bm25_topk(spark, sf_dir):
    """J5: BM25 top-k retrieval join (candidate_generators.py:59-116;
    query template perform_and_evaluate_candidate_retrieval_multithreaded
    .py:180-199, rows=k cut main_solr.py:126-143) — the Solr edismax
    retrieval re-expressed as pure DataFrame arithmetic. Okapi BM25
    (k1=1.2, b=0.75): tf per (doc, term) via explode+groupBy (map-side
    partial agg), df per term, corpus stats (N, avgdl) as a 1-row
    broadcast cross join (never a driver collect), the retrieval join is
    the query-term = doc-term equi-join, and the rows=k limit is the W1
    row_number window. Queries = the first 3 tokens of docs 0..4.
    Ranking uses round(score, 4) + doc_id so engine-level float
    associativity in the sum can never flip a rank near a tie."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    tf = (
        toks.select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    qterms = (
        toks.where(F.col("doc_id") < 5)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("t", 1, 3)).alias("term"),
        )
        .distinct()
    )
    k1, b = 1.2, 0.75
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    wgt = (
        idf
        * F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * ((1.0 - b) + b * F.col("dl") / F.col("avgdl")))
    )
    # dfreq is NOT broadcast-hinted: at open-vocabulary corpus scale the
    # term->df table is huge and the hint would OOM the driver; AQE
    # converts the join to broadcast at runtime whenever df IS small
    # (as here). qterms (queries x terms) is the genuinely tiny side and
    # Catalyst broadcasts it into the tf join on its own. stats is one
    # row — always broadcast.
    scored = (
        qterms.join(tf, "term")
        .join(dl, "doc_id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(wgt).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 4).desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("query_id", "doc_id", F.round("score", 4).alias("bm25"), "rk")
        .orderBy("query_id", "rk")
    )


# ------------------------------------------ mention detection (round 4)

# Alias dictionary over the documents-corpus vocabulary with deliberate
# overlap chains (table < table part < table part agg; key < sort key <
# fast sort key; value < big query value) so the oracle exercises the
# full greedy longest-match-first non-overlapping contract, not just
# token equality.
_MENTION_ALIASES = (
    "table", "table part", "table part agg", "part",
    "fast sort key", "sort key", "key", "scan",
    "query big", "big query value", "value", "spark a a the",
)

# DuckDB twin replays the ENTIRE operator from first principles:
# candidate matches by slice equality at every token position, then the
# trie's greedy scan (el_process.py:65 longest-alias-wins, left to
# right, non-overlapping) as a RECURSIVE CTE — the seed row is each
# doc's (pos ASC, n DESC) first match, the recursive step takes the
# next match starting at/after the previous selection's end. Char
# offsets replay the cumulative token-position arithmetic. Valid on the
# driver corpus because its text is clean single-space lowercase alnum
# (verified: 0 rows diverge from ' '.join(split)), so string_split ==
# BasicTokenizer and the normalized text == text.
_MENTION_ORACLE = (
    """
WITH RECURSIVE
al AS (SELECT alias, len(string_split(alias, ' ')) AS n FROM (VALUES
    """
    + ", ".join(f"('{a}')" for a in _MENTION_ALIASES)
    + """
  ) v(alias)),
tk AS (SELECT CAST(doc_id AS VARCHAR) AS url, string_split(text, ' ') AS t
       FROM documents),
m AS (SELECT tk.url, p AS pos, al.n, al.alias
      FROM tk CROSS JOIN al
      CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(tk.t))) AS p) ps
      WHERE p + al.n - 1 <= len(tk.t)
        AND array_to_string(tk.t[p : p + al.n - 1], ' ') = al.alias),
sel AS (
    SELECT url, pos, n FROM (
      SELECT url, pos, n,
             row_number() OVER (PARTITION BY url ORDER BY pos ASC, n DESC) AS rn
      FROM m) base WHERE rn = 1
  UNION ALL
    SELECT nxt.url, nxt.pos, nxt.n
    FROM sel CROSS JOIN LATERAL (
      SELECT m.url, m.pos, m.n FROM m
      WHERE m.url = sel.url AND m.pos >= sel.pos + sel.n
      ORDER BY m.pos ASC, m.n DESC LIMIT 1) nxt
)
SELECT s.url AS url,
       array_to_string(tk.t[s.pos : s.pos + s.n - 1], ' ') AS mention,
       CAST(CASE WHEN s.pos = 1 THEN 0
            ELSE length(array_to_string(tk.t[1 : s.pos - 1], ' ')) + 1 END
            AS INTEGER) AS start_pos,
       CAST(CASE WHEN s.pos = 1 THEN 0
            ELSE length(array_to_string(tk.t[1 : s.pos - 1], ' ')) + 1 END
            + length(array_to_string(tk.t[s.pos : s.pos + s.n - 1], ' '))
            AS INTEGER) AS end_pos
FROM sel s JOIN tk ON s.url = tk.url
ORDER BY url, start_pos
"""
)


@query("mention_detect_greedy", _MENTION_ORACLE)
def mention_detect_greedy(spark, sf_dir):
    """Dictionary mention detection through the round-4 BEYOND-BROADCAST
    join path (operators/blocking.detect_mentions_join): posexplode
    anchors -> first-token equi-join -> JVM span verify -> aggregate()
    greedy longest-match fold. No driver-side alias collect anywhere.
    Oracle-backed (the trie path is pytest-pinned byte-identical to this
    one, so the hash gate covers both).

    Reference contract: jieba user-dict cut + longest-alias-wins
    ordering, entity_sort/el_process.py:37-43,65."""
    from entity_linking_spark.operators.blocking import AliasDictionary, detect_mentions_join

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    aliases = spark.createDataFrame(
        [(a, f"e{i}") for i, a in enumerate(_MENTION_ALIASES)],
        "alias string, subject_id string",
    )
    # the corpus-token and alias persists are released when the NEXT
    # query starts (they can't be dropped before this query's action,
    # which the caller owns)
    dictionary = AliasDictionary(aliases, _LIVE_CACHES)
    return detect_mentions_join(
        docs, dictionary, cache_registry=_LIVE_CACHES
    ).orderBy("url", "start_pos")
