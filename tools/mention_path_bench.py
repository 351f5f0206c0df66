"""Trie vs join mention detection at scale (round-4 directive #1 "Done").

Times the s2 mentions stage BOTH ways on the same fused-s1 output with a
beyond-broadcast-sized synthetic alias table, and verifies the outputs
are identical (exceptAll in both directions == 0). The join path must
hold its own without EVER collecting the alias table to the driver —
the trie arm's collect cost is included in its timing, since that is
exactly the cost the join path removes.

Alias table: n_entities = n_docs/10 entities x ~3.4 aliases each (the
standard synth KB), replicated ``alias_reps`` times with distinct
suffixed variants so the DISTINCT normalized alias count scales past
any broadcast threshold while the match behavior on the corpus stays
identical (suffixed variants never occur in the text).

Usage: python tools/mention_path_bench.py N_DOCS CORES [ALIAS_REPS] [joinonly]
``joinonly`` skips the trie arm + identity check: at >broadcast-scale
alias tables the trie arm rebuilds a multi-million-alias matcher in
every task — the exact wall this tool exists to document; its identity
vs the join path is already pinned by pytest and by this tool's
both-arms runs at smaller alias scale.
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    alias_reps = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    join_only = len(sys.argv) > 4 and sys.argv[4] == "joinonly"

    import pandas as pd
    from pyspark.sql import functions as F

    from entity_linking_spark import schema as S
    from entity_linking_spark.operators import blocking, extract
    from entity_linking_spark.session import get_spark

    spark = get_spark("mention-bench", cores=cores)
    n_entities = max(100, n_docs // 10)
    base = f"/tmp/el_mention_{n_docs}_{alias_reps}"

    docs_path = f"{base}/docs"
    if not os.path.exists(docs_path):
        S.synth_documents_spark(spark, n_docs, n_entities).write.mode(
            "overwrite"
        ).parquet(docs_path)
    s1_path = f"{base}/s1"
    if not os.path.exists(s1_path):
        extract.extract_and_tokenize(
            spark.read.parquet(docs_path).repartition(cores * 2)
        ).write.mode("overwrite").parquet(s1_path)

    aliases_path = f"{base}/aliases"
    if not os.path.exists(aliases_path):
        kb_aliases = S.kb_to_aliases(S.synth_kb(n_entities))
        reps = [kb_aliases]
        for r in range(1, alias_reps):
            v = kb_aliases.copy()
            v["alias"] = v["alias"] + f" variantsuffix{r:04d}"
            reps.append(v)
        big = pd.concat(reps, ignore_index=True)
        spark.createDataFrame(big, schema=S.ALIASES_SCHEMA).repartition(
            cores
        ).write.mode("overwrite").parquet(aliases_path)
    aliases = spark.read.parquet(aliases_path)
    docs = spark.read.parquet(s1_path)
    # one dictionary for both arms, as in the pipeline: the trie arm
    # times its alias collect, the join arm the KB normalization it pays
    # instead
    dictionary = blocking.AliasDictionary(aliases)
    n_aliases = dictionary.rows

    out = {"n_docs": n_docs, "cores": cores, "n_alias_rows": n_aliases}

    if not join_only:
        # --- trie arm: collect (timed — it's the cost under test) + match
        t0 = time.time()
        alias_list = dictionary.alias_list
        if alias_list is None:
            sys.exit("alias table is past ALIAS_BROADCAST_MAX_ROWS: pass joinonly")
        t_collect = time.time() - t0
        m_trie = blocking.detect_mentions(docs, alias_list, tokens_col="tokens")
        n_trie = m_trie.count()
        out["trie_seconds"] = round(time.time() - t0, 2)
        out["trie_collect_seconds"] = round(t_collect, 2)

    # --- join arm: no collect anywhere. Counting via a partition-size
    # aggregate gives the max reduce-partition row count in the SAME
    # job (the skew signal the round-4 verdict asked to pin at the 10M
    # decade) for the price of one extra tiny shuffle of <= n_partitions
    # rows.
    t0 = time.time()
    m_join = blocking.detect_mentions_join(docs, dictionary, tokens_col="tokens")
    sizes = (
        m_join.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    n_join = sum(r["count"] for r in sizes)
    out["join_seconds"] = round(time.time() - t0, 2)
    out["n_mentions"] = n_join
    out["n_output_partitions"] = len(sizes)
    out["max_partition_rows"] = max((r["count"] for r in sizes), default=0)

    if not join_only:
        # --- identity check (untimed)
        out["rows_join_eq_trie"] = n_join == n_trie
        out["exceptall_diff"] = (
            m_trie.exceptAll(m_join).count() + m_join.exceptAll(m_trie).count()
        )

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
