"""Build the near_dup input and record its DuckDB answer.

    python3 perfbench/oracle.py SOURCE_DOCUMENTS_PARQUET

SOURCE is the sf0.1 ``documents.parquet`` of the repository's test data
(5,000 docs with planted near-duplicates, see TESTDATA.md). Writes

- ``perfbench/data/documents.parquet``: a fixed subset of SOURCE, and
- ``perfbench/near_dup_oracle.json``: the answer of the unmodified
  ``oracle_sql()`` texts of ``minhash_near_dup_clusters`` and
  ``dedup_minhash_pairs`` on that subset.

The subset keeps every doc that has a 3-shingle Jaccard >= 0.5 partner in
SOURCE (the planted near-dups, found with an inverted shingle index) and
fills up to ``SUBSET_DOCS`` with a sample drawn with ``SUBSET_SEED`` from
the rest. Rows and ids are copied unchanged. The oracle is an all-pairs
join, quadratic in the docs (about 10 minutes for 2,000 docs on 4 cores,
over an hour for all 5,000), which is why the benchmark uses the subset
and a recorded answer instead of running DuckDB on every run. The run
seed only changes row order and file split, so one answer serves every
seed.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS_FILE = os.path.join(HERE, "data", "documents.parquet")
ORACLE_FILE = os.path.join(HERE, "near_dup_oracle.json")
QUERIES = ("minhash_near_dup_clusters", "dedup_minhash_pairs")
SUBSET_DOCS = 2_000
SUBSET_SEED = 20_251_016


def corpus_digest(df) -> str:
    h = hashlib.sha256()
    for doc_id, text in sorted(zip(df["doc_id"], df["text"])):
        h.update(f"{doc_id}\t{text}\n".encode())
    return h.hexdigest()


def oracle_digest(oracles: dict[str, str]) -> str:
    return hashlib.sha256("\n".join(oracles[q] for q in QUERIES).encode()).hexdigest()


def _shingles(text: str) -> frozenset[str]:
    """The oracle's 3-shingle set: ``string_split(text, ' ')`` windows."""
    t = text.split(" ")
    if len(t) < 3:
        return frozenset([" ".join(t)])
    return frozenset(" ".join(t[i : i + 3]) for i in range(len(t) - 2))


def near_dup_ids(docs, min_jaccard: float = 0.5) -> set[int]:
    """Ids of docs with a partner at 3-shingle Jaccard >= ``min_jaccard``."""
    sets = dict(zip(docs["doc_id"], (_shingles(t) for t in docs["text"])))
    index: dict[str, list[int]] = collections.defaultdict(list)
    for doc_id, s in sets.items():
        for sh in s:
            index[sh].append(doc_id)
    out: set[int] = set()
    for doc_id, s in sets.items():
        shared = collections.Counter(o for sh in s for o in index[sh] if o > doc_id)
        for other, n in shared.items():
            if n / (len(s) + len(sets[other]) - n) >= min_jaccard:
                out.update((doc_id, other))
    return out


def subset(source):
    """The fixed near_dup corpus: planted near-dups plus a seeded sample."""
    dups = near_dup_ids(source)
    rest = sorted(set(source["doc_id"]) - dups)
    keep = dups | set(random.Random(SUBSET_SEED).sample(rest, SUBSET_DOCS - len(dups)))
    return source[source["doc_id"].isin(keep)].sort_values("doc_id").reset_index(drop=True)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    root = os.getcwd()
    sys.path.insert(0, root)
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    corpus = subset(pd.read_parquet(argv[0]))
    os.makedirs(os.path.dirname(CORPUS_FILE), exist_ok=True)
    corpus.to_parquet(CORPUS_FILE, index=False)
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(f"CREATE TABLE documents AS SELECT * FROM '{CORPUS_FILE}'")
    t0 = time.perf_counter()
    clusters = con.execute(oracles["minhash_near_dup_clusters"]).fetchall()
    pairs = con.execute(oracles["dedup_minhash_pairs"]).fetchall()
    seconds = time.perf_counter() - t0
    answer = {
        "corpus_sha256": corpus_digest(corpus),
        "oracle_sql_sha256": oracle_digest(oracles),
        "docs": len(corpus),
        "duckdb": duckdb.__version__,
        # singletons (cluster_key == own id) are implied and not stored
        "clusters": {str(d): k for d, k in clusters if k != str(d)},
        "pairs": [[a, b, j] for a, b, j in pairs],
    }
    with open(ORACLE_FILE, "w") as f:
        json.dump(answer, f, indent=0)
        f.write("\n")
    print(
        f"{len(corpus)} docs, {len(answer['clusters'])} in non-singleton clusters, "
        f"{len(pairs)} pairs; oracle took {seconds:.0f} s"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
