"""Seeded benchmark inputs, written to parquet before any timing.

The program under test only ever receives the parquet paths written here.
Inputs are produced without Spark, so the session the benchmark times
has run nothing before its first (cold) run.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracle


@dataclass
class ElInputs:
    docs_path: str
    aliases_path: str
    truth: pd.DataFrame  # url, entity (None for entity-free pages)
    n_docs: int


def _write(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # Spark reads parquet timestamps in microseconds, not pandas' nanoseconds
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)


def el_inputs(workdir: str, cache_dir: str, seed: int, n_docs: int, n_entities: int) -> ElInputs:
    """``schema.synth_documents`` corpus (entity pages plus ~3% planted
    near-duplicate copies) and the ``kb_to_aliases(synth_kb)`` alias table.

    The KB does not depend on the seed, so its alias table is built once
    per checkout and reused (building 10^5 entities takes seconds)."""
    from entity_linking_spark import schema as S

    docs = S.synth_documents(n_docs, n_entities, seed)
    truth = pd.DataFrame(docs.attrs.pop("truth"), columns=["url", "entity"])
    docs_path = os.path.join(workdir, "el_input", "documents.parquet")
    _write(docs, docs_path)

    aliases_path = os.path.join(cache_dir, f"aliases_{n_entities}_{_source_digest(S.__file__)}.parquet")
    if not os.path.exists(aliases_path):
        tmp = f"{aliases_path}.{os.getpid()}.tmp"
        _write(S.kb_to_aliases(S.synth_kb(n_entities)), tmp)
        os.replace(tmp, aliases_path)
    return ElInputs(docs_path, aliases_path, truth, len(docs))


def _source_digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


# Fewer files than cores, so the flagship's ``_spread`` repartitions on
# every seed: a seed-dependent file count would make the shuffle volume
# depend on the seed
NEAR_DUP_FILES = 3


def near_dup_inputs(workdir: str, seed: int) -> tuple[str, pd.DataFrame, dict]:
    """Write the fixed near_dup corpus (``perfbench/data``, a subset of the
    sf0.1 test documents) as ``<sf_dir>/documents.parquet/part-*.parquet``
    in a seed-chosen row order, split into NEAR_DUP_FILES files at
    seed-chosen cuts.
    Returns (sf_dir, corpus, recorded oracle answer); fails if the corpus
    or the ``oracle_sql()`` texts differ from the ones the answer was
    recorded for."""
    import __spark_entry__ as entry

    corpus = pd.read_parquet(oracle.CORPUS_FILE)
    with open(oracle.ORACLE_FILE) as f:
        answer = json.load(f)
    if answer["corpus_sha256"] != oracle.corpus_digest(corpus):
        raise RuntimeError("perfbench/data differs from the corpus of the recorded oracle answer")
    if answer["oracle_sql_sha256"] != oracle.oracle_digest(entry.oracle_sql()):
        raise RuntimeError("oracle_sql() text changed since the answer was recorded; rerun perfbench/oracle.py")
    rng = random.Random(seed)
    order = list(range(len(corpus)))
    rng.shuffle(order)
    cuts = sorted(rng.sample(range(1, len(order)), NEAR_DUP_FILES - 1))
    sf_dir = os.path.join(workdir, "near_dup_input")
    bounds = [0, *cuts, len(order)]
    for k in range(NEAR_DUP_FILES):
        part = corpus.iloc[order[bounds[k] : bounds[k + 1]]]
        _write(part, os.path.join(sf_dir, "documents.parquet", f"part-{k:05d}.parquet"))
    return sf_dir, corpus, answer
