"""The three workloads: timed calls into the library plus output checks.

A workload object prepares fresh state before each timed call
(``prepare``), makes the call (``call``), and checks the output
(``check``, untimed). ``traced`` repeats one call with spans and job
groups and returns the per-layer metrics.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq

from perfbench import tracing
from perfbench.inputs import ElInputs


class CheckFailed(Exception):
    pass


def _pairwise_f1(tp: int, fp: int, fn: int) -> float:
    return 2 * tp / (2 * tp + fp + fn) if tp else 0.0


def _same_cluster_pairs(labels: pd.Series, groups: pd.Series) -> int:
    """Pairs of rows that share both ``groups`` and ``labels``."""
    n = pd.DataFrame({"g": groups.values, "l": labels.values}).groupby(["g", "l"]).size()
    return int((n * (n - 1) // 2).sum())


class ElWorkload:
    """``pipeline.run_pipeline`` from parquet paths to (url, cluster_id),
    starting from an empty stage workdir every time. ``spark`` is set by
    the caller for each session."""

    layers = tracing.EL_LAYERS

    def __init__(self, inputs: ElInputs, workdir: str, min_f1: float):
        self.spark = None
        self.inputs, self.min_f1 = inputs, min_f1
        self.stages = os.path.join(workdir, "stages")
        self.n_docs = inputs.n_docs
        self.digest: str | None = None
        self._docs = self._aliases = None
        self._t0 = 0.0

    def prepare(self) -> None:
        """Empty stage workdir, no cached frames, and the two input tables
        opened (their schema reads are jobs of their own, not the
        pipeline's)."""
        shutil.rmtree(self.stages, ignore_errors=True)
        self.spark.catalog.clearCache()
        self._docs = self.spark.read.parquet(self.inputs.docs_path)
        self._aliases = self.spark.read.parquet(self.inputs.aliases_path)
        self._t0 = time.time()

    def call(self) -> None:
        from entity_linking_spark.pipeline import run_pipeline

        run_pipeline(self.spark, self._docs, self._aliases, self.stages)

    def _stage(self, name: str, columns: list[str]) -> pd.DataFrame:
        return pq.read_table(os.path.join(self.stages, name), columns=columns).to_pandas()

    def sidecar(self, name: str) -> dict:
        with open(os.path.join(self.stages, name, "_STAGE.json")) as f:
            return json.load(f)

    def check(self, _result) -> float:
        """Raise CheckFailed unless the run wrote all seven stages, gave
        one row per input url, matched the assignment digest of the first
        call of this process and reached ``min_f1``; returns the pairwise
        F1."""
        for name in tracing.EL_STAGES:
            path = os.path.join(self.stages, name, "_STAGE.json")
            if not os.path.exists(path) or os.path.getmtime(path) < self._t0 - 1:
                raise CheckFailed(f"stage {name} was not written during this run")
        out = self._stage("s6_clusters", ["url", "cluster_id"])
        truth = self.inputs.truth
        if len(out) != len(truth) or set(out["url"]) != set(truth["url"]):
            raise CheckFailed(f"{len(out)} output rows for {len(truth)} input urls")
        rows = sorted(zip(out["url"], out["cluster_id"]))
        digest = hashlib.sha256("\n".join(f"{u}\t{c}" for u, c in rows).encode()).hexdigest()
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            raise CheckFailed("cluster assignment differs from the first call of this seed")
        f1 = self._f1(out)
        if f1 < self.min_f1:
            raise CheckFailed(f"pairwise F1 {f1:.6f} below the floor {self.min_f1}")
        return f1

    def _f1(self, clusters: pd.DataFrame) -> float:
        """tools/scale_f1_check.py's construction: positives are every
        same-entity pair of the planted truth, negatives the pipeline's own
        s4 candidate pairs whose planted entities differ."""
        cid = clusters.set_index("url")["cluster_id"]
        known = self.inputs.truth.dropna(subset=["entity"])
        ent = known.set_index("url")["entity"]
        sizes = known.groupby("entity").size()
        positives = int((sizes * (sizes - 1) // 2).sum())
        tp = _same_cluster_pairs(known["url"].map(cid), known["entity"])
        pairs = self._stage("s4_pairs", ["url_a", "url_b"])
        ea, eb = pairs["url_a"].map(ent), pairs["url_b"].map(ent)
        neg = pairs[ea.notna() & eb.notna() & (ea != eb)]
        fp = int((neg["url_a"].map(cid).values == neg["url_b"].map(cid).values).sum())
        return _pairwise_f1(tp, fp, positives - tp)

    def traced(self, tracer: tracing.Tracer) -> dict:
        with tracing.patched(tracing.el_patches(tracer)):
            self.call()
        rows = {name: self.sidecar(name)["rows"] for name in tracing.EL_STAGES}
        out = {f"{layer}.rows_out": rows[name] for name, layer in tracing.EL_STAGES.items()}
        threshold = _match_threshold()
        edges = int((self._stage("s5_scores", ["score"])["score"] >= threshold).sum())
        docs = rows["s1_extract"]
        out["blocking.s2.mentions_per_doc"] = rows["s2_mentions"] / docs
        out["blocking.s4.pairs_per_doc"] = rows["s4_pairs"] / docs
        out["scoring.s5.match_rate"] = edges / rows["s4_pairs"] if rows["s4_pairs"] else 0.0
        return out


def _match_threshold() -> float:
    from entity_linking_spark.operators import scoring

    return scoring.MATCH_THRESHOLD


class NearDupWorkload:
    """The flagship ``__spark_entry__._doc_clusters`` followed by
    ``plans.queries.dedup_minhash_pairs``, both collected, checked against
    the recorded DuckDB answer of their ``oracle_sql()`` texts. That answer
    does not depend on the seed, so passing the check on every seed is the
    order-independence check: only row order and file split differ."""

    layers = tracing.ND_LAYERS

    def __init__(self, sf_dir: str, corpus: pd.DataFrame, answer: dict):
        self.spark = None
        self.sf_dir = sf_dir
        self.n_docs = len(corpus)
        self.expected_clusters = {d: answer["clusters"].get(str(d), str(d)) for d in corpus["doc_id"]}
        self.expected_pairs = sorted((a, b, round(j, 4)) for a, b, j in answer["pairs"])

    def prepare(self) -> None:
        from entity_linking_spark.plans import queries as Q

        Q._release_live_caches()
        self.spark.catalog.clearCache()

    def call(self):
        import __spark_entry__ as entry
        from entity_linking_spark.plans import queries as Q

        clusters = entry._doc_clusters(self.spark, self.sf_dir).collect()
        pairs = Q.dedup_minhash_pairs(self.spark, self.sf_dir).collect()
        return clusters, pairs

    def check(self, result) -> float:
        """Raise CheckFailed unless both outputs equal the oracle; returns
        the pairwise F1 of the clusters against the oracle's (1.0)."""
        clusters, pairs = result
        got = {int(r["doc_id"]): r["cluster_key"] for r in clusters}
        if len(got) != len(clusters) or got != self.expected_clusters:
            wrong = sum(got.get(d) != k for d, k in self.expected_clusters.items())
            raise CheckFailed(f"flagship clusters differ from the oracle on {wrong} docs")
        got_pairs = sorted((int(r["url_a"]), int(r["url_b"]), round(r["jaccard"], 4)) for r in pairs)
        if got_pairs != self.expected_pairs:
            raise CheckFailed(f"{len(got_pairs)} exact pairs vs {len(self.expected_pairs)} in the oracle")
        return 1.0
    def traced(self, tracer: tracing.Tracer) -> dict:
        import __spark_entry__ as entry
        from entity_linking_spark.plans import queries as Q

        pinned: list = []
        try:
            with tracing.patched(tracing.near_dup_patches(tracer, pinned)):
                # the flagship opens its input (a schema-read job) before
                # its first step; that job counts to the featurize step,
                # whose span hands the thread back to UNATTRIBUTED
                self.spark.sparkContext.setJobGroup("dedup.featurize", "dedup.featurize")
                flagship = entry._doc_clusters(self.spark, self.sf_dir)
                with tracer.span("cluster.cc"):
                    clusters = flagship.collect()
                with tracer.span("dedup.exact_pairs") as rec:
                    t0 = time.perf_counter()
                    df = Q.dedup_minhash_pairs(self.spark, self.sf_dir)
                    rec["build_s"] += time.perf_counter() - t0
                    pairs = df.collect()
                    rec["rows_out"] += len(pairs)
        finally:
            for df in pinned:
                df.unpersist(False)
        self.check((clusters, pairs))
        if "exact_candidates" not in tracer.facts:
            raise RuntimeError("dedup_minhash_pairs made no blocking.candidate_pairs call to count")
        candidates = tracer.facts["exact_candidates"]
        return {"dedup.exact_pairs.verify_rate": len(pairs) / candidates if candidates else 0.0}
