"""At-scale pairwise-F1 evidence (north-rule acceptance metric).

The pytest acceptance check runs at 600 docs; this tool runs the SAME
metric at bench scale (default 200k docs) with everything distributed:
the corpus is synthesized on executors with a truth column, the
pipeline runs end to end, and the labeled pair set is built in Spark —

  positives  every same-truth-entity pair (including ones blocking may
             have missed, so recall is measured against ground truth,
             not against the candidate generator);
  negatives  candidate pairs from the pipeline's own s4 blocking stage
             whose truth entities differ — exactly the "labeled pairs
             sharing the same blocking key" the acceptance criterion
             names (a same-block non-match the scorer must reject).

Usage: python tools/scale_f1_check.py [n_docs] [cores]
Prints one JSON line with precision/recall/f1 and pair counts.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    from entity_linking_spark import schema as S
    from entity_linking_spark.metrics import pairwise_prf, truth_labeled_pairs
    from entity_linking_spark.pipeline import run_pipeline
    from entity_linking_spark.session import get_spark
    from entity_linking_spark.sources import io

    spark = get_spark("scale-f1", cores=cores)
    n_entities = max(100, n_docs // 10)
    workdir = f"/tmp/el_scale_f1_{n_docs}"
    shutil.rmtree(workdir, ignore_errors=True)

    docs = S.synth_documents_spark(
        spark, n_docs, n_entities, with_truth_column=True
    )
    docs.write.mode("overwrite").parquet(f"{workdir}/docs_truth")
    docs = spark.read.parquet(f"{workdir}/docs_truth")
    kb = S.synth_kb(n_entities)
    aliases = spark.createDataFrame(S.kb_to_aliases(kb), schema=S.ALIASES_SCHEMA)

    clusters = run_pipeline(
        spark, docs.drop("truth_entity"), aliases, f"{workdir}/stages"
    )

    pairs = io.read_stage(spark, f"{workdir}/stages", "s4_pairs")
    labeled = truth_labeled_pairs(docs, pairs)
    prf = pairwise_prf(clusters, labeled)
    out = {"n_docs": n_docs, "n_entities": n_entities, "cores": cores}
    out.update(
        {k: (round(v, 6) if isinstance(v, float) else v) for k, v in prf.items()}
    )
    out["meets_0.99"] = prf["f1"] >= 0.99
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
