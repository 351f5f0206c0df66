"""Integration: the full corpus-production path curate -> mix -> pack.

Pins the D11 -> D12 -> D13 composition, including its one real
schema wrinkle: weighted_mix emits REPLICA rows sharing a doc_id
(distinguished by the `copy` ordinal), while pack_sequences requires
unique ids for its deterministic order — so the assembly step must
synthesize a composite id (here xxhash64(doc_id, copy)) before packing.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from entity_linking_spark.curation import curate_corpus
from entity_linking_spark.operators.mixing import weighted_mix
from entity_linking_spark.operators.packing import pack_sequences


@pytest.fixture(scope="module")
def assembled(spark):
    # forged corpus: 400 docs across two domains, with enough clean
    # long-form text to survive every curation gate (six lines of their
    # own words, so the repetition gate passes them too); every 10th doc
    # an exact duplicate of its predecessor so dedup does real work
    def line(n):
        words = F.transform(
            F.sequence(F.lit(1), F.lit(18)),
            lambda i: F.concat(
                F.lit("word"), F.pmod(F.xxhash64(F.col("id"), F.lit(n), i), F.lit(4000))
            ),
        )
        return F.concat_ws(" ", words, F.lit("and that is the point."))

    base = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("web")).otherwise(F.lit("books")).alias("domain"),
        F.concat_ws("\n", *[line(n) for n in range(6)]).alias("text"),
    ).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 9,
            F.lag("text").over(Window.orderBy("doc_id")),
        ).otherwise(F.col("text")),
    )
    curated, stats = curate_corpus(base, with_stats=True)
    curated = curated.persist()
    mixed = weighted_mix(curated, {"web": 0.5, "books": 2.0}).withColumn(
        "pack_id", F.xxhash64("doc_id", "copy")
    )
    packed = pack_sequences(
        mixed.select(F.col("pack_id").alias("doc_id"), "text"), 64
    )
    return curated, stats, mixed.persist(), packed


def test_assembly_curation_did_work(assembled):
    curated, stats, mixed, _ = assembled
    by = {s["stage"]: s for s in stats}
    assert list(by) == [
        "c4_line_clean", "gopher_quality", "gopher_repetition",
        "exact_dedup", "near_dup", "redact_pii",
    ]
    # the exact-dup plants were removed, nothing else from this forge
    assert by["exact_dedup"]["rows_in"] > by["exact_dedup"]["rows_out"]
    assert all(
        s["rows_in"] == s["rows_out"] for s in stats if s["stage"] != "exact_dedup"
    )
    assert curated.count() == by[list(by)[-1]]["rows_out"]


def test_assembly_mix_replicates_and_downsamples(assembled):
    curated, _, mixed, _ = assembled
    n_books = curated.where("domain = 'books'").count()
    # weight 2.0: every books doc appears exactly twice
    assert mixed.where("domain = 'books'").count() == 2 * n_books
    # weight 0.5: web docs appear at most once, roughly half survive
    web = mixed.where("domain = 'web'").count()
    assert 0 < web < curated.where("domain = 'web'").count()
    # composite pack ids are unique even across replicas
    assert mixed.select("pack_id").distinct().count() == mixed.count()


def test_assembly_packing_invariants(assembled):
    _, _, mixed, packed = assembled
    total = mixed.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).collect()[0].t
    per_seq = {
        r.seq_id: r.n
        for r in packed.groupBy("seq_id")
        .agg(F.sum("slice_len").alias("n"))
        .collect()
    }
    assert set(per_seq) == set(range(total // 64))
    assert all(v == 64 for v in per_seq.values())
