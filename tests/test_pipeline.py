"""End-to-end pipeline: F1 acceptance + resume-from-checkpoint."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from entity_linking_spark import schema as S
from entity_linking_spark.metrics import pairwise_prf, truth_labeled_pairs
from entity_linking_spark.pipeline import run_pipeline
from entity_linking_spark.sources import io


@pytest.fixture(scope="module")
def fixtures(spark):
    return S.load_fixtures(spark, n_docs=600, n_entities=120)


@pytest.fixture(scope="module")
def workdir(spark, fixtures, tmp_path_factory):
    """Trie-path pipeline stages, built once per module BY THE FIXTURE:
    the downstream tests (lineage, resume, join-path identity) read these
    stage dirs, and building here keeps each of them runnable under any
    -k subset instead of silently depending on test_end_to_end_f1 having
    executed first."""
    d = str(tmp_path_factory.mktemp("el_e2e"))
    run_pipeline(spark, fixtures["documents"], fixtures["aliases"], d)
    return d


def test_end_to_end_f1(spark, fixtures, workdir):
    # resumes from the fixture's complete stages — resume identity is
    # itself asserted by test_resume_from_checkpoint below
    clusters = run_pipeline(
        spark, fixtures["documents"], fixtures["aliases"], workdir
    )
    prf = pairwise_prf(clusters, fixtures["labeled_pairs"])
    assert prf["f1"] >= 0.99, prf  # BASELINE.json acceptance metric
    assert prf["precision"] >= 0.99, prf
    assert prf["recall"] >= 0.99, prf


def test_truth_labeled_pairs(spark):
    """Positives are exactly the same-truth pairs (url_a < url_b, blocked
    or not); negatives only the candidate pairs with differing truth;
    urls with a NULL truth entity are in neither."""
    truth = spark.createDataFrame(
        [("u1", "A"), ("u2", "A"), ("u3", "A"), ("u4", "B"), ("u5", "B"),
         ("u6", "C"), ("u7", None), ("u8", None)],
        "url string, truth_entity string",
    )
    candidates = spark.createDataFrame(
        [("u1", "u2"), ("u1", "u4"), ("u4", "u5"), ("u5", "u6"),
         ("u6", "u7"), ("u7", "u8"), ("u2", "u8")],
        "url_a string, url_b string",
    )
    got = sorted(truth_labeled_pairs(truth, candidates).collect())
    assert got == [
        ("u1", "u2", True), ("u1", "u3", True), ("u1", "u4", False),
        ("u2", "u3", True), ("u4", "u5", True), ("u5", "u6", False),
    ]


def test_stage_metadata_lineage(workdir):
    meta = json.load(open(os.path.join(workdir, "s1_extract", "_STAGE.json")))
    assert meta["rows"] > 0
    assert meta["partitions"]  # per-partition lineage recorded
    assert "url" in meta["schema"]
    # build time is recorded next to the write time; s6 builds eagerly
    # (the CC fixpoint runs jobs inside build())
    assert io.stage_meta(workdir, "s6_clusters")["build_seconds"] > 0


def test_pipeline_jobs_keep_callers_job_group(spark, fixtures, tmp_path):
    """Every job of a run, those of the alias-collect and s1b helper
    threads included, belongs to the job group the caller set."""
    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()
    first = int(jvm_sc.dagScheduler().nextJobId())
    sc.setJobGroup("el-run", "el-run")
    try:
        run_pipeline(
            spark, fixtures["documents"], fixtures["aliases"], str(tmp_path), force=True
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jvm_sc.listenerBus().waitUntilEmpty()
    run_jobs = set(range(first, int(jvm_sc.dagScheduler().nextJobId())))
    in_group = set(sc.statusTracker().getJobIdsForGroup("el-run"))
    assert run_jobs
    assert sorted(run_jobs - in_group) == []


def test_resume_from_checkpoint(spark, fixtures, workdir):
    """Kill-and-rerun: wipe downstream stages, rerun, identical output."""
    before = {
        (r["url"], r["cluster_id"])
        for r in io.read_stage(spark, workdir, "s6_clusters").collect()
    }
    # simulate mid-pipeline death: stages 4..6 lost, 1..3 intact
    for stage in ("s4_pairs", "s5_scores", "s6_clusters"):
        shutil.rmtree(os.path.join(workdir, stage))
    clusters = run_pipeline(
        spark, fixtures["documents"], fixtures["aliases"], workdir
    )
    after = {(r["url"], r["cluster_id"]) for r in clusters.collect()}
    assert before == after


def test_pair_scores_clear_their_thresholds(spark, workdir):
    """Every s5 score sits well away from the threshold it is compared
    with, so float rounding in the similarity kernels (summation order,
    float32 vs double) cannot flip an edge or a near-dup decision."""
    from entity_linking_spark.operators import scoring

    margins = io.read_stage(spark, workdir, "s5_scores").agg(
        F.min(F.abs(F.col("cos_score") - scoring.DUP_COSINE_THRESHOLD)).alias("cos"),
        F.min(F.abs(F.col("score") - scoring.MATCH_THRESHOLD)).alias("score"),
        F.count("*").alias("n"),
    ).first()
    assert margins["n"] > 0
    assert margins["cos"] >= 1e-3, margins
    assert margins["score"] >= 1e-3, margins


def test_expected_clusters_match(spark, fixtures, workdir):
    """Predicted clustering equals the golden truth clustering exactly."""
    clusters = io.read_stage(spark, workdir, "s6_clusters")
    expected = fixtures["expected_clusters"]
    diff = clusters.exceptAll(expected).count() + expected.exceptAll(clusters).count()
    assert diff == 0


def test_connected_components_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """checkpoint_dir flag: reliable per-iteration checkpoints (survives
    executor loss on a real cluster) produce identical clusters."""
    from pyspark.sql import Row

    from entity_linking_spark.operators import cluster
    from entity_linking_spark.operators.cluster import connected_components

    # bound 0: star rounds, whose per-round checkpoints this test covers
    monkeypatch.setattr(cluster, "LOCAL_MAX_EDGES", 0)

    edges = spark.createDataFrame(
        [Row(url_a="a", url_b="b"), Row(url_a="b", url_b="c"),
         Row(url_a="x", url_b="y")]
    )
    verts = spark.createDataFrame([Row(url=u) for u in "abcxyz"])
    ckdir = str(tmp_path / "cc_ckpt")
    out = {
        r.url: r.cluster_id
        for r in connected_components(edges, verts, checkpoint_dir=ckdir).collect()
    }
    assert out == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "z"}
    import os
    assert os.listdir(ckdir), "reliable checkpoint dir must contain RDD data"


def test_embeddings_stage_written_and_reused(spark, fixtures, workdir):
    """S9 encodings table: (url, vec) is a first-class stage artifact and a
    resumed run reuses it without re-encoding (sidecar untouched)."""
    emb_meta = os.path.join(workdir, "s1b_embeddings", "_STAGE.json")
    assert os.path.exists(emb_meta)
    meta = json.load(open(emb_meta))
    assert meta["rows"] > 0 and "vec" in meta["schema"]
    mtime_before = os.path.getmtime(emb_meta)
    # lose only the downstream scoring/clustering stages, rerun
    for stage in ("s5_scores", "s6_clusters"):
        shutil.rmtree(os.path.join(workdir, stage))
    run_pipeline(spark, fixtures["documents"], fixtures["aliases"], workdir)
    assert os.path.getmtime(emb_meta) == mtime_before  # not re-encoded


def test_write_stage_empty_output(spark, tmp_path):
    """An empty stage output still writes a truthful sidecar (rows=0) —
    the footer-lineage fast path must not crash or lie when the parquet
    part files are empty or absent."""
    from pyspark.sql import functions as F

    df = spark.range(10).where(F.col("id") < 0)  # empty, known schema
    meta = io.write_stage(df, str(tmp_path), "s_empty")
    assert meta["rows"] == 0
    back = io.read_stage(spark, str(tmp_path), "s_empty")
    assert back.count() == 0
    assert io.stage_complete(str(tmp_path), "s_empty")


def _jobs_submitted(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_read_stage_runs_no_job(spark, tmp_path, monkeypatch):
    """read_stage takes format and schema from the sidecar, so reading a
    stage back submits no Spark job (schema inference would), for
    parquet, for ORC, and for an older sidecar that records the schema in
    its simpleString form; nested types round-trip through both forms,
    and the schema equals the inferred one."""
    from pyspark.sql.types import StructType

    root = str(tmp_path)

    def nested():
        return spark.range(5).selectExpr(
            "id",
            "cast(id AS string) AS url",
            "array(cast(id AS string), 'x') AS tokens",
            "map('a', cast(id AS double)) AS smap",
            "named_struct('n', id, 'v', array(cast(id AS float))) AS rec",
        )

    io.run_stage(spark, root, "s_pq", nested)
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "orc")
    io.run_stage(spark, root, "s_orc", nested)
    monkeypatch.delenv("SPARK_GRAFT_TABLE_FORMAT")
    # an older workdir: data plus a hand-written sidecar with the fields
    # (and simpleString schema) such sidecars recorded
    old = io.stage_path(root, "s_old")
    nested().write.parquet(old)
    with open(os.path.join(old, "_STAGE.json"), "w") as f:
        json.dump({"stage": "s_old", "format": "parquet", "rows": 5, "seconds": 0.1,
                   "partitions": {}, "schema": nested().schema.simpleString(),
                   "build_seconds": 0.1}, f)
    assert io.stage_meta(root, "s_old")["schema"] == nested().schema.simpleString()
    for name in ("s_pq", "s_orc"):
        recorded = json.loads(io.stage_meta(root, name)["schema"])
        assert StructType.fromJson(recorded) == nested().schema
    for name, fmt in (("s_pq", "parquet"), ("s_orc", "orc"), ("s_old", "parquet")):
        assert io.stage_meta(root, name)["format"] == fmt
        before = _jobs_submitted(spark)
        back = io.read_stage(spark, root, name)
        assert _jobs_submitted(spark) == before, name
        inferred = spark.read.format(fmt).load(io.stage_path(root, name)).schema
        assert back.schema == inferred, name
        assert sorted(r.id for r in back.select("id").collect()) == list(range(5))


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_stage_with_unquoted_field_names_resumes(spark, tmp_path, monkeypatch, fmt):
    """Field names that a simpleString schema leaves unquoted (space,
    colon, comma, also inside a struct) survive the sidecar: the stage
    resumes from its snapshot with the rows it wrote."""
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", fmt)
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).selectExpr(
            "id",
            "cast(id AS string) AS `a b`",
            "id AS `a:b`",
            "array(id) AS `a,b`",
            "named_struct('x y', id) AS rec",
        )

    want = sorted(map(tuple, io.run_stage(spark, str(tmp_path), "s", build).collect()))
    resumed = io.run_stage(spark, str(tmp_path), "s", build)
    assert len(calls) == 1
    assert resumed.columns == ["id", "a b", "a:b", "a,b", "rec"]
    assert sorted(map(tuple, resumed.collect())) == want
    assert want[2][1:4] == ("2", 2, [2])


def test_read_stage_lets_other_formats_resolve_their_schema(spark, tmp_path, monkeypatch):
    """Only parquet and orc reads are given the recorded schema: another
    format (a table format such as Iceberg rejects a user schema) loads
    without it."""
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "json")
    io.run_stage(spark, str(tmp_path), "s_json", lambda: spark.range(4))

    def no_schema(recorded):
        raise AssertionError("a json stage was given the recorded schema")

    monkeypatch.setattr(io, "_schema", no_schema)
    back = io.read_stage(spark, str(tmp_path), "s_json")
    assert io.stage_meta(str(tmp_path), "s_json")["format"] == "json"
    assert sorted(r.id for r in back.collect()) == [0, 1, 2, 3]


def test_run_stage_writes_sidecar_once(spark, tmp_path, monkeypatch):
    """One stage write makes one sidecar write, build_seconds included."""
    writes = []
    sidecar_write = io._sidecar_write

    def counted(path, meta):
        writes.append(meta)
        sidecar_write(path, meta)

    monkeypatch.setattr(io, "_sidecar_write", counted)
    io.run_stage(spark, str(tmp_path), "s_once", lambda: spark.range(3))
    assert len(writes) == 1
    assert "build_seconds" in writes[0]
    assert io.stage_meta(str(tmp_path), "s_once") == writes[0]


def test_stage_format_seam_orc(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_TABLE_FORMAT routes every stage save/load through the
    named DataSource. ORC is the second real columnar format in this
    container (no Iceberg runtime ships here), so it proves the seam a
    real cluster uses for "iceberg": write, sidecar via the
    format-agnostic lineage fallback, skip-if-exists resume, read-back.
    """
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "orc")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).selectExpr("id", "id * 2 AS dbl")

    out = io.run_stage(spark, str(tmp_path), "s_orc", build)
    assert out.count() == 100
    assert any(not f.startswith("_") for f in os.listdir(tmp_path / "s_orc"))
    assert not list((tmp_path / "s_orc").glob("*.parquet"))  # really orc
    meta = io.stage_meta(str(tmp_path), "s_orc")
    assert meta["rows"] == 100  # Spark read-back fallback counted rows
    # resume: second run must skip the build entirely
    again = io.run_stage(spark, str(tmp_path), "s_orc", build)
    assert calls["n"] == 1
    assert again.count() == 100


def test_stage_resume_survives_format_switch(spark, tmp_path, monkeypatch):
    """A workdir written under one SPARK_GRAFT_TABLE_FORMAT must resume
    correctly after the env var changes: the sidecar records the format
    at write time and read_stage prefers it, so a parquet snapshot is
    never fed to the ORC reader (which would die on a malformed footer
    mid-'resumable' run)."""
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(50).selectExpr("id", "id * 3 AS trip")

    monkeypatch.delenv("SPARK_GRAFT_TABLE_FORMAT", raising=False)
    io.run_stage(spark, str(tmp_path), "s_fmt", build)  # parquet write
    assert io.stage_meta(str(tmp_path), "s_fmt")["format"] == "parquet"
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "orc")
    resumed = io.run_stage(spark, str(tmp_path), "s_fmt", build)
    assert calls["n"] == 1  # skipped, not rebuilt
    assert resumed.count() == 50  # and read with the RECORDED format


def test_stage_io_scheme_qualified_workdir(spark, tmp_path):
    """A scheme-qualified workdir exercises the pyarrow.fs branch for
    EVERY sidecar operation (write, skip-if-exists probe, meta read,
    footer lineage) — file:// locally stands in for s3://; the code path
    is identical (FileSystem.from_uri)."""
    root = "file://" + str(tmp_path)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(40).selectExpr("id", "id + 1 AS nxt")

    out = io.run_stage(spark, root, "s_remote", build)
    assert out.count() == 40
    meta = io.stage_meta(root, "s_remote")
    assert meta["rows"] == 40 and meta["partitions"]  # footer lineage ran
    assert io.stage_complete(root, "s_remote")
    again = io.run_stage(spark, root, "s_remote", build)
    assert calls["n"] == 1 and again.count() == 40  # remote resume works


def test_pipeline_join_mention_path_identical(spark, fixtures, workdir, monkeypatch):
    """Force the beyond-broadcast join-based mention path
    (ALIAS_BROADCAST_MAX_ROWS=0) in a FRESH workdir: the s2 mentions
    stage and the final clustering must be byte-identical to the trie
    path's (the `workdir` fixture ran the trie path), and F1 stays at
    the acceptance bar — proving pipeline.py no longer NEEDS the
    driver-side alias collect."""
    import tempfile

    from entity_linking_spark.operators import blocking

    monkeypatch.setattr(blocking, "ALIAS_BROADCAST_MAX_ROWS", 0)
    jd = tempfile.mkdtemp(prefix="el_joinpath_")
    try:
        clusters = run_pipeline(spark, fixtures["documents"], fixtures["aliases"], jd)
        m_trie = {
            tuple(r) for r in io.read_stage(spark, workdir, "s2_mentions").collect()
        }
        m_join = {tuple(r) for r in io.read_stage(spark, jd, "s2_mentions").collect()}
        assert m_trie == m_join and len(m_join) > 0
        c_trie = {
            (r["url"], r["cluster_id"])
            for r in io.read_stage(spark, workdir, "s6_clusters").collect()
        }
        c_join = {(r["url"], r["cluster_id"]) for r in clusters.collect()}
        assert c_trie == c_join
        prf = pairwise_prf(clusters, fixtures["labeled_pairs"])
        assert prf["f1"] >= 0.99, prf
    finally:
        shutil.rmtree(jd, ignore_errors=True)


def test_pipeline_auto_flips_to_join_path(spark, fixtures, monkeypatch):
    """With a parquet-backed alias table whose FOOTER row count exceeds
    ALIAS_BROADCAST_MAX_ROWS, the pipeline must take the join path
    without ever touching the trie matcher or collecting aliases —
    asserted by making the trie entrypoint explode if called."""
    import tempfile

    from entity_linking_spark.operators import blocking

    def _boom(*a, **k):
        raise AssertionError("trie path used despite beyond-broadcast aliases")

    monkeypatch.setattr(blocking, "detect_mentions", _boom)
    monkeypatch.setattr(blocking, "ALIAS_BROADCAST_MAX_ROWS", 10)  # footer estimate is far larger
    jd = tempfile.mkdtemp(prefix="el_autoflip_")
    ad = tempfile.mkdtemp(prefix="el_autoflip_aliases_")
    try:
        fixtures["aliases"].write.mode("overwrite").parquet(ad)
        aliases_pq = spark.read.parquet(ad)
        clusters = run_pipeline(spark, fixtures["documents"], aliases_pq, jd)
        prf = pairwise_prf(clusters, fixtures["labeled_pairs"])
        assert prf["f1"] >= 0.99, prf
    finally:
        shutil.rmtree(jd, ignore_errors=True)
        shutil.rmtree(ad, ignore_errors=True)
