"""Checkpointed stage IO: resume-from-checkpoint with lineage metrics.

The reference pickles every stage's output and skips recompute when the
file exists (process_wiki_extractor_output.py:33-35, enrich_data.py:27-29
— SURVEY §2.1 S7). Here each stage writes a columnar snapshot plus a
_STAGE.json sidecar carrying row counts, per-partition lineage, the
format and the schema, written once per stage; a rerun skips any stage
whose snapshot is complete. Kill-and-rerun therefore resumes
mid-pipeline — the north-rule resumability requirement.

Reads take the format from the sidecar. For the file formats (parquet,
orc) they also take the schema from it, so reading a stage back runs no
Spark job (inferring the schema from the files would run one per read);
other formats load without a user schema, since a table format such as
Iceberg reads its schema from table metadata and rejects a given one.

The snapshot FORMAT is pluggable via SPARK_GRAFT_TABLE_FORMAT: parquet
(default) and orc are exercised in this container's test suite; on a
real cluster with iceberg-spark-runtime on the classpath and a catalog
configured, "iceberg" routes the same save/load path through Iceberg's
DataSource (path-based Hadoop tables), which is the north-star's
"every stage checkpointed to Iceberg" contract — no Iceberg runtime jar
ships in this sandbox, so that branch cannot be exercised here and the
tested evidence is the format seam itself (two real formats + the
format-agnostic lineage fallback).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DataType, StructType

from entity_linking_spark import runtime

_META = "_STAGE.json"


def stage_format() -> str:
    """Stage snapshot format for NEW writes (read per call so harnesses
    can switch). Reads never use it: write_stage records the format in
    the sidecar and read_stage uses the recorded value, so resuming a
    workdir under a different SPARK_GRAFT_TABLE_FORMAT reads existing
    snapshots with the DataSource that actually wrote them."""
    return os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")


def stage_path(root: str, name: str) -> str:
    return os.path.join(root, name)


# Every sidecar operation goes through runtime.resolve_fs, so resume
# and lineage work end-to-end on a scheme-qualified workdir (s3://,
# hdfs://), not just the parquet-footer reads. (Spark's own writer
# already handles remote stage data via its Hadoop filesystems.)


def _sidecar_write(path: str, meta: dict) -> None:
    filesystem, p = runtime.resolve_fs(path)
    with filesystem.open_output_stream(p) as f:
        f.write(json.dumps(meta, indent=1).encode())


def _sidecar_read(path: str) -> dict:
    filesystem, p = runtime.resolve_fs(path)
    with filesystem.open_input_file(p) as f:
        return json.loads(f.read())


def stage_complete(root: str, name: str) -> bool:
    from pyarrow import fs as pafs

    filesystem, p = runtime.resolve_fs(os.path.join(stage_path(root, name), _META))
    return filesystem.get_file_info(p).type != pafs.FileType.NotFound


def write_stage(df: DataFrame, root: str, name: str, build_seconds: float | None = None) -> dict:
    """Materialize a stage snapshot + lineage metrics sidecar, written
    once. ``build_seconds`` (how long building ``df`` took) is recorded
    when given."""
    path = stage_path(root, name)
    t0 = time.time()
    fmt = stage_format()
    df.write.mode("overwrite").format(fmt).save(path)
    spark = df.sparkSession
    try:
        # per-file rows from the parquet footers, no Spark job
        per_partition = runtime.parquet_rows(path)
    except Exception:  # noqa: BLE001 — non-parquet format, or remote FS
        # format-agnostic fallback: one Spark read-back job (orc/iceberg
        # snapshots, or parquet on a filesystem pyarrow lacks creds for)
        per_partition = {
            str(r["partition"]): r["count"]
            for r in spark.read.format(fmt)
            .load(path)
            .groupBy(F.spark_partition_id().alias("partition"))
            .count()
            .collect()
        }
    meta = {
        "stage": name,
        "format": fmt,
        "rows": sum(per_partition.values()),
        "seconds": round(time.time() - t0, 3),
        "partitions": per_partition,
        "schema": df.schema.json(),
    }
    if build_seconds is not None:
        meta["build_seconds"] = build_seconds
    _sidecar_write(os.path.join(path, _META), meta)
    return meta


def read_stage(spark: SparkSession, root: str, name: str) -> DataFrame:
    """The stage snapshot, read with the format its sidecar recorded at
    write time, so a workdir written under one SPARK_GRAFT_TABLE_FORMAT
    resumes under another. Parquet and orc snapshots are also given the
    recorded schema, so the read runs no schema-inference job; other
    formats resolve their own schema."""
    meta = stage_meta(root, name)
    reader = spark.read.format(meta["format"])
    if meta["format"] in ("parquet", "orc"):
        reader = reader.schema(_schema(meta["schema"]))
    return reader.load(stage_path(root, name))


def _schema(recorded: str) -> DataType:
    """The sidecar's schema: JSON, which round-trips any field name, or
    the ``simpleString`` form that older sidecars carry (``fromDDL``
    parses it; ``DataFrameReader.schema(str)`` does not)."""
    if recorded.startswith("{"):
        return StructType.fromJson(json.loads(recorded))
    return DataType.fromDDL(recorded)


def stage_meta(root: str, name: str) -> dict:
    """The _STAGE.json sidecar (rows / seconds / per-partition lineage) —
    lets callers answer "how many rows did stage X emit" without a Spark
    job over the snapshot."""
    return _sidecar_read(os.path.join(stage_path(root, name), _META))


def run_stage(
    spark: SparkSession,
    root: str,
    name: str,
    build: Callable[[], DataFrame],
    force: bool = False,
) -> DataFrame:
    """Skip-if-exists stage runner (the resume-from-checkpoint primitive).
    The sidecar also records ``build_seconds``: the ``build()`` call,
    eager jobs such as the CC fixpoint included."""
    if not force and stage_complete(root, name):
        return read_stage(spark, root, name)
    t0 = time.time()
    df = build()
    write_stage(df, root, name, round(time.time() - t0, 3))
    return read_stage(spark, root, name)
